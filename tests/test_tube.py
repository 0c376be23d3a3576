import numpy as np
import pytest
from pyspark.sql import functions as F

from tabata_spark.core.signalset import SignalSet
from tabata_spark.ml.tube import Tube, app_tube


@pytest.fixture(scope="module")
def fitted_tube(spark, sset):
    tube = Tube(sset, seed=42)
    tube.variables = {"Tisa[K]"}
    tube.factors = {"ALT[m]", "TAS[m/s]", "Masse[kg]", "Tisa[K]"}
    tube.learn_params = dict(
        retry_number=6, keep_best_number=3, samples_percent=0.05, max_features=3
    )
    tube.tube_params = dict(tube_factor=10.0, filter_width=10)
    return tube.fit()


def test_fit_population(fitted_tube):
    pop = fitted_tube._reg["Tisa[K]"]
    assert 1 <= len(pop) <= 3
    # Tisa is ~linear in ALT: the ensemble should find strong fits
    assert max(r2 for _, _, r2 in pop) > 0.9
    for _, coefs, _ in pop:
        assert 1 <= len(coefs) <= 3
        assert "Tisa[K]" not in coefs  # target never a factor


def test_estimate_bounds_order(fitted_tube):
    est = fitted_tube.estimate_frame("Tisa[K]")
    n = est.count()
    ok = est.filter(
        (F.col("zmin") <= F.col("z") + 1e-6) & (F.col("z") <= F.col("zmax") + 1e-6)
    ).count()
    # SG smoothing of the bounds can locally cross z near edges
    assert ok / n > 0.95


def test_estimate_unknown_target_nan(fitted_tube):
    est = fitted_tube.estimate_frame("ALT[m]")
    row = est.select("z", "zmin", "zmax").first()
    assert all(np.isnan(row[c]) for c in ("z", "zmin", "zmax"))


def test_scores_detect_anomaly(spark, flights, fitted_tube):
    # shift Tisa massively on one record -> its out-of-tube fraction
    # must dwarf the clean records' (tube width is set by ensemble
    # spread x tube_factor, so assertions are relative, not absolute)
    bad = {k: v.copy() for k, v in flights.items()}
    name = sorted(bad)[0]
    bad[name]["Tisa[K]"] = bad[name]["Tisa[K]"] + 200.0
    corrupted = SignalSet.from_records(spark, bad)
    scr = {
        r["record_id"]: r
        for r in fitted_tube.scores(corrupted.df).collect()
    }
    frac_bad = scr[name]["score_Tisa[K]"] / scr[name]["N"]
    others = [
        scr[k]["score_Tisa[K]"] / scr[k]["N"] for k in scr if k != name
    ]
    assert frac_bad > 0.8
    assert frac_bad > 3 * max(np.median(others), 0.01)


def test_scores_self_consistent(fitted_tube):
    # scores() must equal a direct recount over estimate_frame
    est = fitted_tube.estimate_frame("Tisa[K]")
    y = F.col("`Tisa[K]`")
    direct = {
        r["record_id"]: r["s"]
        for r in est.groupBy("record_id")
        .agg(F.count(F.when((y > F.col("zmax")) | (y < F.col("zmin")), 1)).alias("s"))
        .collect()
    }
    scr = {r["record_id"]: r["score_Tisa[K]"] for r in fitted_tube.scores().collect()}
    assert scr == direct


def test_app_tube_overlay(fitted_tube, sset):
    out = app_tube(sset, fitted_tube, "Tisa[K]")
    assert {"z", "zmin", "zmax"} <= set(out.columns)
    assert out.count() == sset.df.count()


def test_describe_counts(fitted_tube):
    d = fitted_tube.describe()["Tisa[K]"]
    assert sum(d.values()) >= 1


def test_scores_with_wide_filter(fitted_tube):
    """filter_width=40 smooths the bounds with an 81-wide SG filter
    written back into zmin/zmax — the bounds are replaced in place, so
    scores() resolves them unambiguously and still covers every row."""
    import copy

    tube = copy.copy(fitted_tube)
    tube.tube_params = dict(fitted_tube.tube_params, filter_width=40)
    est = tube.estimate_frame("Tisa[K]")
    assert est.columns.count("zmin") == 1 and est.columns.count("zmax") == 1
    rows = tube.scores().collect()
    assert sorted(r["record_id"] for r in rows) == sorted(tube.sset.records)
    assert all(0 <= r["score_Tisa[K]"] <= r["N"] for r in rows)


# ---------------------------------------------------- MLlib as the oracle


def _mllib_population(tube, target):
    """The regression population as the Tube built it with MLlib: per
    draw a LinearRegression fit on the train rows and a
    RegressionEvaluator R² on the test rows of the same cached base,
    then keep-best with early stop. Returns (population, base)."""
    import random

    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    from tabata_spark.ml.tube import _with_synthetic

    lp = tube.learn_params
    cols = tube._candidate_factors(target)
    rng = random.Random(f"{tube.seed}:{target}")
    p = lp["samples_percent"]
    base = _with_synthetic(tube.sset.df, target).select(
        "record_id", "seq", F.col(f"`{target}`").alias("__y"),
        *[F.col(f"`{c}`").alias(c) for c in cols],
    ).cache()
    evaluator = RegressionEvaluator(labelCol="__y", predictionCol="prediction", metricName="r2")
    pop, miss = [], 0
    for i in range(lp["retry_number"]):
        k = min(rng.randint(1, len(cols)), lp["max_features"], len(cols))
        cc = rng.sample(cols, k)
        tagged = base.withColumn("__u", F.rand(seed=tube.seed * 1000 + i))
        train = tagged.filter(F.col("__u") < p)
        test = tagged.filter((F.col("__u") >= p) & (F.col("__u") < 2 * p))
        asm = VectorAssembler(inputCols=cc, outputCol="features")
        model = LinearRegression(featuresCol="features", labelCol="__y").fit(
            asm.transform(train).select("features", "__y")
        )
        r2 = evaluator.evaluate(model.transform(asm.transform(test).select("features", "__y")))
        entry = (model.intercept, dict(zip(cc, model.coefficients.toArray().tolist())), r2)
        if i < lp["keep_best_number"]:
            pop.append(entry)
        else:
            worst = min(range(len(pop)), key=lambda j: pop[j][2])
            if r2 > pop[worst][2]:
                pop[worst] = entry
                miss = 0
            else:
                miss += 1
                if miss == lp["keep_best_number"]:
                    break
    return pop, base


@pytest.mark.parametrize(
    "target,factors,learn",
    [
        ("Tisa[K]", {"ALT[m]", "TAS[m/s]", "Masse[kg]"},
         dict(retry_number=6, keep_best_number=3, samples_percent=0.05, max_features=3)),
        ("ALT[m]", {"Tisa[K]", "TAS[m/s]", "Vz[m/s]", "Masse[kg]"},
         dict(retry_number=4, keep_best_number=2, samples_percent=0.002, max_features=2)),
        # one factor of mean/std ~ 200: raw normal equations lose digits
        ("Tisa[K]", {"Masse[kg]"},
         dict(retry_number=3, keep_best_number=2, samples_percent=0.05, max_features=1)),
    ],
    ids=["three_factors", "samples_0.002", "ill_conditioned"],
)
def test_population_matches_mllib(sset, target, factors, learn):
    tube = Tube(sset, seed=42)
    tube.variables = {target}
    tube.factors = factors | {target}
    tube.learn_params = learn
    want, base = _mllib_population(tube, target)
    try:
        got = tube.build_tube(target)
    finally:
        base.unpersist()
    assert [list(c) for _, c, _ in got] == [list(c) for _, c, _ in want]
    for (b0, coefs, r2), (w0, wcoefs, wr2) in zip(got, want):
        assert b0 == pytest.approx(w0, rel=1e-8)
        assert r2 == pytest.approx(wr2, rel=1e-8)
        for c in coefs:
            assert coefs[c] == pytest.approx(wcoefs[c], rel=1e-8)


def test_rank_deficient_draw_is_min_norm(spark, flights):
    """Two collinear factors (ALT2 = 2·ALT): the draw that takes both
    must not raise; it gets the minimum-norm solution, which splits
    the slope evenly over the standardized factors and fits its train
    rows as well as ALT alone does."""
    from tabata_spark.ml.tube import _with_synthetic

    recs = {k: v.assign(**{"ALT2[m]": 2.0 * v["ALT[m]"]}) for k, v in flights.items()}
    tube = Tube(SignalSet.from_records(spark, recs), seed=42)
    tube.variables = {"Tisa[K]"}
    tube.factors = {"ALT[m]", "ALT2[m]"}
    p = 0.05
    tube.learn_params = dict(retry_number=4, keep_best_number=4, samples_percent=p, max_features=2)
    base = _with_synthetic(tube.sset.df, "Tisa[K]").select(
        "record_id", "seq", F.col("`Tisa[K]`").alias("__y"), "`ALT[m]`", "`ALT2[m]`"
    ).cache()
    try:
        pop = tube.build_tube("Tisa[K]")  # every draw kept, in draw order
        both = [i for i, (_, coefs, _) in enumerate(pop) if len(coefs) == 2]
        assert both
        for i in both:
            b0, coefs, r2 = pop[i]
            assert np.isfinite([b0, r2, *coefs.values()]).all()
            assert coefs["ALT[m]"] == pytest.approx(2.0 * coefs["ALT2[m]"], rel=1e-9)
            train = (
                base.withColumn("__u", F.rand(seed=tube.seed * 1000 + i))
                .filter(F.col("__u") < p)
                .toPandas()
            )
            slope, icpt = np.polyfit(train["ALT[m]"], train["__y"], 1)
            assert coefs["ALT[m]"] + 2.0 * coefs["ALT2[m]"] == pytest.approx(slope, rel=1e-8)
            assert b0 == pytest.approx(icpt, rel=1e-8)
    finally:
        base.unpersist()
