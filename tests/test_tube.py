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
