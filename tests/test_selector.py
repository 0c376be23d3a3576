import numpy as np
import pytest
from pyspark.sql import functions as F

from tabata_spark.core.signalset import SignalSet
from tabata_spark.ml.selector import Selector
from tabata_spark.operators.flight import with_cruise_flag


@pytest.fixture(scope="module")
def labeled_selector(spark, sset, flights):
    """Label the start-of-cruise instant on a few records (the
    instants_doc cell-14 workflow shape) using generator ground truth."""
    sel = Selector(sset, seed=42)
    sel.variables = {"ALT[m]"}
    # truth: first row where the cruise predicate holds
    flags = with_cruise_flag(sset.df)
    truth = {
        r["record_id"]: r["i"]
        for r in flags.filter(F.col("CR"))
        .groupBy("record_id")
        .agg(F.min("seq").alias("i"))
        .collect()
    }
    # label 4 of the 6 records (partial expert labeling)
    for name in sset.records[:4]:
        sel.selected[name] = int(truth[name])
    sel._truth = truth
    # small grid for test speed
    sel.feature_params = dict(range_width=range(10, 51, 20), range_sigma=[5, 15], max_order=2)
    sel.learn_params = dict(
        retry_number=4, retry_percentile=80, samples_percent=0.05, min_samples_split=0.05
    )
    sel.predict_params = dict(filter_width=30)
    return sel


def test_make_indicators_grid(labeled_selector):
    dsi = labeled_selector.make_indicators()
    # gating: labels are early in the records -> Qmin/Qmax decide variants
    codes = labeled_selector.idcodes
    assert codes[0] == ("LEN", 0, 0, 0, 0.0)
    assert ("ALT[m]", 0, 0, 0, 0.0) in codes  # raw channel kept
    # grid cells: 3 widths x 2 orders x 2 sigmas x 2 signs (x directions)
    n_grid = len([c for c in codes if c[1] != 0])
    assert n_grid % (3 * 2 * 2 * 2) == 0 and n_grid > 0
    assert len(dsi.columns) == 2 + len(codes)  # record_id, seq + features
    # only labeled records materialized
    assert dsi.select("record_id").distinct().count() == 4
    # epsilon positive for every retained indicator
    assert all(c[4] > 0 for c in codes if c[1] != 0)


def test_fit_prunes_features(labeled_selector):
    sel = labeled_selector.fit()
    assert sel._model is not None
    assert 0 < len(sel.idcodes) < len(sel._grid_codes)
    assert len(sel._kept_names) == len(sel.idcodes)


def test_predict_finds_cruise_start(labeled_selector):
    sel = labeled_selector
    if sel._model is None:
        sel.fit()
    pred = sel.predict()
    assert set(pred) == set(sel.sset.records)
    # detector should land near the climb->cruise transition on the
    # records it was trained on (generous tolerance: 25% of length)
    lengths = {r["record_id"]: r["n"] for r in sel.sset.record_lengths().collect()}
    errs = [
        abs(pred[k] - sel._truth[k]) / lengths[k] for k in sel.selected
    ]
    assert np.median(errs) < 0.25


def test_belief_normalized(labeled_selector):
    sel = labeled_selector
    if sel._model is None:
        sel.fit()
    bf = sel.belief_frame()
    sums = bf.groupBy("record_id").agg(F.sum("p").alias("s")).collect()
    for r in sums:
        # belief sums to 1 (or 0 for degenerate all-clipped records)
        assert abs(r["s"] - 1.0) < 1e-6 or abs(r["s"]) < 1e-9
    mn = bf.agg(F.min("p")).collect()[0][0]
    assert mn >= 0.0


def test_left_right_partition(labeled_selector):
    sel = labeled_selector
    if sel._model is None:
        sel.fit()
    sel.predict()
    left = sel.left()
    right = sel.right()
    n_all = sel.sset.df.count()
    assert left.df.count() + right.df.count() == n_all  # left ∪ right == full


def test_scores(labeled_selector):
    sel = labeled_selector
    if sel._model is None:
        sel.fit()
    s = sel.score()
    assert np.isfinite(s)
    assert set(sel.all_scores()) == set(sel.selected)


# ---------------------------------------------------- MLlib as the oracle


def _mllib_tree(spark, X, y, min_rows):
    """MLlib's DecisionTreeClassifier as the Selector called it before
    it grew its own trees: gini, maxDepth 5, maxBins 32."""
    import pandas as pd
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import VectorAssembler

    names = [f"f{i}" for i in range(X.shape[1])]
    pdf = pd.DataFrame(X, columns=names)
    pdf["label"] = y.astype(float)
    asm = VectorAssembler(inputCols=names, outputCol="features")
    clf = DecisionTreeClassifier(minInstancesPerNode=min_rows)
    return clf.fit(asm.transform(spark.createDataFrame(pdf)).select("features", "label")), asm


def _assert_tree_matches_mllib(spark, X, y, min_rows, grid):
    import pandas as pd

    from tabata_spark.ml.selector import _fit_tree

    tree, fi = _fit_tree(X, y, min_rows)
    model, asm = _mllib_tree(spark, X, y, min_rows)
    rows = spark.createDataFrame(pd.DataFrame(grid, columns=asm.getInputCols()))
    want = model.transform(asm.transform(rows)).select("prediction").toPandas()["prediction"]
    assert (tree.predict(grid) == want.to_numpy()).all()
    np.testing.assert_allclose(fi, model.featureImportances.toArray(), rtol=0, atol=1e-12)
    assert len(tree.feature) == model.numNodes  # pruned children dropped
    return tree


@pytest.mark.parametrize(
    "seed,fraction,reduced",
    [(1, 0.05, False), (2, 0.05, True), (3, 0.05, False), (1, 0.2, True), (2, 0.2, False),
     (3, 0.35, True), (1, 0.5, False), (2, 0.5, True), (3, 0.5, False)],
)
def test_tree_matches_mllib_on_grid_samples(spark, labeled_selector, seed, fraction, reduced):
    """On the Selector's own sampled rows, the numpy tree predicts
    every grid row, weighs every feature and counts its nodes as
    MLlib's DecisionTreeClassifier does."""
    sel = labeled_selector
    dsi = sel.make_indicators()
    cols = [c for c in dsi.columns if c not in ("record_id", "seq")]
    if reduced:
        cols = cols[::5]
    pdf = dsi.sample(True, fraction, seed).select("record_id", "seq", *cols).toPandas()
    y = (pdf["seq"].to_numpy() > pdf["record_id"].map(sel.selected).to_numpy()).astype(int)
    min_rows = max(1, int(np.ceil(0.05 * len(pdf) / 2)))
    grid = dsi.select(*cols).toPandas().to_numpy(dtype=float)
    _assert_tree_matches_mllib(spark, pdf[cols].to_numpy(dtype=float), y, min_rows, grid)


def _edge_case(name):
    rng = np.random.default_rng(7)
    n = 300
    many = rng.normal(size=n)  # > 31 distinct values: the stride rule
    few = rng.integers(0, 10, n).astype(float)  # <= 31: every midpoint
    sparse = np.where(rng.random(n) < 0.6, 0.0, rng.normal(size=n))  # zeros
    y = ((many + 0.3 * few + rng.normal(scale=0.5, size=n)) > 1.0).astype(int)
    if name == "constant":
        return np.column_stack([np.full(n, 3.0), many, few]), y, 5
    if name == "many_and_few":
        return np.column_stack([few, many, sparse]), y, 5
    if name == "single_class":
        return np.column_stack([many, few]), np.zeros(n, dtype=int), 5
    if name == "blocked":
        return np.column_stack([many, few]), y, n // 2 + 1  # no split leaves n/2+1 a side
    raise KeyError(name)


@pytest.mark.parametrize("name", ["constant", "many_and_few", "single_class", "blocked"])
def test_tree_matches_mllib_edge_cases(spark, name):
    X, y, min_rows = _edge_case(name)
    tree = _assert_tree_matches_mllib(spark, X, y, min_rows, X)
    if name in ("single_class", "blocked"):
        assert len(tree.feature) == 1  # the root is a leaf
    if name == "constant":
        assert 0 not in tree.feature


def _small_selector(sset, seed=3):
    sel = Selector(sset, seed=seed)
    sel.variables = {"ALT[m]"}
    sel.feature_params = dict(range_width=[10], range_sigma=[5], max_order=1)
    sel.learn_params = dict(
        retry_number=1, retry_percentile=50, samples_percent=0.2, min_samples_split=0.05
    )
    return sel


def test_refit_releases_previous_grid(spark, sset):
    """Fitting, relabelling and refitting leaves nothing cached: the
    indicator grid lives only inside fit's passes."""
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    sel = _small_selector(sset)
    names = sset.records
    sel.selected = {names[0]: 200, names[1]: 250}
    sel.fit()
    sel.selected[names[2]] = 220
    sel.fit()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached


def test_fit_runs_two_passes(spark, labeled_selector, jobs_run_by):
    """Selector.fit is two grouped passes (epsilon, then the grid and
    every tree's sample), whatever the number of trees and refits:
    at most 4 Spark jobs with AQE's map-stage jobs."""
    import copy

    sel = copy.copy(labeled_selector)
    sel.learn_params = dict(sel.learn_params, retry_number=6)
    assert len(jobs_run_by(spark, sel.fit)) <= 4


def test_fit_does_not_depend_on_partitioning(spark, labeled_selector):
    """The same labels fit the same trees and predict the same
    instants at 4 and at 2 shuffle partitions: every sample is drawn
    per record from a generator seeded by (seed + tree, record name)."""
    import copy

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    prev = {k: spark.conf.get(k, None) for k in keys}
    runs = []
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        for partitions in ("4", "2"):
            spark.conf.set("spark.sql.shuffle.partitions", partitions)
            spark.catalog.clearCache()
            sel = copy.copy(labeled_selector).fit()
            runs.append((sel._kept_names, sel.describe(), sel.predict()))
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert runs[0] == runs[1]


def test_predict_df_is_belief_argmax(labeled_selector):
    """The argmax taken inside the belief pass is the first row of
    largest belief, as ``max_by`` on (p, -seq) over belief_frame."""
    sel = labeled_selector
    if sel._model is None:
        sel.fit()
    want = {
        r["record_id"]: r["seq"]
        for r in sel.belief_frame()
        .groupBy("record_id")
        .agg(F.expr("max_by(seq, struct(p, -seq))").alias("seq"))
        .collect()
    }
    got = {r["record_id"]: r["seq"] for r in sel.predict_df().collect()}
    assert got == want and set(got) == set(sel.sset.records)
