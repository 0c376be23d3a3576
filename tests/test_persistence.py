import pytest
from pyspark.sql import functions as F


def test_tube_save_load_roundtrip(tmp_path, sset):
    from tabata_spark.ml.tube import Tube, load_tube, save_tube

    tube = Tube(sset, seed=42)
    tube.variables = {"Tisa[K]"}
    tube.factors = {"ALT[m]", "Tisa[K]"}
    tube.learn_params = dict(
        retry_number=2, keep_best_number=2, samples_percent=0.05, max_features=2
    )
    tube.fit()
    save_tube(tube, str(tmp_path / "tube"))
    tube2 = load_tube(sset, str(tmp_path / "tube"))
    assert tube2._reg.keys() == tube._reg.keys()
    a = tube.scores().collect()
    b = tube2.scores().collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_selector_save_load_roundtrip(tmp_path, spark, sset, flights):
    from tabata_spark.ml.selector import Selector, load_selector, save_selector
    from tabata_spark.operators.flight import with_cruise_flag

    sel = Selector(sset, seed=42)
    sel.variables = {"ALT[m]"}
    flags = with_cruise_flag(sset.df)
    truth = {
        r["record_id"]: r["i"]
        for r in flags.filter(F.col("CR"))
        .groupBy("record_id")
        .agg(F.min("seq").alias("i"))
        .collect()
    }
    for name in sset.records[:3]:
        sel.selected[name] = int(truth[name])
    sel.feature_params = dict(range_width=range(10, 31, 10), range_sigma=[5], max_order=1)
    sel.learn_params = dict(
        retry_number=2, retry_percentile=80, samples_percent=0.05, min_samples_split=0.05
    )
    sel.predict_params = dict(filter_width=20)
    sel.fit()
    pred1 = sel.predict()
    save_selector(sel, str(tmp_path / "sel"))
    sel2 = load_selector(sset, str(tmp_path / "sel"))
    assert sel2.idcodes == sel.idcodes
    pred2 = sel2.predict()
    assert pred1 == pred2


def test_selector_load_rejects_mllib_tree_dir(tmp_path, sset):
    """A selector saved with an MLlib ``tree_model/`` directory and no
    tree in its JSON must be refitted, not loaded half-empty."""
    from tabata_spark.ml.selector import Selector, load_selector, save_selector

    path = tmp_path / "old_sel"
    save_selector(Selector(sset), str(path))
    (path / "tree_model").mkdir()
    with pytest.raises(ValueError, match="refit"):
        load_selector(sset, str(path))
