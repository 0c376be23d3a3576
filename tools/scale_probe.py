"""Scale probe: run the core signal operators and the models at
multi-million-row scale (distributed generation, no driver pandas)
and report wall times + rows/sec. Evidence for the 100 TB design
claims:

    python tools/scale_probe.py [n_records] [n_rows]

Defaults 2,000 records x 5,000 rows = 10M rows (~0.5 GB in memory).
Everything measured AFTER the data is materialized to Parquet, so
times are operator cost, not generation.

The model probes fit a Selector on 64 labelled records (the
benchmark's small indicator grid and sampling) and predict every
record, then fit a Tube on ALT[m] and score every record. They report
the Spark jobs each fit runs and the rows each Selector tree collects
to the driver: a tree collects its with-replacement sample of the
labelled rows, ``samples_percent`` of them for the first
``retry_number`` trees and ``min(0.5, samples_percent *
retry_number)`` for the refits.

    python tools/scale_probe.py components [n_nodes] [chain_n]

runs only the connected-components probe: planted cliques of 4 over
``n_nodes`` ids (default 1M nodes, 1.5M edges, above the default
driver-finish limit of about 655k edges) and a ``chain_n``-node chain
(default 100k, diameter chain_n - 1). It reports wall time, Spark
jobs, components found, and ``rounds`` = (checkpoints - 1) / 2: the
canonical edges are checkpointed once, then the large-star and the
small-star step of every round.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    if sys.argv[1:2] == ["components"]:
        n_nodes = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
        chain_n = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000
        from tabata_spark.session import get_spark

        out = components_probes(get_spark("scale-probe"), n_nodes, chain_n)
        print(json.dumps(out))
        return
    n_records = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 5000

    from pyspark.sql import functions as F

    from tabata_spark.operators.flight import cruise_summary
    from tabata_spark.operators.indicator import indicator_col
    from tabata_spark.operators.positions import with_positions
    from tabata_spark.operators.savgol import savgol
    from tabata_spark.operators.slicing import left_of
    from tabata_spark.session import get_spark
    from tabata_spark.sources.generator import make_flights_distributed

    spark = get_spark("scale-probe")
    total = n_records * n_rows
    out: dict[str, float] = {}

    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    path = os.path.join(tmp, "signals")
    t0 = time.perf_counter()
    make_flights_distributed(spark, n_records, n_rows).write.mode(
        "overwrite"
    ).parquet(path)
    out["generate_write_s"] = round(time.perf_counter() - t0, 2)
    df = spark.read.parquet(path)

    def probe(name, frame, cols):
        """Force-evaluate the named columns — a bare count() lets
        Catalyst prune the computation under test entirely."""
        t = time.perf_counter()
        r = frame.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash(*[F.col(f"`{c}`") for c in cols])).alias("h"),
        ).collect()[0]
        out[name] = round(time.perf_counter() - t, 2)
        print(f"# {name}: {out[name]}s ({r['n']} rows)", file=sys.stderr)

    probe(
        "positions",
        with_positions(df),
        ["LEN[pts]", "REV[pts]", "PERCENT[%]"],
    )
    probe("savgol_w11", savgol(df, "ALT[m]", "sg", 11, 2, 1), ["sg"])
    probe("savgol_w21", savgol(df, "ALT[m]", "sg", 21, 2, 0), ["sg"])
    probe(
        "savgol_2cols_w21",
        savgol(df, ["ALT[m]", "Tisa[K]"], ["s0", "s1"], 21, 2, 0),
        ["s0", "s1"],
    )
    probe("indicator_w11", indicator_col(df, "ALT[m]", "ind", 11, 1, 1.0), ["ind"])
    probe("indicator_w41", indicator_col(df, "ALT[m]", "ind", 41, 1, 1.0), ["ind"])
    probe("cruise_summary", cruise_summary(df), ["conso_kg_h", "alt_max"])
    instants = df.groupBy("record_id").agg(
        F.expr("min_by(seq, struct(`ALT[m]` * -1, seq))").alias("seq")
    )
    probe("slice_left_argmax", left_of(df, instants), ["ALT[m]"])
    out.update(model_probes(spark, df, instants))

    out.update(
        {
            "n_records": n_records,
            "n_rows_per_record": n_rows,
            "total_rows": total,
            "rows_per_sec_indicator": round(total / max(out["indicator_w11"], 1e-9)),
        }
    )
    print(json.dumps(out))


def model_probes(spark, df, instants, n_labeled: int = 64) -> dict:
    """Selector fit/predict and Tube fit/scores on the probe's set."""
    from pyspark.sql import functions as F

    from tabata_spark.core.signalset import SignalSet
    from tabata_spark.ml import selector as selector_mod
    from tabata_spark.ml.tube import Tube

    sc = spark.sparkContext
    out: dict = {}

    def jobs(group):
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def timed(name, fn):
        sc.setJobGroup(name, name)
        t = time.perf_counter()
        result = fn()
        out[f"{name}_s"] = round(time.perf_counter() - t, 2)
        out[f"{name}_jobs"] = jobs(name)
        print(f"# {name}: {out[name + '_s']}s, {out[name + '_jobs']} jobs", file=sys.stderr)
        return result

    sset = SignalSet(df)
    names = sset.records
    labeled = names[:: max(1, len(names) // n_labeled)][:n_labeled]
    peaks = {
        r["record_id"]: int(r["seq"])
        for r in instants.filter(F.col("record_id").isin(labeled)).collect()
    }
    sel = selector_mod.Selector(sset, seed=1)
    sel.variables = {"ALT[m]"}
    sel.feature_params = dict(range_width=(10, 30), range_sigma=[5, 15], max_order=2)
    sel.learn_params = dict(
        retry_number=2, retry_percentile=80, samples_percent=0.05, min_samples_split=0.05
    )
    sel.predict_params = dict(filter_width=40)
    sel.selected = peaks
    tree_rows = []
    fit_tree = selector_mod._fit_tree

    def counting_fit_tree(X, y, min_instances):
        tree_rows.append(len(X))
        return fit_tree(X, y, min_instances)

    selector_mod._fit_tree = counting_fit_tree
    try:
        timed("selector_fit", sel.fit)
    finally:
        selector_mod._fit_tree = fit_tree
    out["selector_labeled_rows"] = sel._n_labeled_rows
    out["selector_tree_rows"] = tree_rows
    pred = timed("selector_predict", sel.predict)
    out["selector_predicted_records"] = len(pred)

    tube = Tube(sset, seed=1)
    tube.variables = {"ALT[m]"}
    tube.learn_params = dict(
        retry_number=2, keep_best_number=1, samples_percent=0.05, max_features=5
    )
    tube.tube_params = dict(tube_factor=10.0, filter_width=5)
    timed("tube_fit", tube.fit)
    scores = timed("tube_scores", lambda: tube.scores().collect())
    out["tube_scored_records"] = len(scores)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def components_probes(spark, n_nodes: int, chain_n: int) -> dict:
    """connected_components on planted cliques of 4 and on a chain,
    each read back from Parquet before timing."""
    from pyspark.sql import functions as F

    from tabata_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    tmp = tempfile.mkdtemp(prefix="scale_probe_cc_")
    c = F.col("id") * 4
    graphs = {
        "cc_cliques": spark.range(n_nodes // 4)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct((c + i).alias("id_a"), (c + j).alias("id_b"))
                        for i in range(4)
                        for j in range(i + 1, 4)
                    ]
                )
            ).alias("e")
        )
        .select("e.*"),
        "cc_chain": spark.range(chain_n - 1).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        ),
    }
    out: dict = {"cc_nodes": n_nodes, "cc_chain_n": chain_n}
    for name, g in graphs.items():
        path = os.path.join(tmp, name)
        g.write.mode("overwrite").parquet(path)
        pairs = spark.read.parquet(path)
        frame = type(pairs)
        checkpoint = frame.localCheckpoint
        out[f"{name}_edges"] = pairs.count()
        cuts = []

        def counting_checkpoint(df, *a, **k):
            cuts.append(1)
            return checkpoint(df, *a, **k)

        frame.localCheckpoint = counting_checkpoint
        sc.setJobGroup(name, name)
        t = time.perf_counter()
        try:
            row = connected_components(pairs).agg(
                F.count(F.lit(1)).alias("n"), F.countDistinct("comp").alias("k")
            ).collect()[0]
        finally:
            frame.localCheckpoint = checkpoint
        out[f"{name}_s"] = round(time.perf_counter() - t, 2)
        out[f"{name}_jobs"] = len(sc.statusTracker().getJobIdsForGroup(name))
        out[f"{name}_checkpoints"] = len(cuts)
        out[f"{name}_rounds"] = (len(cuts) - 1) // 2 if cuts else 0
        out[f"{name}_labelled"] = row["n"]
        out[f"{name}_components"] = row["k"]
        print(f"# {name}: {out[name + '_s']}s, {out[name + '_jobs']} jobs", file=sys.stderr)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out


if __name__ == "__main__":
    main()
