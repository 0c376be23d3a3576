"""Plan-shape assertions: the structural properties that make these
queries scale (pushdown, broadcast, codegen, no Python in JVM-only
paths). These run on sf0.001 — plan shape, not data volume."""

import pytest
from pyspark.sql import functions as F

from tabata_spark import battery
from tabata_spark.plans.inspect import plan_counts, pushed_filters, read_schemas


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_q1_pushdown_and_pruning(spark, sf):
    df = battery.QUERIES["q1_pricing_summary"](spark, sf)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf  # filter reaches the scan
    rs = read_schemas(df)
    # projection pruned: far fewer than the 16 lineitem columns
    assert all("l_partkey" not in s for s in rs), rs


def test_q3_broadcasts_customer(spark, sf):
    c = plan_counts(battery.QUERIES["q3_shipping_priority"](spark, sf))
    assert c["broadcast_joins"] >= 1
    assert c["take_ordered"] == 1  # top-k, not global sort
    assert c["python_evals"] == 0


def test_q5_all_dims_broadcast(spark, sf):
    c = plan_counts(battery.QUERIES["q5_region_revenue"](spark, sf))
    assert c["broadcast_joins"] >= 4  # customer, supplier, nation, region
    assert c["python_evals"] == 0


def test_signal_windows_single_exchange(spark, sf):
    """All record-window ops share one partitioning: exactly one
    shuffle for the signals view + windows."""
    df = battery.QUERIES["w_positions"](spark, sf)
    c = plan_counts(df)
    assert c["exchanges"] == 1, c
    assert c["python_evals"] == 0


def _assert_one_arrow_pass(df):
    """The signal kernels' design: one Arrow grouped-map per call, on
    the record_id exchange — no join, no row-at-a-time Python."""
    from tabata_spark.plans.inspect import explain_str

    s = explain_str(df, "simple")
    c = plan_counts(df)
    assert s.count("FlatMapGroupsInPandas") == 1, s
    assert c["python_evals"] == 1, c  # so no BatchEvalPython either
    assert c["exchanges"] == 1, c
    assert "Join" not in s, s


def test_savgol_single_arrow_pass(spark, sf):
    _assert_one_arrow_pass(battery.QUERIES["w_savgol_interior"](spark, sf))


def test_segment_ramp_single_arrow_pass(spark, sf):
    _assert_one_arrow_pass(battery.QUERIES["w_segment_ramp"](spark, sf))


def test_slice_left_broadcasts_instants(spark, sf):
    c = plan_counts(battery.QUERIES["j_slice_left"](spark, sf))
    assert c["broadcast_joins"] >= 1  # instants side table broadcast
    assert c["python_evals"] == 0


def test_topk_is_take_ordered(spark, sf):
    c = plan_counts(battery.QUERIES["q_topk_orders"](spark, sf))
    assert c["take_ordered"] == 1
    assert c["sorts"] == 0  # no global sort operator


def test_dedup_exact_single_shuffle(spark, sf):
    c = plan_counts(battery.QUERIES["dedup_exact"](spark, sf))
    assert c["python_evals"] == 0
    # hash agg with partial: one exchange on the hash
    assert c["exchanges"] <= 2


def test_sim_topk_no_python(spark, sf):
    c = plan_counts(battery.QUERIES["sim_topk_cosine"](spark, sf))
    assert c["python_evals"] == 0
    assert c["take_ordered"] == 1


def test_multimodal_uses_arrow_not_row_python(spark, sf):
    from tabata_spark.plans.inspect import explain_str

    df = battery.QUERIES["multimodal_features"](spark, sf)
    s = explain_str(df, "simple")
    assert "MapInPandas" in s  # Arrow-batched
    assert "BatchEvalPython" not in s  # never row-at-a-time Python


def test_indicator_single_exchange(spark, sf):
    """SG derivative and segmentation run in the same per-record pass:
    one exchange, no side frame joined back."""
    _assert_one_arrow_pass(battery.QUERIES["w_indicator_full"](spark, sf))


def test_record_belief_filters_below_grouped_map(spark, sset, tmp_path):
    """A per-record belief view of a stored set scores only that
    record: its record_id predicate sits below the
    FlatMapGroupsInPandas (here as a partition filter of the scan), and
    the values equal the whole-set belief of that record."""
    from tabata_spark.core.signalset import SignalSet
    from tabata_spark.ml.selector import Selector
    from tabata_spark.plans.inspect import explain_str

    sset.save(str(tmp_path / "set"))
    stored = SignalSet.load(spark, str(tmp_path / "set"))
    sel = Selector(stored, seed=5)
    sel.variables = {"ALT[m]"}
    sel.feature_params = dict(range_width=[10], range_sigma=[5], max_order=1)
    sel.learn_params = dict(
        retry_number=1, retry_percentile=50, samples_percent=0.2, min_samples_split=0.05
    )
    names = stored.records
    sel.selected = {names[0]: 200, names[1]: 250}
    sel.fit()
    name = names[2]
    df = sel.record_belief(name)
    lines = explain_str(df, "simple").splitlines()
    grouped = [i for i, ln in enumerate(lines) if "FlatMapGroupsInPandas" in ln]
    predicate = [i for i, ln in enumerate(lines) if name in ln]
    assert len(grouped) == 1 and predicate, lines
    assert all(i > grouped[0] for i in predicate), lines  # printed deeper = runs first
    one = df.toPandas()
    whole = (
        sel.belief_frame().filter(F.col("record_id") == name).orderBy("seq").toPandas()
    )
    assert one["seq"].tolist() == whole["seq"].tolist()
    assert one["p"].tolist() == whole["p"].tolist()


def test_tube_plot_data_filters_below_grouped_map(spark, sset, tmp_path, monkeypatch):
    """The tube overlay of one stored record scores only that record:
    its record_id predicate sits below the FlatMapGroupsInPandas of the
    bound smoothing, and the values equal the whole-set estimate rows
    of that record."""
    from tabata_spark import viz
    from tabata_spark.core.signalset import SignalSet
    from tabata_spark.ml.tube import Tube
    from tabata_spark.plans.inspect import explain_str

    sset.save(str(tmp_path / "set"))
    stored = SignalSet.load(spark, str(tmp_path / "set"))
    tube = Tube(stored, seed=42)
    tube.variables = {"Tisa[K]"}
    tube.factors = {"ALT[m]", "TAS[m/s]", "Tisa[K]"}
    tube.learn_params = dict(
        retry_number=2, keep_best_number=2, samples_percent=0.05, max_features=2
    )
    tube.tube_params = dict(tube_factor=10.0, filter_width=5)
    tube.fit()
    name = stored.records[2]
    plans = []
    to_pandas = type(stored.df).toPandas

    def spy(df):
        plans.append(explain_str(df, "simple"))
        return to_pandas(df)

    monkeypatch.setattr(type(stored.df), "toPandas", spy)
    one = viz.tube_plot_data(tube, "Tisa[K]", name)
    monkeypatch.undo()
    lines = plans[0].splitlines()
    grouped = [i for i, ln in enumerate(lines) if "FlatMapGroupsInPandas" in ln]
    predicate = [i for i, ln in enumerate(lines) if name in ln]
    assert len(grouped) == 1 and predicate, lines
    assert all(i > grouped[0] for i in predicate), lines  # printed deeper = runs first
    whole = (
        tube.estimate_frame("Tisa[K]")
        .filter(F.col("record_id") == name)
        .orderBy("seq")
        .toPandas()
    )
    assert one.index.tolist() == whole["seq"].tolist()
    for col, src in [("y", "Tisa[K]"), ("z", "z"), ("zmin", "zmin"), ("zmax", "zmax")]:
        assert one[col].tolist() == whole[src].tolist(), col


def test_cruise_flag_uses_ordered_frame(spark, sf):
    """with_cruise_flag must not use the unordered whole-group window
    path (4x slower at 10M rows): its plan shows an ordered Sort under
    a single exchange."""
    from tabata_spark.operators.flight import cruise_summary
    from tabata_spark.sources.relational import events_as_signals, load_table

    sig = (
        events_as_signals(load_table(spark, sf, "events"))
        .withColumnRenamed("value", "ALT[m]")
        .withColumn("Vz[m/s]", F.col("`ALT[m]`") * 0)
        .withColumn("Tisa[K]", F.col("`ALT[m]`") + 1)
        .withColumn("TAS[m/s]", F.col("`ALT[m]`") + 2)
        .withColumn("Masse[kg]", F.col("`ALT[m]`") + 3)
    )
    c = plan_counts(cruise_summary(sig))
    assert c["exchanges"] <= 2, c
    assert c["python_evals"] == 0


def test_bucketed_table_zero_exchange(spark, sset, tmp_path_factory):
    """Bucketed storage makes record-window pipelines shuffle-free:
    the bucketed scan already satisfies hashpartitioning(record_id)."""
    from tabata_spark.core.signalset import save_bucketed
    from tabata_spark.operators.positions import with_positions
    from tabata_spark.operators.savgol import savgol

    stored = save_bucketed(sset, "t_bucketed_signals", num_buckets=4)
    df = with_positions(stored.df)
    c = plan_counts(df)
    assert c["exchanges"] == 0, c  # no shuffle at all
    # and the values still match the unbucketed path
    a = sorted(tuple(r) for r in df.select("record_id", "seq", "`LEN[pts]`").collect())
    b = sorted(
        tuple(r)
        for r in with_positions(sset.df).select("record_id", "seq", "`LEN[pts]`").collect()
    )
    assert a == b
    c2 = plan_counts(savgol(stored.df, "ALT[m]", "sg", 11, 2, 0))
    assert c2["exchanges"] == 0, c2
    spark.sql("DROP TABLE IF EXISTS t_bucketed_signals")


def test_ivf_stored_index_prunes_partitions(spark, tmp_path_factory):
    """The IVF scale story: an index written partitionBy('ivf_cell')
    turns an nprobe probe into a partition-pruned scan — the cell
    filter must appear as a PartitionFilter, not a post-scan filter."""
    import numpy as np

    from tabata_spark.operators.similarity import ivf_assign, kmeans_centroids

    rng = np.random.default_rng(4)
    centers = np.array([[8.0] * 4, [-8.0] * 4, [8.0, -8.0] * 2])
    vecs = np.concatenate([c + rng.standard_normal((40, 4)) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_centroids(df, n_centroids=3, seed=3, max_iter=5)
    path = str(tmp_path_factory.mktemp("ivf_index"))
    ivf_assign(df, cents).write.partitionBy("ivf_cell").mode("overwrite").parquet(path)

    stored = spark.read.parquet(path)
    probe = stored.filter(F.col("ivf_cell").isin([0, 1]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters:" in plan
    partition_filters = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "ivf_cell" in partition_filters
    # pruned scan reads only the probed cells
    assert probe.count() == stored.filter(F.col("ivf_cell") != 2).count()


def test_ivf_knn_join_batch(spark):
    """Batched ANN composition: with nprobe=all, ivf_knn_join is
    EXACTLY knn_join (centroid-independent); with small nprobe every
    neighbor comes from the query's probed cells (the scored set is
    cell-bounded, not |index|x|batch|) and clustered queries keep
    perfect recall (their true neighbors share their nearest cell)."""
    import numpy as np

    from tabata_spark.operators.similarity import (
        ivf_assign,
        ivf_knn_join,
        kmeans_centroids,
        knn_join,
    )

    rng = np.random.default_rng(11)
    centers = np.array([[9.0] * 4, [-9.0] * 4, [9.0, -9.0] * 2])
    vecs = np.concatenate([c + rng.standard_normal((40, 4)) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = df.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    index = df.filter(F.col("vec_id") % 40 != 0)
    cents = kmeans_centroids(df, n_centroids=3, seed=3, max_iter=5)

    exact = sorted(map(tuple, knn_join(queries, index, k=5).collect()))
    allprobe = sorted(
        map(tuple, ivf_knn_join(queries, index, cents, k=5, nprobe=3).collect())
    )
    assert allprobe == exact

    # nprobe=1 on well-separated clusters: same answer, cell-bounded
    one = sorted(
        map(tuple, ivf_knn_join(queries, index, cents, k=5, nprobe=1).collect())
    )
    assert one == exact
    # and each neighbor genuinely lives in its query's nearest cell
    assigned = {r["vec_id"]: r["ivf_cell"] for r in ivf_assign(df, cents).collect()}
    for qid, vid, _cos, _rk in one:
        assert assigned[vid] == assigned[qid]

    # plan pin: with nprobe < n_centroids the scored set is produced
    # by the ivf_cell EQUI-join (BroadcastHashJoin on the cell key) —
    # never the unconditioned nested-loop of the exact path, which
    # would silently regress the composed ANN to O(|index|·|batch|)
    import re

    pruned = ivf_knn_join(queries, index, cents, k=5, nprobe=1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]
    m = re.search(r"BroadcastHashJoin \[(\w+)", plan)
    assert m and m.group(1) == "ivf_cell", plan[:800]


def test_q6_pushes_every_predicate_to_scan(spark, sf):
    """TPC-H Q6 is the pushdown litmus: date range, discount band and
    quantity predicates must all reach the parquet scan, and the
    aggregate exchanges a single partial row per partition."""
    df = battery.QUERIES["q6_forecast_revenue"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    c = plan_counts(df)
    assert c["python_evals"] == 0, c


def test_lsh_candidates_no_self_join(spark):
    """Candidate generation is one bucket aggregation + in-array pair
    expansion — NO join of any kind and no window sort in the plan."""
    from tabata_spark.operators.dedup import minhash_candidates

    sig = spark.createDataFrame(
        [(i, list(range(8))) for i in range(4)], "doc_id long, sig array<bigint>"
    )
    c = plan_counts(minhash_candidates(sig, bands=4, rows=2))
    assert c["broadcast_joins"] + c["sortmerge_joins"] + c["shuffle_hash_joins"] == 0
    assert c["windows"] == 0


def test_mixture_rebalance_never_shuffles_fact_rows(spark, sf):
    """The fact table meets only a broadcast join + scan-stage hash
    predicate; the only exchanges move the tiny strata aggregates."""
    df = battery.QUERIES["mixture_uniform"](spark, sf)
    c = plan_counts(df)
    assert c["sortmerge_joins"] == 0 and c["shuffle_hash_joins"] == 0, c
    assert c["broadcast_joins"] >= 1, c
    assert c["python_evals"] == 0, c


def test_incremental_dedup_broadcasts_batch_keys(spark, sf):
    """The corpus banded frame must filter via a broadcast semi-join
    on the batch's bucket keys — a sort-merge there would mean a
    corpus-sized shuffle on every ingest."""
    df = battery.QUERIES["dedup_incremental"](spark, sf)
    c = plan_counts(df)
    assert c["broadcast_joins"] >= 2, c  # bucket keys + candidate verify joins
    assert c["python_evals"] == 0, c


def test_quality_topfrac_single_window_shuffle(spark, sf):
    """Rank and count share one ordered window partitioning."""
    df = battery.QUERIES["quality_topfrac"](spark, sf)
    c = plan_counts(df)
    assert c["python_evals"] == 0, c
    # one exchange for the strata window + one for the final orderBy
    assert c["exchanges"] <= 2, c


def test_line_dedup_shuffles_hashes_not_text(spark, sf):
    """The df-count aggregation keys on the 60-bit line hash; no
    sort-merge join of the wide exploded frame."""
    df = battery.QUERIES["dedup_lines"](spark, sf)
    c = plan_counts(df)
    assert c["python_evals"] == 0, c


def test_lsh_neardup_arrow_only_python(spark, sf):
    """The ONLY Python stage is the Arrow signature matmul; the
    verification joins stay JVM-side."""
    df = battery.QUERIES["sim_neardup_lsh"](spark, sf)
    c = plan_counts(df)
    assert c["python_evals"] == 1, c  # exactly the mapInPandas matmul
    assert c["sortmerge_joins"] == 0, c


def test_funnel_single_data_shuffle(spark, sf):
    """The 4-stage ordered funnel is a window state machine: all
    stages share one user-partitioned shuffle (the second exchange is
    only the output ordering), the per-user aggregate reuses the
    window partitioning, and a stage costs a Window op — not a join,
    not another pass over events."""
    c = plan_counts(battery.QUERIES["a_funnel_depth"](spark, sf))
    assert c["exchanges"] <= 2, c
    assert c["windows"] == 4, c
    assert (
        c["broadcast_joins"] + c["sortmerge_joins"] + c["shuffle_hash_joins"] == 0
    ), c
    assert c["python_evals"] == 0, c


def test_asof_union_window_no_joins(spark, sf):
    """The as-of join is the union-window formulation: ZERO join
    operators of any kind (a range-join rewrite would explode row
    counts at scale), one window over the key partitioning, no Python.
    Pinned so a future rewrite can't silently reintroduce a range
    join. Exchanges: purchase-side pre-aggregate, the union's window
    shuffle, and the output ordering — nothing else."""
    c = plan_counts(battery.QUERIES["j_asof_purchase"](spark, sf))
    assert c["broadcast_joins"] + c["sortmerge_joins"] + c["shuffle_hash_joins"] == 0, c
    assert c["windows"] == 1, c
    assert c["python_evals"] == 0, c
    assert c["exchanges"] <= 3, c


TPCH_TAIL = [
    "q2_min_cost_supp",
    "q9_nation_profit",
    "q11_important_parts",
    "q12_ship_delay",
    "q13_order_distribution",
    "q20_qualified_suppliers",
]


@pytest.mark.parametrize("name", TPCH_TAIL)
def test_tpch_tail_jvm_broadcast_only(spark, sf, name):
    """The six tail TPC-H shapes stay JVM-side with every dim-side
    join broadcast at fixture scale — checked on the post-AQE FINAL
    plan, not the static one: sf-scaling frames (part/orders-derived
    aggregates) carry no forced broadcast hint (a pinned broadcast of
    a growing table is the 100 TB OOM), so the static plan shows
    SortMergeJoin until AQE sees the runtime size and switches."""
    from tabata_spark.plans.inspect import plan_counts_final

    c = plan_counts_final(battery.QUERIES[name](spark, sf))
    assert c["python_evals"] == 0, (name, c)
    assert c["sortmerge_joins"] == 0 and c["shuffle_hash_joins"] == 0, (name, c)
    # AQE collapses empty runtime subtrees to EmptyRelation — at
    # fixture scale a selective query can end with no join nodes at
    # all, which still satisfies "no shuffle join survived"
    assert c["broadcast_joins"] >= 1 or c["empty_relations"] >= 1, (name, c)


def test_semantic_dedup_pairs_join_is_cell_equi_join(spark):
    """SemDeDup's pairwise stage must be the ivf_cell equi-join
    (cluster-bounded n²/k), never a cartesian/nested-loop over the
    corpus — the property that makes it a 100 TB operator."""
    from tabata_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float((i * 31 + d * 7) % 13) for d in range(8)]) for i in range(200)],
        ["vec_id", "embedding"],
    )
    cents = [[float((s * 31 + d * 7) % 13) for d in range(8)] for s in range(4)]
    plan = semantic_dedup(emb, cents, threshold=0.99)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stored_ivf_index_prunes_partitions_and_matches_exact(spark, tmp_path):
    """The stored IVF index must (a) answer nprobe=all identically to
    brute force, (b) read ONLY the probed cell partitions at small
    nprobe — partition pruning IS the index lookup at 100 TB."""
    import random

    from tabata_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_index_topk,
        load_ivf_index,
    )

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(400)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    path = str(tmp_path / "ivf_index")
    cents = build_ivf_index(emb, path, n_centroids=8, seed=3)
    assert len(cents) == 8

    q = rows[7][1]
    exact = [tuple(r) for r in brute_force_topk(emb, q, k=5).collect()]
    full = [
        tuple(r) for r in ivf_index_topk(spark, path, q, k=5, nprobe=8).collect()
    ]
    assert full == exact

    # small nprobe: the scan's partition filter prunes to <= nprobe
    # cell directories (check the executed plan's selected partitions)
    probe = ivf_index_topk(spark, path, q, k=5, nprobe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_cell" in m.group(1), plan[:800]
    # and the probed result is a subset of reality: every returned id
    # really lives in one of the two probed cells
    index, _ = load_ivf_index(spark, path)
    got_ids = {r["vec_id"] for r in probe.collect()}
    cells = {
        r["ivf_cell"]
        for r in index.filter(F.col("vec_id").isin(list(got_ids)))
        .select("ivf_cell")
        .collect()
    }
    assert len(cells) <= 2


def test_pq_adc_is_scan_takeordered_no_shuffle(spark, sf):
    # the PQ serving path: codes scanned, ADC = literal lookups, top-k
    # via TakeOrdered — zero exchanges, zero Python
    df = battery.QUERIES["sim_pq_adc"](spark, sf)
    c = plan_counts(df)
    assert c["exchanges"] == 0, c
    assert c["take_ordered"] >= 1, c
    assert c["python_evals"] == 0, c


def test_bm25_is_scan_takeordered_no_shuffle(spark, sf):
    # scoring pass: term frequencies + literal stats, TakeOrdered —
    # the stats aggregation is a separate (already collected) job
    df = battery.QUERIES["text_bm25"](spark, sf)
    c = plan_counts(df)
    assert c["exchanges"] == 0, c
    assert c["take_ordered"] >= 1, c
    assert c["python_evals"] == 0, c


def test_session_sequences_single_data_shuffle(spark, sf):
    # one user-partition window; the (user, session) groupBy reuses
    # hash(user) clustering — the only other exchange is the output sort
    df = battery.QUERIES["q_session_sequences"](spark, sf)
    from tabata_spark.plans.inspect import explain_str

    s = explain_str(df, "simple")
    import re

    hashes = len(re.findall(r"Exchange hashpartitioning", s))
    assert hashes == 1, s[:2000]


def test_weighted_sample_is_scan_takeordered(spark, sf):
    # A-ES weighted sampling: derived keys at the scan, TakeOrdered
    # top-k — no shuffle, no Python
    df = battery.QUERIES["sample_weighted"](spark, sf)
    c = plan_counts(df)
    assert c["exchanges"] == 0, c
    assert c["take_ordered"] >= 1, c
    assert c["python_evals"] == 0, c


def test_stored_inverted_index_prunes_partitions(spark, sf, tmp_path_factory):
    """Term lookups against the stored index read only the queried
    terms' hash-bucket directories (PartitionFilters on term_bucket),
    and the pruned search returns exactly the unpruned results."""
    import re

    from tabata_spark.operators.text import (
        build_inverted_index,
        index_search,
        load_inverted_index,
        stored_index_search,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    path = str(tmp_path_factory.mktemp("invidx") / "idx")
    build_inverted_index(docs, path, n_buckets=16, min_df=2, max_df_frac=0.5, ngram=3)
    idx, n_docs, _ = load_inverted_index(spark, path)
    top2 = [r["term"] for r in idx.orderBy(F.desc("df"), "term").limit(2).collect()]
    queries = spark.createDataFrame(
        [(1, top2)], "query_id long, terms array<string>"
    )
    pruned = stored_index_search(spark, path, queries, k=5)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_bucket" in m.group(1), plan[:900]
    full = index_search(queries, idx, n_docs=n_docs, k=5)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))


def test_pit_join_broadcasts_dimension(spark, sf):
    """The SCD2 point-in-time join must broadcast the version table —
    the fact scan never shuffles before the join."""
    c = plan_counts(battery.QUERIES["q_pit_orders"](spark, sf))
    assert c["broadcast_joins"] >= 1, c
    assert c["sortmerge_joins"] == 0, c
    assert c["python_evals"] == 0, c


def test_decontaminate_broadcasts_eval_grams(spark, sf):
    """Eval-set decontamination broadcasts the benchmark gram set;
    the training corpus is never shuffled on gram."""
    c = plan_counts(battery.QUERIES["text_decontaminate"](spark, sf))
    assert c["broadcast_joins"] >= 1, c
    assert c["python_evals"] == 0, c


def test_sketches_are_jvm_only(spark, sf):
    for q in ("sketch_cms_tokens", "sketch_bloom_customers"):
        c = plan_counts(battery.QUERIES[q](spark, sf))
        assert c["python_evals"] == 0, (q, c)


def test_int8_quant_no_shuffle_no_python(spark, sf):
    """Scan-stage array expressions only (ordering sort excepted)."""
    df = battery.QUERIES["emb_int8_quant"](spark, sf)
    c = plan_counts(df)
    assert c["python_evals"] == 0, c
    # the only exchange allowed is the final global orderBy range
    assert c["exchanges"] <= 1, c


def _unbounded_global_windows(df):
    """Window nodes with an order-only (or empty) spec — the
    single-partition stage the round-9 audit eliminated from every
    fact-scale query. A trailing partition-spec bracket (no ASC/DESC)
    or a WindowGroupLimit rank pushdown does NOT count; neither does
    a window behind an upstream limit (callers assert count bounds
    instead where that applies)."""
    import re

    s = df._jdf.queryExecution().executedPlan().toString()
    out = []
    for line in s.splitlines():
        if not re.search(r"\bWindow \[", line):
            continue
        tail = re.findall(r"\]\s*,\s*\[([^\]]*)\]", line)
        if len(tail) >= 2:
            continue
        if len(tail) == 1 and not re.search(r"\b(ASC|DESC)\b", tail[0]):
            continue
        out.append(line.strip()[:160])
    return out


def _unbounded_global_window_lines(plan_str):
    import re

    out = []
    for line in plan_str.splitlines():
        if not re.search(r"\bWindow \[", line):
            continue
        tail = re.findall(r"\]\s*,\s*\[([^\]]*)\]", line)
        if len(tail) >= 2:
            continue
        if len(tail) == 1 and not re.search(r"\b(ASC|DESC)\b", tail[0]):
            continue
        out.append(line.strip()[:160])
    return out


@pytest.mark.parametrize(
    "name",
    [
        "q_rfm_segments",
        "pack_length_batches",
        "a_conversion_latency",
        "q_heaps_fit",
        "q_skew_report",
        "q_lang_length_deciles",
        # NOT q_lorenz_customers: its one remaining global window is
        # the documented 10-row cumulative over the decile AGGREGATE
        # (bounded by k, not by data) — its ntile stage is still
        # covered by the ranking module's own plan pins.
    ],
)
def test_fact_scale_queries_have_no_global_window(spark, sf, name):
    """Round-9 audit pins: these queries window over unbounded
    (corpus/entity-scale) inputs and were converted to the distributed
    exact rank/ntile/cumsum forms — no unpartitioned Window node may
    reappear in their executed plans.

    Since round 11 the ranking helpers materialize their result with a
    localCheckpoint, which TRUNCATES the returned plan — auditing only
    the final frame would be vacuous. The ranking module's capture
    hook records each helper's pre-checkpoint executed plan; both the
    final plan AND every captured internal plan must be free of
    unpartitioned windows. The assertion that internal plans were
    actually captured keeps this pin from silently going vacuous if
    a query stops using the helpers."""
    from tabata_spark.operators import ranking

    ranking.INTERNAL_PLANS.clear()
    ranking.CAPTURE_INTERNAL_PLANS = True
    try:
        df = battery.QUERIES[name](spark, sf)
    finally:
        ranking.CAPTURE_INTERNAL_PLANS = False
    bad = _unbounded_global_windows(df)
    assert ranking.INTERNAL_PLANS, "pin gone vacuous: no internal plans"
    for plan in ranking.INTERNAL_PLANS:
        bad.extend(_unbounded_global_window_lines(plan))
    ranking.INTERNAL_PLANS.clear()
    assert bad == [], bad


def test_salted_candidates_broadcast_shards_no_self_join(spark):
    """The hot_bucket='salt' path adds exactly one small frame — the
    per-hot-key shard count — and it must meet the banded rows as a
    BROADCAST join (the hot-key set is tiny by construction: over-cap
    keys only). Pair generation stays the in-array expansion: no
    sort-merge/shuffle-hash join, no window sort, anywhere in the
    plan."""
    from tabata_spark.operators.dedup import minhash_candidates

    sig = spark.createDataFrame(
        [(i, list(range(8))) for i in range(40)],
        "doc_id long, sig array<bigint>",
    )
    df = minhash_candidates(
        sig, bands=4, rows=2, max_bucket_size=8, hot_bucket="salt"
    )
    c = plan_counts(df)
    assert c["sortmerge_joins"] == 0 and c["shuffle_hash_joins"] == 0, c
    assert c["broadcast_joins"] >= 1, c  # the shard-count map
    assert c["windows"] == 0, c
    assert c["python_evals"] == 0, c
