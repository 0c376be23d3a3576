"""Stored banded LSH signature index over a transactional dedup corpus.

The continuous-ingestion pipeline (:func:`dedup.dedup_ingest_batch`)
keeps ``(id, text, sig)`` in ONE txlog table; every ingest re-reads
the ``(id, sig)`` projection and re-derives the banded bucket rows.
This module persists that DERIVED banded form — rows
``(band, bh, doc_id)`` in a second txlog table, clustered by ``bh``
on compaction — which buys three things:

- **point near-dup probes** ("is this document already in the
  corpus?", :func:`neardup_probe`): the probe's ~``bands`` bucket
  hashes prune index files from the log alone
  (``txlog.tx_files_for_values``) — after a ``cluster_by=["bh"]``
  compact a probe touches O(bands) files no matter how many files
  the index has, the serving shape a full signature scan can't give;
- **bulk ingest** (:func:`dedup_ingest_batch_indexed`) that reads two
  narrow integer columns instead of re-banding stored signatures;
- a **self-healing derived-state contract**: the index records the
  corpus version it has absorbed as a txn token
  (``sigidx:v{corpus_version}`` — Delta's transaction-identifier
  pattern via ``txlog.tx_txns``), so a crash between the corpus
  commit and the index commit is repaired by the next call's bounded
  catch-up over the corpus' append change feed
  (``txlog.tx_added_files``). Exactly-once guarantees live in the
  CORPUS table alone; the index is reconstructible at any time.

Scale honesty (measured in SCALE.md rule 28): file pruning wins when probe
keys are few relative to file count — a single-doc probe (``bands``
keys) touches ≤ bands files however large the index, but a 100k-doc
bulk batch carries ~1.6M effectively-random bucket hashes and touches
every file, so the bulk path reads the full 3-integer-column
projection and its win is column narrowness + skipped banding, not
file skipping. Stale index entries for corpus rows later deleted by
copy-on-write are harmless: candidates are verified against the
corpus snapshot, and vanished ids simply drop out of the verify join.

Semantics parity: candidate generation, hot-bucket capping, and
exact-Jaccard verification all run through the same
``incremental_near_dup`` path as the unindexed pipeline (the index
read is handed in via its ``corpus_banded`` seam), so the indexed and
unindexed ingest commit byte-identical survivor sets — test-pinned.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from tabata_spark.operators.dedup import (
    _band_hash_array,
    incremental_near_dup,
    minhash_signatures,
    token_shingles,
)
from tabata_spark.sources.txlog import (
    tx_added_files,
    tx_compact,
    tx_files_for_values,
    tx_read,
    tx_read_values,
    tx_txns,
    tx_version,
    tx_write,
)

_TXN_PREFIX = "sigidx:v"


def _meta_path(index_root: str) -> str:
    return os.path.join(index_root, "_sigidx_meta.json")


def _check_meta(index_root: str, geometry: dict) -> None:
    """Validate (or record, on first write) the index geometry — the
    CMS ``_cms_meta.json`` discipline: probing a ``bands=16,rows=2``
    index with ``bands=8,rows=4`` keys would silently miss every
    bucket, so a mismatch raises instead."""
    p = _meta_path(index_root)
    if os.path.exists(p):
        with open(p) as f:
            stored = json.load(f)
        if stored != geometry:
            raise ValueError(
                f"signature-index geometry mismatch: stored {stored}, got {geometry}"
            )
        return
    os.makedirs(index_root, exist_ok=True)
    with open(p, "w") as f:
        json.dump(geometry, f)


def _geometry(num_hashes: int, shingle_n: int, bands: int, rows: int) -> dict:
    return {
        "num_hashes": num_hashes,
        "shingle_n": shingle_n,
        "bands": bands,
        "rows": rows,
    }


def banded_rows(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 16, rows: int = 2
) -> DataFrame:
    """``(band, bh, doc_id)`` bucket-membership rows of a signature
    table — the stored form of the LSH banding expression."""
    return sigs.select(
        F.posexplode(_band_hash_array(bands, rows)).alias("band", "bh"),
        F.col(id_col).alias("doc_id"),
    )


def _indexed_through(index_root: str) -> int:
    """Corpus version the index has absorbed (its txn high-water
    mark); 0 when the index doesn't exist yet."""
    try:
        txns = tx_txns(index_root)
    except (FileNotFoundError, ValueError):
        return 0
    vs = [
        int(t[len(_TXN_PREFIX):])
        for t in txns
        if t.startswith(_TXN_PREFIX) and t[len(_TXN_PREFIX):].isdigit()
    ]
    return max(vs, default=0)


def sigidx_build(
    spark: SparkSession,
    corpus_root: str,
    index_root: str,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 16,
    rows: int = 2,
) -> int:
    """Full rebuild: overwrite the index with the banded rows of the
    corpus' CURRENT snapshot. Returns the corpus version covered."""
    _check_meta(index_root, _geometry(num_hashes, shingle_n, bands, rows))
    corpus_v = tx_version(corpus_root)
    if corpus_v == 0:
        return 0
    try:
        stored = tx_read(spark, corpus_root).select(id_col, "sig")
    except ValueError:
        # non-empty log, EMPTY snapshot (everything deleted): the
        # rebuilt index is empty too — overwrite to drop stale
        # entries and stamp the high-water token if an index exists
        try:
            empty = tx_read(spark, index_root).filter(F.lit(False))
        except (FileNotFoundError, ValueError):
            return corpus_v  # no index rows to clear
        tx_write(
            empty,
            index_root,
            mode="overwrite",
            txn=f"{_TXN_PREFIX}{corpus_v}",
        )
        return corpus_v
    tx_write(
        banded_rows(stored, id_col, bands, rows),
        index_root,
        mode="overwrite",
        txn=f"{_TXN_PREFIX}{corpus_v}",
        stats_cols=["bh"],
    )
    return corpus_v


def sigidx_catchup(
    spark: SparkSession,
    corpus_root: str,
    index_root: str,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 16,
    rows: int = 2,
) -> int:
    """Bring the index up to the corpus' current version.

    Normal case: read ONLY the data files appended by corpus commits
    newer than the index's high-water mark (``tx_added_files`` —
    bounded by the gap, typically one crashed batch) and append their
    banded rows in one idempotent commit. Falls back to a full
    :func:`sigidx_build` on first call or if a gap file has been
    vacuumed away. No-op (0 reads) when already current. Returns the
    corpus version covered."""
    _check_meta(index_root, _geometry(num_hashes, shingle_n, bands, rows))
    corpus_v = tx_version(corpus_root)
    if corpus_v == 0:
        return 0
    vi = _indexed_through(index_root)
    if vi >= corpus_v:
        return vi
    rels = tx_added_files(corpus_root, vi, mode="append")
    paths = [os.path.join(corpus_root, r) for r in rels]
    # Non-append commits in the gap (replace/overwrite with added
    # files — a tx_merge upsert, a compaction, a full rewrite) can
    # introduce or rewrite rows this append-only catch-up would never
    # see, silently breaking candidate completeness. Detect them and
    # fall back to a full rebuild (conservative for pure compactions,
    # correct for everything).
    gap_rewrites = tx_added_files(
        corpus_root, vi, mode="replace"
    ) + tx_added_files(corpus_root, vi, mode="overwrite")
    if vi == 0 or gap_rewrites or any(not os.path.exists(p) for p in paths):
        return sigidx_build(
            spark, corpus_root, index_root, id_col, num_hashes, shingle_n, bands, rows
        )
    if paths:
        add = spark.read.parquet(*paths).select(id_col, "sig")
        tx_write(
            banded_rows(add, id_col, bands, rows),
            index_root,
            mode="append",
            txn=f"{_TXN_PREFIX}{corpus_v}",
            stats_cols=["bh"],
        )
    return corpus_v


def sigidx_compact(spark: SparkSession, index_root: str, n_files: int = 16) -> int:
    """Cluster the index files by ``bh`` (global range sort) so each
    file owns a narrow bucket-hash range — what turns
    ``tx_files_for_values`` probes into O(probe-keys) file reads."""
    return tx_compact(
        spark, index_root, n_files=n_files, cluster_by=["bh"], stats_cols=["bh"]
    )


def sigidx_vacuum(
    spark: SparkSession,
    corpus_root: str,
    index_root: str,
    id_col: str = "doc_id",
    min_stale_ratio: float = 0.3,
    n_files: int = 16,
) -> dict:
    """Shrink the index under corpus churn: drop entries whose doc_ids
    vanished from the corpus snapshot (copy-on-write deletes,
    retention purges). Stale entries are CORRECT to keep — candidates
    verify against the corpus, vanished ids drop out of the verify
    join — but without vacuuming the index grows monotonically under
    delete-heavy workloads, inflating every probe's bucket scan.

    Gated on measured staleness: one narrow (doc_id) anti-tag join
    counts live vs stale rows; only when the stale fraction reaches
    ``min_stale_ratio`` is the rewrite paid (a full overwrite of the
    live rows, range-clustered by ``bh`` into ``n_files`` files so
    per-file bh stats stay probe-prunable — the ``sigidx_compact``
    layout in the same commit, no second pass). The index's
    corpus-version high-water token survives the overwrite (txn
    tokens live outside the active file set), so the next catch-up
    stays a no-op.

    Returns ``{"total_rows", "stale_rows", "stale_ratio", "vacuumed",
    "version"}`` — callers loop ingest → vacuum and the gate makes
    the idle calls cheap (one aggregation, no write). A fresh or
    emptied index is a ZERO-STATS no-op, not an error: the documented
    scheduler loop (ingest → vacuum) must be runnable from t=0,
    before the first ingest ever lands."""
    try:
        idx = tx_read(spark, index_root)
    except (FileNotFoundError, ValueError):
        return {
            "total_rows": 0,
            "stale_rows": 0,
            "stale_ratio": 0.0,
            "vacuumed": False,
            "version": tx_version(index_root),
        }
    try:
        ids = (
            tx_read(spark, corpus_root)
            .select(F.col(id_col).alias("doc_id"))
            .distinct()
        )
    except ValueError:  # corpus snapshot is empty: every entry is stale
        ids = idx.select("doc_id").filter(F.lit(False)).distinct()
    row = (
        idx.join(ids.withColumn("__live", F.lit(True)), "doc_id", "left")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(
                F.when(F.col("__live"), F.lit(1)).otherwise(F.lit(0))
            ).alias("__live_n"),
        )
        .collect()[0]
    )
    total = row["__n"]
    stale = total - (row["__live_n"] or 0)
    ratio = (stale / total) if total else 0.0
    out = {
        "total_rows": int(total),
        "stale_rows": int(stale),
        "stale_ratio": round(ratio, 6),
        "vacuumed": False,
        "version": tx_version(index_root),
    }
    if total == 0 or ratio < min_stale_ratio:
        return out
    live = (
        idx.join(ids, "doc_id", "left_semi")
        .select("band", "bh", "doc_id")
        .repartitionByRange(n_files, "bh")
        .sortWithinPartitions("bh")
    )
    out["version"] = tx_write(
        live, index_root, mode="overwrite", stats_cols=["bh"]
    )
    out["vacuumed"] = True
    return out


def sigidx_maintain(
    spark: SparkSession,
    corpus_root: str,
    index_root: str,
    id_col: str = "doc_id",
    min_stale_ratio: float = 0.3,
    max_files: int = 64,
    n_files: int = 16,
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 16,
    rows: int = 2,
) -> dict:
    """One-call index maintenance — what a scheduler runs between
    ingest waves: (1) catch-up to the corpus head (bounded append
    reads, full rebuild over rewrite gaps), (2) gated vacuum of
    entries orphaned by corpus deletes, (3) re-cluster by bucket hash
    when the active file count exceeds ``max_files`` (appends and
    vacuums fragment the bh-range layout that point probes prune on).
    Each step is idempotent and crash-safe on its own (txlog commits),
    so a crash mid-maintenance just leaves less maintenance done.
    Returns a summary dict (corpus version covered, vacuum stats,
    whether a compact ran)."""
    covered = sigidx_catchup(
        spark, corpus_root, index_root, id_col,
        num_hashes, shingle_n, bands, rows,
    )
    vac = sigidx_vacuum(
        spark, corpus_root, index_root, id_col,
        min_stale_ratio=min_stale_ratio, n_files=n_files,
    )
    from tabata_spark.sources.txlog import _resolve  # file count, no read

    compacted = False
    if len(_resolve(index_root)["active"]) > max_files:
        sigidx_compact(spark, index_root, n_files=n_files)
        compacted = True
    return {"covered_version": covered, "vacuum": vac, "compacted": compacted}


def probe_candidates(
    spark: SparkSession, index_root: str, keys: list[tuple[int, int]]
) -> DataFrame:
    """Distinct corpus doc_ids sharing any (band, bh) bucket with the
    probe keys. The bh IN-list prunes index FILES from the log; the
    exact (band, bh) pairs are then matched via a broadcast literal
    frame (band alone is low-cardinality; bh carries the entropy)."""
    idx = tx_read_values(spark, index_root, "bh", [bh for _, bh in keys])
    key_df = spark.createDataFrame(
        [(int(b), int(h)) for b, h in keys], "band int, bh bigint"
    )
    return (
        idx.join(F.broadcast(key_df), ["band", "bh"], "left_semi")
        .select("doc_id")
        .distinct()
    )


def neardup_probe(
    spark: SparkSession,
    corpus_root: str,
    index_root: str,
    text_value: str,
    id_col: str = "doc_id",
    text: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 16,
    rows: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Point near-dup lookup: corpus documents whose exact n-gram
    Jaccard with ``text_value`` is ≥ ``threshold``, found via the
    stored index — ``(doc_id, jaccard)``, the interactive serving
    query ("has this exact-ish page been crawled before?").

    Cost shape: one 1-row signature job, an index read pruned to the
    files owning the probe's ≤ ``bands`` bucket hashes, and a verify
    that reads ONLY the corpus files whose log id-stats admit a
    candidate (tx_read_values — without it the verify re-scans the
    whole corpus and dominates: measured r8, 6.5 s of an 8.6 s probe
    at 2M docs). No corpus-wide work anywhere.

    Verify formulation note: the candidate shingles are EXPLODED and
    intersected via an aggregation (membership in the probe's literal
    shingle set), not via ``array_intersect`` in a projection chain.
    The projection form inlines ``token_shingles`` into the
    threshold filter when Catalyst collapses projects, and the
    resulting duplicated higher-order-function tree cost ~9 s per
    probe REGARDLESS of row count (measured on a 2-row table);
    ``dedup.py``'s pairwise verifies never hit this because their
    arrays arrive behind join boundaries. Post-aggregation the filter
    sees only scalar attributes — nothing to inline."""
    _check_meta(index_root, _geometry(num_hashes, shingle_n, bands, rows))
    probe = spark.createDataFrame(
        [("__probe__", text_value)], f"{id_col} string, {text} string"
    )
    sig = minhash_signatures(probe, text, id_col, num_hashes, shingle_n)
    keys = [
        (r["band"], r["bh"]) for r in banded_rows(sig, id_col, bands, rows).collect()
    ]
    cand_ids = [r[0] for r in probe_candidates(spark, index_root, keys).collect()]
    if not cand_ids:
        return tx_read(spark, corpus_root).select(
            F.col(id_col), F.lit(0.0).alias("jaccard")
        ).filter(F.lit(False))
    corpus = tx_read_values(spark, corpus_root, id_col, cand_ids)
    # probe shingle set python-side — the same distinct word n-grams
    # token_shingles computes (short texts fall back to the whole
    # token string), tiny (O(probe tokens)), and entering the plan as
    # a literal IN-list instead of a per-row expression tree
    toks = text_value.split(" ")
    pset = sorted(
        {
            " ".join(toks[i : i + shingle_n])
            for i in range(max(len(toks) - (shingle_n - 1), 1))
        }
    )
    cand_sh = corpus.select(
        id_col, F.explode(token_shingles(text, shingle_n)).alias("__sh")
    )
    stats = cand_sh.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.when(F.col("__sh").isin(pset), F.lit(1)).otherwise(F.lit(0))
        ).alias("__i"),
    )
    jac = F.col("__i") / (F.col("__n") + F.lit(len(pset)) - F.col("__i"))
    return (
        stats.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(id_col, "jaccard")
    )


def dedup_ingest_batch_indexed(
    spark: SparkSession,
    root: str,
    index_root: str,
    new: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    txn: str | None = None,
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 16,
    rows: int = 2,
    threshold: float = 0.8,
    max_bucket_size: int = 100,
    prune_key_limit: int = 0,
) -> int:
    """:func:`dedup.dedup_ingest_batch` with the corpus side served
    by the stored signature index instead of a signature-column scan.

    Flow: (1) catch-up — repair any index lag from a prior crash
    (required for candidate completeness, not just hygiene);
    (2) candidate generation via ``incremental_near_dup`` with the
    index read plugged into its ``corpus_banded`` seam — identical
    drop semantics to the unindexed pipeline; (3) survivors commit
    atomically to the CORPUS (``txn`` = the exactly-once token);
    (4) a second catch-up absorbs the just-committed survivors (and
    any concurrent writer's commits) into the index under its own
    idempotent token. A crash anywhere leaves a state the next call
    repairs.

    ``prune_key_limit`` > 0 enables log-stats file pruning for SMALL
    batches (e.g. streaming micro-batches): if the batch has at most
    that many distinct bucket hashes, only index files owning them
    are read; bulk batches read the full narrow projection (their key
    sets touch every file — see module docstring). Returns the
    committed (or replayed) corpus version."""
    _check_meta(index_root, _geometry(num_hashes, shingle_n, bands, rows))
    sigidx_catchup(
        spark, corpus_root=root, index_root=index_root, id_col=id_col,
        num_hashes=num_hashes, shingle_n=shingle_n, bands=bands, rows=rows,
    )
    new = new.select(F.col(id_col), F.col(text))
    try:
        stored = tx_read(spark, root)
        corpus = stored.select(id_col, text)
        have_corpus = True
    except ValueError:  # first batch: empty corpus
        corpus = spark.createDataFrame([], new.schema)
        have_corpus = False
    new_sigs = minhash_signatures(new, text, id_col, num_hashes, shingle_n)

    corpus_banded = None
    if have_corpus:
        idx = None
        if prune_key_limit > 0:
            batch_keys = [
                r["bh"]
                for r in banded_rows(new_sigs, id_col, bands, rows)
                .select("bh")
                .distinct()
                .limit(prune_key_limit + 1)
                .collect()
            ]
            # SELF-GATING (r8c measurement): pruning only pays when
            # the batch's bucket keys skip MOST index files — a
            # 1k-doc batch carries ~14k distinct keys, which hit
            # every one of 256 files (expected misses ~0), so the
            # "pruned" path was pure overhead (15.9 s vs 9.7 s plain
            # full-scan ingest); even a 16-doc batch (37% skippable)
            # broke even at best locally. The winning regime is the
            # point-probe one (1-4 docs, >75% skipped). So: consult
            # the log stats first (driver-side bisect, no I/O) and
            # engage the pruned-read path only when at least half
            # the files drop; on an object store every skipped file
            # is a saved GET, so deployments there may relax this.
            if len(batch_keys) <= prune_key_limit:
                kept_f, skipped = tx_files_for_values(
                    index_root, "bh", batch_keys
                )
                if skipped >= max(len(kept_f), 1):
                    idx = tx_read_values(spark, index_root, "bh", batch_keys)
                    # step 2: candidate OLD ids are the index rows
                    # sharing a bucket with the batch — collect them
                    # (bounded by the batch's bucket collisions) and
                    # swap the full-corpus verify frame for a
                    # log-stats-pruned id read, so the verify's
                    # semi-join stops SCANNING every corpus text (it
                    # bounds compute, not I/O).
                    key_df = spark.createDataFrame(
                        [(int(k),) for k in batch_keys], "bh bigint"
                    )
                    cand_old = [
                        r[0]
                        for r in idx.join(
                            F.broadcast(key_df), "bh", "left_semi"
                        )
                        .select("doc_id")
                        .distinct()
                        .limit(prune_key_limit + 1)
                        .collect()
                    ]
                    if len(cand_old) <= prune_key_limit:
                        corpus = (
                            tx_read_values(spark, root, id_col, cand_old)
                            if cand_old
                            else corpus.filter(F.lit(False))
                        ).select(id_col, text)
        if idx is None:
            idx = tx_read(spark, index_root)
        corpus_banded = idx.select("band", "bh", F.col("doc_id").alias("__id"))

    pairs = incremental_near_dup(
        corpus,
        new,
        text=text,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        bands=bands,
        rows=rows,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
        new_sigs=new_sigs,
        corpus_banded=corpus_banded,
    )
    flags = new.select(F.col(id_col).alias("__fid"), F.lit(True).alias("__new"))
    tagged = (
        pairs.join(
            F.broadcast(
                flags.select(F.col("__fid").alias("id_a"), F.col("__new").alias("a_new"))
            ),
            "id_a",
            "left",
        )
        .join(
            F.broadcast(
                flags.select(F.col("__fid").alias("id_b"), F.col("__new").alias("b_new"))
            ),
            "id_b",
            "left",
        )
        .select(
            "id_a",
            "id_b",
            F.coalesce("a_new", F.lit(False)).alias("a_new"),
            F.coalesce("b_new", F.lit(False)).alias("b_new"),
        )
    )
    dropped = (
        tagged.select(
            F.when(F.col("a_new") & ~F.col("b_new"), F.col("id_a"))
            .when(F.col("b_new"), F.col("id_b"))
            .alias("__did")
        )
        .filter(F.col("__did").isNotNull())
        .distinct()
    )
    survivors = new.join(
        dropped, new[id_col] == dropped["__did"], "left_anti"
    ).join(new_sigs.select(F.col(id_col), F.col("sig")), id_col)
    # per-file id stats let point probes (neardup_probe's verify) and
    # targeted re-reads prune corpus files from the log; micro-batch
    # appends carry naturally tight id ranges, so the stats are sharp
    version = tx_write(
        survivors.select(id_col, text, "sig"), root, txn=txn,
        stats_cols=[id_col],
    )
    sigidx_catchup(
        spark, corpus_root=root, index_root=index_root, id_col=id_col,
        num_hashes=num_hashes, shingle_n=shingle_n, bands=bands, rows=rows,
    )
    return version
