"""Transactional table log (sources/txlog.py): atomic commits,
snapshot reads, time travel, optimistic-concurrency retry,
file-granular copy-on-write delete, compact + vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tabata_spark.sources.txlog import (
    tx_compact,
    tx_delete_where,
    tx_history,
    tx_merge,
    tx_read,
    tx_vacuum,
    tx_write,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def test_append_snapshot_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = tx_write(_df(spark, 0, 10, "a"), root)
    v2 = tx_write(_df(spark, 10, 25, "b"), root)
    assert (v1, v2) == (1, 2)
    assert tx_read(spark, root).count() == 25
    assert tx_read(spark, root, version=1).count() == 10
    assert {r["tag"] for r in tx_read(spark, root, version=1).collect()} == {"a"}


def test_overwrite_replaces_snapshot_keeps_history(spark, tmp_path):
    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a"), root)
    tx_write(_df(spark, 0, 5, "b"), root, mode="overwrite")
    assert tx_read(spark, root).count() == 5
    assert {r["tag"] for r in tx_read(spark, root).collect()} == {"b"}
    assert tx_read(spark, root, version=1).count() == 10  # time travel


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a"), root)      # ids 0-9
    tx_write(_df(spark, 100, 110, "b"), root)   # ids 100-109 — untouched
    before = tx_history(root)
    first_files, second_files = set(before[0]["add"]), set(before[1]["add"])
    tx_delete_where(spark, root, F.col("id") < 5)
    got = sorted(r["id"] for r in tx_read(spark, root).collect())
    assert got == list(range(5, 10)) + list(range(100, 110))
    last = tx_history(root)[-1]
    assert last["mode"] == "replace"
    # file-granular CoW: only files of the FIRST append (where ids < 5
    # live) may be rewritten; the second append's files survive
    assert set(last["remove"]) <= first_files
    assert set(last["remove"]).isdisjoint(second_files)
    assert len(last["remove"]) >= 1


def test_delete_where_dropping_all_matching_files_adds_nothing(spark, tmp_path):
    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a"), root)
    tx_write(_df(spark, 100, 110, "b"), root)
    first_files = set(tx_history(root)[0]["add"])
    tx_delete_where(spark, root, F.col("id") < 50)  # empties append 1
    last = tx_history(root)[-1]
    assert last["add"] == [] and set(last["remove"]) == first_files
    assert sorted(r["id"] for r in tx_read(spark, root).collect()) == list(
        range(100, 110)
    )


def test_commit_race_retries_to_next_version(spark, tmp_path):
    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 5, "a"), root)
    # another writer claims version 2 first
    logd = os.path.join(root, "_txlog")
    with open(os.path.join(logd, f"{2:020d}.json"), "x") as fh:
        fh.write('{"version": 2, "mode": "append", "add": [], "remove": []}')
    v = tx_write(_df(spark, 5, 9, "b"), root)
    assert v == 3  # lost the race at 2, retried
    assert tx_read(spark, root).count() == 9


def test_compact_and_vacuum(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(4):
        tx_write(_df(spark, i * 10, i * 10 + 10, f"t{i}"), root)
    n_precompact = sum(len(c["add"]) for c in tx_history(root))
    tx_compact(spark, root, n_files=1)
    assert tx_read(spark, root).count() == 40
    # retention window (in-flight-writer protection) keeps fresh files
    assert tx_vacuum(root) == []
    removed = tx_vacuum(root, retention_s=0)
    assert len(removed) == n_precompact  # every pre-compaction file
    assert tx_read(spark, root).count() == 40  # latest snapshot intact
    datad = os.path.join(root, "data")
    assert len(os.listdir(datad)) == 1  # emptied dirs pruned


def test_merge_upserts_and_rewrites_only_matched_files(spark, tmp_path):
    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a"), root)      # ids 0-9
    tx_write(_df(spark, 100, 110, "b"), root)   # ids 100-109 — no matches
    hist = tx_history(root)
    first_files, second_files = set(hist[0]["add"]), set(hist[1]["add"])
    # update ids 3,4 and insert ids 200,201
    src = spark.createDataFrame(
        [(3, "new"), (4, "new"), (200, "new"), (201, "new")],
        "id long, tag string",
    )
    tx_merge(spark, root, src, ["id"])
    rows = {r["id"]: r["tag"] for r in tx_read(spark, root).collect()}
    assert len(rows) == 22  # 10 + 10 + 2 inserts, no dup keys
    assert rows[3] == rows[4] == rows[200] == rows[201] == "new"
    assert rows[5] == "a" and rows[105] == "b"
    last = tx_history(root)[-1]
    assert last["mode"] == "replace"
    # CoW: only files of the first append (where ids 3,4 live) rewritten
    assert set(last["remove"]) <= first_files
    assert set(last["remove"]).isdisjoint(second_files)
    # atomicity: pre-merge snapshot unchanged
    assert tx_read(spark, root, version=2).count() == 20


def test_read_empty_table_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no data"):
        tx_read(spark, str(tmp_path / "nope"))


def test_txn_token_makes_write_idempotent(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = tx_write(_df(spark, 0, 10, "a"), root, txn="job:1")
    v2 = tx_write(_df(spark, 0, 10, "a"), root, txn="job:1")  # replay
    assert v1 == v2 == 1
    assert tx_read(spark, root).count() == 10  # not doubled
    tx_write(_df(spark, 10, 15, "b"), root, txn="job:2")
    assert tx_read(spark, root).count() == 15


def test_stream_txlog_append_exactly_once_across_restart(spark, tmp_path):
    from tabata_spark.streaming.sinks import stream_txlog_append

    src_dir = str(tmp_path / "src")
    root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    _df(spark, 0, 100, "a").write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = stream_txlog_append(stream, root, ck, app_id="ingest")
    q.awaitTermination(120)
    assert tx_read(spark, root).count() == 100

    # restart with a FRESH checkpoint (worst case: batch ids replay
    # from 0) — the txn tokens in the log must swallow the replay
    ck2 = str(tmp_path / "ck2")
    stream2 = spark.readStream.schema(schema).parquet(src_dir)
    q2 = stream_txlog_append(stream2, root, ck2, app_id="ingest")
    q2.awaitTermination(120)
    assert tx_read(spark, root).count() == 100  # no duplicates


def test_clustered_compact_localizes_merge(spark, tmp_path):
    root = str(tmp_path / "t")
    # 4 appends with interleaved keys -> every dir holds every range
    for i in range(4):
        tx_write(
            spark.range(i, 4000, 4).select(F.col("id"), F.lit(f"t{i}").alias("tag")),
            root,
        )
    tx_compact(spark, root, n_files=4, cluster_by=["id"])
    assert len(tx_history(root)[-1]["add"]) == 4  # 4 range-disjoint files
    # point-merge on two adjacent keys must touch exactly ONE file
    src = spark.createDataFrame([(10, "new"), (11, "new")], "id long, tag string")
    tx_merge(spark, root, src, ["id"])
    last = tx_history(root)[-1]
    assert len(last["remove"]) == 1  # clustered: one touched file of 4
    rows = {r["id"]: r["tag"] for r in tx_read(spark, root).collect()}
    assert len(rows) == 4000 and rows[10] == rows[11] == "new" and rows[12] != "new"


def test_schema_enforcement_rejects_mismatched_writes(spark, tmp_path):
    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a"), root)  # id long, tag string
    bad_type = spark.createDataFrame([(1, 2)], "id long, tag int")
    with pytest.raises(ValueError, match="schema mismatch"):
        tx_write(bad_type, root)
    bad_name = spark.createDataFrame([(1, "x")], "id long, label string")
    with pytest.raises(ValueError, match="schema mismatch"):
        tx_merge(spark, root, bad_name, ["id"])
    # matching write still lands
    tx_write(_df(spark, 10, 12, "b"), root)
    assert tx_read(spark, root).count() == 12


def test_concurrent_replace_conflict_detected(spark, tmp_path):
    """The review-found corruption: a replace committed against a
    snapshot that a concurrent compact invalidated must raise, not
    resurrect deleted rows / duplicate survivors."""
    from tabata_spark.sources.txlog import TxConflictError, _commit, _latest_version

    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 100, "a"), root)
    base = _latest_version(root)
    files_before = set(tx_history(root)[0]["add"])
    # writer A compacts (a replace lands after our base)
    tx_compact(spark, root, n_files=1)
    # writer B tries to commit its stale delete
    with pytest.raises(TxConflictError, match="invalidated"):
        _commit(root, "replace", [], sorted(files_before), base_version=base)
    # and the high-level ops re-read the log, so a fresh delete works
    tx_delete_where(spark, root, F.col("id") < 10)
    assert tx_read(spark, root).count() == 90


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a"), root)
    dup = spark.createDataFrame(
        [(3, "x"), (3, "y")], "id long, tag string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        tx_merge(spark, root, dup, ["id"])
    assert tx_read(spark, root).count() == 10  # table untouched


def test_partial_commit_file_is_ignored_and_version_not_bricked(spark, tmp_path):
    """A crashed writer's empty claim must not brick the table: with
    link-based commits a half-written entry can only exist under a
    .tmp name, which _commits ignores."""
    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a"), root)
    logd = os.path.join(root, "_txlog")
    open(os.path.join(logd, ".tmp-deadbeef"), "w").close()  # crashed writer
    assert tx_read(spark, root).count() == 10  # reads unaffected
    tx_write(_df(spark, 10, 12, "b"), root)  # writes unaffected
    assert tx_read(spark, root).count() == 12


def test_restore_returns_to_old_snapshot_as_new_version(spark, tmp_path):
    from tabata_spark.sources.txlog import tx_restore

    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a"), root)           # v1
    tx_write(_df(spark, 10, 30, "b"), root)          # v2
    tx_delete_where(spark, root, F.col("id") < 20)   # v3: only 20-29 left
    assert tx_read(spark, root).count() == 10
    v = tx_restore(root, 2)
    assert v == 4  # restore is itself a commit
    assert tx_read(spark, root).count() == 30  # v2 snapshot back
    assert tx_read(spark, root, version=3).count() == 10  # history intact
    # restoring past vacuumed files raises
    # a version the table never had must be rejected, not silently
    # no-op'd (review finding r7 pass 2)
    with pytest.raises(ValueError, match="no version"):
        tx_restore(root, 99)
    # restoring a legitimately-EMPTY snapshot works
    tx_delete_where(spark, root, F.lit(True))
    empty_v = tx_history(root)[-1]["version"]
    tx_write(_df(spark, 0, 5, "z"), root)
    tx_restore(root, empty_v)
    with pytest.raises(ValueError, match="no data"):
        tx_read(spark, root)
    tx_compact_ok = False
    try:
        tx_compact(spark, root)
    except ValueError:
        tx_compact_ok = True  # compacting an empty table raises no-data
    assert tx_compact_ok
    tx_restore(root, 2)  # back to a populated snapshot
    assert tx_read(spark, root).count() == 30
    tx_vacuum(root, retention_s=0)
    # v1's files survive (still referenced by the restored snapshot? no —
    # v1 files are a subset of v2's actives) — restore to a version whose
    # files were vacuumed must raise
    tx_delete_where(spark, root, F.col("id") >= 0)
    tx_vacuum(root, retention_s=0)
    with pytest.raises(ValueError, match="vacuumed"):
        tx_restore(root, 2)


def test_random_op_sequences_match_versioned_model(spark, tmp_path):
    """Model-based check: random append/delete/merge/compact/restore
    sequences against an in-memory versioned model — the snapshot
    after every sequence AND time travel to every intermediate version
    must equal the model's history. Log checkpoints are interleaved at
    random (they are NOT commits, so versions don't advance), so both
    current-state and time-travel resolution are exercised through
    checkpoint-accelerated paths."""
    import random

    from tabata_spark.sources.txlog import tx_checkpoint, tx_restore

    rnd = random.Random(1746)
    for trial in range(3):
        root = str(tmp_path / f"t{trial}")
        # model_versions[v] = {id: tag} after version v (v0 = empty)
        model = [{}]
        next_id = 0

        def mk(rows):
            return spark.createDataFrame(
                [(i, t) for i, t in rows], "id long, tag string"
            )

        ops = ["append", "delete", "merge", "compact", "restore"]
        for step in range(7):
            op = rnd.choice(ops if len(model) > 1 else ["append"])
            cur = dict(model[-1])
            if op == "append":
                n = rnd.randint(3, 20)
                rows = [(next_id + j, f"a{step}") for j in range(n)]
                next_id += n
                tx_write(mk(rows), root)
                cur.update(rows)
            elif op == "delete":
                m = rnd.randint(2, 5)
                tx_delete_where(spark, root, F.col("id") % m == 0)
                cur = {i: t for i, t in cur.items() if i % m != 0}
            elif op == "merge":
                upd = rnd.sample(sorted(cur), min(len(cur), 4)) if cur else []
                new = [next_id + j for j in range(3)]
                next_id += 3
                rows = [(i, f"m{step}") for i in upd + new]
                tx_merge(spark, root, mk(rows), ["id"])
                cur.update(rows)
            elif op == "compact":
                tx_compact(spark, root, n_files=2, cluster_by=["id"])
                # state unchanged
            elif op == "restore":
                v = rnd.randint(1, len(model) - 1)
                tx_restore(root, v)
                cur = dict(model[v])
            model.append(cur)
            if rnd.random() < 0.35:
                tx_checkpoint(root)

        got = {r["id"]: r["tag"] for r in tx_read(spark, root).collect()}
        assert got == model[-1], f"trial {trial}: final snapshot diverged"
        # time travel: two random intermediate versions must replay
        for v in rnd.sample(range(1, len(model)), 2):
            if model[v]:
                tv = {
                    r["id"]: r["tag"]
                    for r in tx_read(spark, root, version=v).collect()
                }
                assert tv == model[v], f"trial {trial}: version {v} diverged"


def test_schema_evolution_adds_columns_with_nulls(spark, tmp_path):
    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a"), root)  # id, tag
    wide = spark.createDataFrame(
        [(100 + i, "b", float(i)) for i in range(5)],
        "id long, tag string, score double",
    )
    # without evolve: refused
    with pytest.raises(ValueError, match="schema mismatch"):
        tx_write(wide, root)
    tx_write(wide, root, evolve=True)
    out = tx_read(spark, root)
    assert out.columns == ["id", "tag", "score"]  # canonical order
    rows = {r["id"]: r["score"] for r in out.collect()}
    assert len(rows) == 15
    assert rows[0] is None and rows[100] == 0.0  # old rows -> nulls
    # time travel shows version 1 under ITS era's schema
    assert tx_read(spark, root, version=1).columns == ["id", "tag"]
    # evolution may only ADD: type change / drop still refused
    bad = spark.createDataFrame([(1, 2, 0.0)], "id long, tag int, score double")
    with pytest.raises(ValueError, match="ADD"):
        tx_write(bad, root, evolve=True)
    # a later compact converges every file to the wide schema
    tx_compact(spark, root)
    assert tx_read(spark, root).count() == 15


def test_data_skipping_prunes_files_from_log_stats(spark, tmp_path):
    from tabata_spark.sources.txlog import tx_files_for_range, tx_read_range

    root = str(tmp_path / "t")
    for i in range(4):
        tx_write(
            spark.range(i, 4000, 4).select(F.col("id"), F.lit(f"t{i}").alias("tag")),
            root,
        )
    tx_compact(spark, root, n_files=4, cluster_by=["id"])  # auto-stats on id
    stats = tx_history(root)[-1].get("stats", {})
    assert len(stats) == 4 and all("id" in s for s in stats.values())

    kept, skipped = tx_files_for_range(root, "id", 100, 120)
    assert len(kept) == 1 and skipped == 3  # disjoint ranges: one file

    got = sorted(r["id"] for r in tx_read_range(spark, root, "id", 100, 120).collect())
    assert got == list(range(100, 121))

    # out-of-range read returns empty, not an error
    assert tx_read_range(spark, root, "id", 10_000, 20_000).count() == 0


def test_data_skipping_conservative_without_stats(spark, tmp_path):
    from tabata_spark.sources.txlog import tx_files_for_range

    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 100, "a"), root)  # no stats_cols -> no stats
    kept, skipped = tx_files_for_range(root, "id", 5, 6)
    assert skipped == 0  # statless files are kept conservatively
    assert len(kept) >= 1


def test_contended_writers_land_every_commit_without_gaps(tmp_path):
    """VERDICT r7 item 3: N writers × M commits through the claim
    seam must yield exactly N*M contiguous versions with every
    writer's payload landing exactly once — the concurrency contract
    an object-store conditional-PUT strategy must also meet."""
    import threading

    from tabata_spark.sources.txlog import _commit, tx_history

    root = str(tmp_path / "t")
    os.makedirs(root)
    N, M = 5, 4  # others' total (16) < _MAX_RETRIES: no spurious giveup
    errors = []

    def writer(w):
        try:
            for j in range(M):
                _commit(root, "append", [f"data/w{w}/f{j}.parquet"], [])
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(N)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    hist = tx_history(root)
    assert [c["version"] for c in hist] == list(range(1, N * M + 1))
    added = [f for c in hist for f in c["add"]]
    assert len(added) == len(set(added)) == N * M


def test_contended_same_txn_token_lands_exactly_once(tmp_path):
    """Racing writers replaying the SAME txn token (streaming batch
    re-delivery): exactly one commit lands, every racer learns that
    version — the exactly-once guarantee under contention."""
    import threading

    from tabata_spark.sources.txlog import _commit, tx_history

    root = str(tmp_path / "t")
    os.makedirs(root)
    versions, lock = [], __import__("threading").Lock()

    def writer(w):
        v = _commit(root, "append", [f"data/w{w}.parquet"], [], txn="batch:0")
        with lock:
            versions.append(v)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert versions == [1, 1, 1, 1]
    hist = tx_history(root)
    assert len(hist) == 1 and len(hist[0]["add"]) == 1  # one payload only


def test_claim_strategy_is_injectable_per_table(spark, tmp_path):
    """The object-store seam: a per-table claim strategy is used for
    every commit, a denial (conditional-PUT precondition failure) is
    retried, and clearing the strategy restores the default."""
    from tabata_spark.sources.txlog import FilesystemClaim, tx_set_claimer

    root = str(tmp_path / "t")
    calls = []

    class RecordingFlakyPut(FilesystemClaim):
        """Denies the first 2 claims (simulated lost conditional
        PUTs), then delegates to the filesystem claim."""

        denials = 2

        def claim(self, logd, name, payload):
            calls.append(name)
            if self.denials:
                self.denials -= 1
                return False
            return super().claim(logd, name, payload)

    tx_set_claimer(root, RecordingFlakyPut())
    try:
        v = tx_write(_df(spark, 0, 5, "a"), root)
        assert v == 1  # denials retried at the SAME version, then won
        assert calls == [f"{1:020d}.json"] * 3
    finally:
        tx_set_claimer(root, None)
    tx_write(_df(spark, 5, 9, "b"), root)
    assert len(calls) == 3  # default restored — strategy not consulted
    assert tx_read(spark, root).count() == 9


def test_checkpoint_written_at_interval_and_accelerates_resolution(
    spark, tmp_path
):
    """VERDICT r7 item 4 (Delta's checkpoint design): every
    CHECKPOINT_INTERVAL commits the resolved state is summarized;
    snapshot resolution then reads ONE checkpoint + the commit
    suffix, with time travel before/between checkpoints intact."""
    from tabata_spark.sources import txlog as T

    root = str(tmp_path / "t")
    old = T.CHECKPOINT_INTERVAL
    T.CHECKPOINT_INTERVAL = 5
    try:
        for i in range(12):
            tx_write(_df(spark, i * 10, i * 10 + 10, f"t{i}"), root)
    finally:
        T.CHECKPOINT_INTERVAL = old
    logd = os.path.join(root, "_txlog")
    ckpts = sorted(f for f in os.listdir(logd) if f.endswith(".checkpoint.json"))
    assert ckpts == [f"{5:020d}.checkpoint.json", f"{10:020d}.checkpoint.json"]
    assert tx_read(spark, root).count() == 120
    assert tx_read(spark, root, version=3).count() == 30   # before ckpt 1
    assert tx_read(spark, root, version=7).count() == 70   # between ckpts
    # resolution reads only the suffix past the newest checkpoint
    reads = []
    orig = T._read_commit
    T._read_commit = lambda r, v: (reads.append(v), orig(r, v))[1]
    try:
        state = T._resolve(root)
    finally:
        T._read_commit = orig
    assert state["version"] == 12 and sorted(reads) == [11, 12]
    # manual checkpoint at the head closes the suffix entirely
    assert T.tx_checkpoint(root) == 12
    reads.clear()
    T._read_commit = lambda r, v: (reads.append(v), orig(r, v))[1]
    try:
        assert T._resolve(root)["version"] == 12
    finally:
        T._read_commit = orig
    assert reads == []


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """ADVICE r7: SQL DELETE removes rows where the predicate is
    TRUE; rows where it evaluates to NULL must SURVIVE the
    copy-on-write rewrite (a bare filter(~cond) would drop them)."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id long, tag string"
    ).coalesce(1)  # one file: NULL rows share it with the deleted row
    tx_write(df, root)
    tx_delete_where(spark, root, F.col("tag") == "a")
    got = sorted(r["id"] for r in tx_read(spark, root).collect())
    assert got == [2, 3, 4]  # only id=1 (TRUE) deleted; NULL-tag rows kept


def test_cow_rewrite_preserves_evolved_columns(spark, tmp_path):
    """ADVICE r7: a delete/merge whose touched set mixes old- and
    new-schema files must rewrite under the canonical merged schema —
    not silently drop evolved columns from the committed snapshot."""
    root = str(tmp_path / "t")
    tx_write(_df(spark, 0, 10, "a").coalesce(1), root)  # id, tag
    wide = spark.createDataFrame(
        [(100 + i, "b", float(i)) for i in range(5)],
        "id long, tag string, score double",
    ).coalesce(1)
    tx_write(wide, root, evolve=True)
    # delete touches BOTH files (one old-schema, one new-schema)
    tx_delete_where(spark, root, F.col("id").isin(0, 100))
    out = tx_read(spark, root)
    assert out.columns == ["id", "tag", "score"]
    rows = {r["id"]: r["score"] for r in out.collect()}
    assert len(rows) == 13
    assert rows[101] == 1.0      # evolved column survived the rewrite
    assert rows[1] is None       # old-era row: null, not dropped
    # predicate on the EVOLVED column works against the mixed set
    tx_delete_where(spark, root, F.col("score") > 3.5)
    assert sorted(r["id"] for r in tx_read(spark, root).collect()) == [
        1, 2, 3, 4, 5, 6, 7, 8, 9, 101, 102, 103,
    ]
    # merge across the mixed set preserves the evolved column too
    src = spark.createDataFrame(
        [(2, "m", None), (102, "m", 9.0)], "id long, tag string, score double"
    )
    tx_merge(spark, root, src, ["id"])
    rows2 = {r["id"]: (r["tag"], r["score"]) for r in tx_read(spark, root).collect()}
    assert rows2[102] == ("m", 9.0)
    assert rows2[103] == ("b", 3.0)  # untouched new-era neighbor intact
    assert rows2[2] == ("m", None)


def test_zorder_compact_prunes_boxes_on_every_dimension(spark, tmp_path):
    """OPTIMIZE ZORDER BY: after a z-order compact on (x, y), log
    stats prune multi-dim boxes AND single-dim ranges on either
    column — where a 1-D cluster_by only ever prunes its leading key.
    Box reads stay exact."""
    from tabata_spark.sources.txlog import (
        tx_compact,
        tx_files_for_box,
        tx_read_box,
    )

    # 64x64 grid, two independent dimensions
    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("v"),
    )

    zroot = str(tmp_path / "z")
    tx_write(grid, zroot)
    tx_compact(spark, zroot, n_files=16, zorder_by=["x", "y"])

    # 2-dim box covering ~1/16 of the area: most files skipped
    _, skipped = tx_files_for_box(zroot, {"x": (0, 15), "y": (0, 15)})
    assert skipped >= 8
    # single-dim boxes prune on BOTH columns (no leading-key bias)
    _, skipped_x = tx_files_for_box(zroot, {"x": (0, 7)})
    _, skipped_y = tx_files_for_box(zroot, {"y": (0, 7)})
    assert skipped_x > 0 and skipped_y > 0

    # exactness through the pruned scan
    got = sorted(
        r["v"]
        for r in tx_read_box(spark, zroot, {"x": (0, 15), "y": (0, 15)}).collect()
    )
    exp = sorted(i for i in range(4096) if i % 64 <= 15 and i // 64 <= 15)
    assert got == exp

    # contrast: 1-D cluster on x prunes x but NOTHING on y
    croot = str(tmp_path / "c")
    tx_write(grid, croot)
    tx_compact(spark, croot, n_files=16, cluster_by=["x"], stats_cols=["x", "y"])
    _, c_skipped_x = tx_files_for_box(croot, {"x": (0, 7)})
    _, c_skipped_y = tx_files_for_box(croot, {"y": (0, 7)})
    assert c_skipped_x > 0
    assert c_skipped_y == 0  # every file spans all of y

    # guard rails
    with pytest.raises(ValueError, match="mutually exclusive"):
        tx_compact(spark, zroot, cluster_by=["x"], zorder_by=["x", "y"])
    nulls = spark.createDataFrame([(None, 1)], "a long, b long")
    nroot = str(tmp_path / "n")
    tx_write(nulls, nroot)
    with pytest.raises(ValueError, match="all-null"):
        tx_compact(spark, nroot, zorder_by=["a", "b"])


def test_read_values_large_list_uses_broadcast_join_and_matches(
    spark, tmp_path
):
    # >64 probe values switch tx_read_values from a literal IN filter
    # to a broadcast semi-join (the 16k-value isin was a measured 2.5x
    # regression, SCALE.md rule 27) — results must be identical either way,
    # missing values silently absent, and file pruning still applies.
    from tabata_spark.sources.txlog import tx_files_for_values, tx_read_values

    root = str(tmp_path / "t")
    tx_write(
        spark.range(4000).select(
            F.col("id"), (F.col("id") % 7).alias("v")
        ).repartitionByRange(4, "id"),
        root,
        stats_cols=["id"],
    )
    # 100 probes: 90 present (spread over two files) + 10 absent
    vals = list(range(0, 90)) + list(range(1900, 1905)) + list(range(9000, 9005))
    assert len(vals) > 64
    got = sorted(r["id"] for r in tx_read_values(spark, root, "id", vals).collect())
    assert got == list(range(0, 90)) + list(range(1900, 1905))
    # small-list path agrees on the same data
    small = sorted(
        r["id"] for r in tx_read_values(spark, root, "id", [3, 1901, 9999]).collect()
    )
    assert small == [3, 1901]
    # pruning still applies to the large list: ids 0-89 and 1900-1904
    # live in 2 of the 4 range-clustered files
    kept, skipped = tx_files_for_values(root, "id", vals)
    assert len(kept) == 2 and skipped == 2


def test_contended_writers_across_processes(tmp_path):
    """Cross-PROCESS contention (the thread matrix can hide behind the
    GIL): N OS processes race M commits each through the hard-link
    claim on the same log directory — still exactly N*M contiguous
    versions, every payload once. This is the property the POSIX
    link(2) atomicity (and, via the same contract, an object store's
    conditional PUT) must provide between independent writers, not
    just threads."""
    import multiprocessing as mp

    root = str(tmp_path / "t")
    os.makedirs(root)
    N, M = 4, 3

    ctx = mp.get_context("spawn")
    with ctx.Pool(N) as pool:
        results = pool.starmap(
            _commit_batch_for_process_race, [(root, w, M) for w in range(N)]
        )
    assert all(r == "ok" for r in results)
    from tabata_spark.sources.txlog import tx_history

    hist = tx_history(root)
    assert [c["version"] for c in hist] == list(range(1, N * M + 1))
    added = [f for c in hist for f in c["add"]]
    assert len(added) == len(set(added)) == N * M


def _commit_batch_for_process_race(root: str, w: int, m: int) -> str:
    # module-level so spawn can pickle it; no Spark needed — the claim
    # protocol is pure filesystem
    from tabata_spark.sources.txlog import _commit

    try:
        for j in range(m):
            _commit(root, "append", [f"data/w{w}/f{j}.parquet"], [])
        return "ok"
    except Exception as e:  # pragma: no cover
        return f"err: {e}"
