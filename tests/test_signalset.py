import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabata_spark.core.signalset import SignalSet


def test_records_alphabetical(sset):
    assert sset.records == sorted(sset.records)
    assert len(sset) == 6


def test_record_point_read_and_negative_index(sset, flights):
    name = sset.records[0]
    n = len(flights[name])
    assert sset.record(0).count() == n
    last = sset.records[-1]
    assert sset[-1].filter(F.col("record_id") == last).count() > 0


def test_seq_is_dense_per_record(sset):
    bad = (
        sset.df.groupBy("record_id")
        .agg(
            (F.max("seq") - F.count(F.lit(1)) + 1).alias("gap"),
            F.min("seq").alias("mn"),
        )
        .filter((F.col("gap") != 0) | (F.col("mn") != 0))
        .count()
    )
    assert bad == 0


def test_schema_drift_union(sset):
    # record_05 was generated without F[N]; union-by-name -> nulls
    assert "F[N]" in sset.df.columns
    n_null = sset.record("record_05").filter(F.col("`F[N]`").isNull()).count()
    assert n_null == sset.record("record_05").count()


def test_subset_and_slice(sset):
    sub = sset[1:3]
    assert sub.records == sset.records[1:3]
    assert sub.df.select("record_id").distinct().count() == 2


def test_to_pandas_record_roundtrip(sset, flights):
    name = sset.records[2]
    pdf = sset.to_pandas_record(name)
    ref = flights[name]
    assert list(pdf.columns) == list(ref.columns)
    assert len(pdf) == len(ref)
    assert pdf.index.name == name
    pd.testing.assert_series_equal(
        pdf["ALT[m]"].reset_index(drop=True),
        ref["ALT[m]"].reset_index(drop=True),
        check_exact=False,
    )


def test_put_upsert_in_memory(sset, flights):
    name = sset.records[0]
    newdf = flights[name].copy() * 0 + 1.0
    newdf.index = flights[name].index
    out = sset.put(newdf, record=name)
    assert len(out) == len(sset)  # overwrite, not append
    val = out.record(name).agg(F.avg("`ALT[m]`")).collect()[0][0]
    assert abs(val - 1.0) < 1e-9


def test_put_append_new_record(sset, flights):
    newdf = flights[sset.records[0]].head(50)
    out = sset.put(newdf, record="record_99")
    assert len(out) == len(sset) + 1
    assert out.records[-1] == "record_99"
    assert out.sigpos == out.records.index("record_99")


def test_put_roundtrip_parquet(tmp_path, sset, flights):
    path = str(tmp_path / "sset")
    stored = sset.save(path)
    assert stored.records == sset.records
    newdf = flights[sset.records[1]].head(30)
    out = stored.put(newdf, record=sset.records[1])
    assert out.record(sset.records[1]).count() == 30
    assert len(out) == len(sset)


def test_orc_roundtrip_with_pushdown(tmp_path, sset):
    """ORC as a second storage format: same partition layout, same
    values, and a record point-read prunes partitions in the plan."""
    path = str(tmp_path / "sset_orc")
    stored = sset.save(path, fmt="orc")
    assert stored.records == sset.records
    name = sset.records[0]
    assert stored.record(name).count() == sset.record(name).count()
    plan = stored.record(name)._jdf.queryExecution().executedPlan().toString()
    assert "FileScan orc" in plan
    got = stored.record(name).agg(F.sum("`ALT[m]`")).first()[0]
    want = sset.record(name).agg(F.sum("`ALT[m]`")).first()[0]
    assert abs(got - want) < 1e-6


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """The approx tier (HLL sketch, mergeable map-side — the 100 TB
    path for distinct counts) must land within 5% of exact."""
    from tabata_spark.sources.relational import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = li.select(F.countDistinct("l_partkey")).first()[0]
    approx = li.select(F.approx_count_distinct("l_partkey", 0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.05


def test_put_preserves_other_partitions_under_static_conf(tmp_path, sset, flights):
    """put() must not depend on the session's partitionOverwriteMode:
    under Spark's default STATIC mode a naive overwrite would wipe
    every other record's partition."""
    spark = sset.df.sparkSession
    path = str(tmp_path / "sset_static")
    stored = sset.save(path)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        out = stored.put(flights[sset.records[1]].head(30), record=sset.records[1])
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert out.records == sset.records  # no partition lost
    assert out.record(sset.records[1]).count() == 30
    assert out.record(sset.records[0]).count() == sset.record(sset.records[0]).count()


def test_put_rejects_channel_the_store_lacks(tmp_path, sset, flights):
    """A stored set keeps its schema: putting a record with a channel
    the store lacks raises instead of dropping that channel, and the
    store is left as it was."""
    import pytest

    from tabata_spark.core.signalset import OpsetError

    spark = sset.df.sparkSession
    path = str(tmp_path / "sset_alt_only")
    stored = SignalSet(sset.df.select("record_id", "seq", "ts", "`ALT[m]`")).save(path)
    name = sset.records[1]
    with pytest.raises(OpsetError, match=r"TAS\[m/s\]"):
        stored.put(flights[name][["ALT[m]", "TAS[m/s]"]], record=name)
    again = SignalSet.load(spark, path)
    assert again.channels == ["ALT[m]"]
    assert again.records == sset.records
    assert again.record(name).count() == len(flights[name])
    # the in-memory branch keeps the extra channel
    mem = SignalSet(stored.df).put(flights[name][["ALT[m]", "TAS[m/s]"]], record=name)
    assert "TAS[m/s]" in mem.channels


def test_put_record_list_starts_no_job(tmp_path, sset, flights, jobs_run_by):
    """``put`` on a set whose record list is known builds the new list
    from it: in memory the upsert starts no job at all, and on a store
    it starts only the jobs of its own write and reload — no scan of
    the whole set for record names, and the reload, with the schema
    the store already has, infers nothing: one job in all. A freshly
    loaded store reads its list off its file listing, also with no
    job."""
    spark = sset.df.sparkSession
    name = sset.records[1]
    pdf = flights[name].head(30)
    assert jobs_run_by(spark, lambda: sset.put(pdf, record=name).records) == []

    stored = sset.save(str(tmp_path / "sset_records"))
    assert stored.records == sset.records
    twin_path = str(tmp_path / "sset_twin")
    twin = sset.save(twin_path)

    def write_and_reload():
        frame = SignalSet.from_records(spark, {name: pdf}).df
        frame.select(*twin.df.columns).write.option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("record_id").mode("overwrite").parquet(twin_path)
        spark.read.schema(twin.df.schema).parquet(twin_path)

    own = jobs_run_by(spark, write_and_reload)
    assert own != []
    put_jobs = jobs_run_by(spark, lambda: stored.put(pdf, record=name).records)
    assert len(put_jobs) == len(own) == 1

    for base in (sset, stored):
        upd = base.put(pdf, record=name)
        assert upd.records == sset.records
        assert jobs_run_by(spark, lambda: upd.records) == []
        new = upd.put(flights[sset.records[0]].head(20), record="record_10")
        assert new.records == sorted([*sset.records, "record_10"])
        assert new.sigpos == new.records.index("record_10")
        assert new.record("record_10").count() == 20
    fresh = SignalSet.load(spark, stored.path)  # the loop put record_10 in it
    assert jobs_run_by(spark, lambda: fresh.records) == []
    assert fresh.records == sorted([*sset.records, "record_10"])
    # the positive control: a set with no file listing scans for its list
    unlisted = SignalSet(fresh.df)
    assert jobs_run_by(spark, lambda: unlisted.records) != []
    assert unlisted.records == fresh.records


def test_numeric_record_name_stays_a_string(tmp_path, spark, jobs_run_by):
    """A record named like a number keeps a string ``record_id`` through
    ``save`` and ``put``: both reload with the schema they hold, where
    Spark's partition inference would read the directory ``123`` as an
    integer. The reload after ``save`` runs no job."""
    recs = {"123": pd.DataFrame({"ALT[m]": [1.0, 2.0]})}
    mem = SignalSet.from_records(spark, recs)
    stored = []
    jobs = jobs_run_by(spark, lambda: stored.append(mem.save(str(tmp_path / "numeric"))))
    assert len(jobs) == 1  # the write
    stored = stored[0]
    assert stored.df.schema["record_id"].dataType == T.StringType()
    upd = stored.put(pd.DataFrame({"ALT[m]": [3.0]}), record="456")
    assert upd.df.schema["record_id"].dataType == T.StringType()
    assert upd.records == ["123", "456"]
    got = sorted((r["record_id"], r["ALT[m]"]) for r in upd.df.collect())
    assert got == [("123", 1.0), ("123", 2.0), ("456", 3.0)]
    # the positive control: inference reads the names as integers
    assert SignalSet.load(spark, stored.path).df.schema["record_id"].dataType != T.StringType()


def test_listed_records_decode_escaped_names(tmp_path, spark, jobs_run_by):
    """Record names that Spark escapes in partition directory names
    (and the file URI escapes again) read back from a store's listing
    exactly as a scan of its record_id column returns them."""
    names = ["a b", "a#b", "a%b", "a:b", "a=b", "b/c", "k{1}", "x?y", "z'q", "é", "001"]
    recs = {n: pd.DataFrame({"ALT[m]": [1.0, 2.0]}) for n in names}
    stored = SignalSet.from_records(spark, recs).save(str(tmp_path / "escaped"))
    fresh = SignalSet.load(spark, stored.path)
    assert jobs_run_by(spark, lambda: fresh.records) == []
    scanned = fresh.df.select("record_id").distinct().orderBy("record_id").collect()
    assert fresh.records == [r[0] for r in scanned] == sorted(names)


def test_orc_store_put_keeps_format(tmp_path, sset, flights):
    """A store saved as ORC takes upserts as ORC: every file stays ORC,
    so the store still loads, and the upserted record reads back."""
    spark = sset.df.sparkSession
    path = str(tmp_path / "sset_orc_put")
    stored = sset.save(path, fmt="orc")
    name = sset.records[1]
    out = stored.put(flights[name].head(30), record=name)
    again = SignalSet.load(spark, path, fmt="orc")
    assert {f.rsplit(".", 1)[-1] for f in again.df.inputFiles()} == {"orc"}
    assert again.record(name).count() == 30
    assert out.record(sset.records[0]).count() == sset.record(sset.records[0]).count()
    assert again.records == sset.records
