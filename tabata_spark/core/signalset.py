"""SignalSet — the engine's core data model.

The reference's ``Opset`` (opset.py:2-11) is a named list of pandas
DataFrames in one HDF5 file, paged record-at-a-time through a mutable
cursor. Here the whole set is ONE long Spark DataFrame::

    record_id: string   -- record name (reference: df.index.name)
    seq:       long     -- 0-based row position within the record
                           (reference positional iloc semantics,
                           instants.py:601,625,649 — load-bearing)
    ts:        timestamp-- time index (reference: df.index)
    <channels...>       -- one double column per named channel,
                           ``NAME[UNIT]`` convention kept literally

persisted as Parquet partitioned by ``record_id``. Per-record loops
become ``Window.partitionBy('record_id')`` / ``groupBy('record_id')``;
record point-reads become partition-pruned filters; ``put()`` upserts
become dynamic partition overwrite. At 100 TB the layout holds: many
small records per file-partition, record-local windows shuffle once on
``record_id`` and never again.

Reference parity notes (file:line cites into /root/reference):
- record order is alphabetical (opset.py:99-102, HDFStore key order);
- ``put`` is upsert-by-name (opset.py:229-260);
- ``clean`` truncates (opset.py:215-226);
- cursor state (sigpos/colname/phase, opset.py:65-72) survives as thin
  driver-side attributes for API familiarity — the engine underneath
  is stateless.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabata_spark.core.naming import STRUCT_COLS, channel_columns, get_colname

class OpsetError(ValueError):
    """Store-level error carrying the store path (reference
    opset.py:39-49 — ``OpsetError(filename, message)`` with the same
    two attributes and display shape). Subclasses ``ValueError`` so
    pre-existing ``except ValueError`` callers keep working."""

    def __init__(self, filename: str, message: str):
        super().__init__(message)
        self.filename = filename
        self.message = message

    def __str__(self) -> str:
        return f"Opset({self.filename})\n    {self.message}"


_PD = None


def _pandas():
    global _PD
    if _PD is None:
        import pandas as pd

        _PD = pd
    return _PD


class SignalSet:
    """A set of named multivariate time-series signals.

    Wraps a long-layout DataFrame. All transformations return plain
    DataFrames (or new SignalSets) — nothing mutates the data.
    """

    def __init__(
        self,
        df: DataFrame,
        phase: str | None = None,
        path: str | None = None,
        records: list[str] | None = None,
        fmt: str = "parquet",
    ):
        missing = [c for c in ("record_id", "seq") if c not in df.columns]
        if missing:
            raise OpsetError(
                path or "<frame>",
                f"SignalSet frame lacks required columns {missing}",
            )
        self.df = df
        self.path = path
        self.fmt = fmt  # the store's file format, which ``put`` writes
        self._records = records
        self._listed = False  # df is the plain scan of the store at path
        # cursor-compat state (reference opset.py:65-72); not used by the engine
        self.sigpos = 0
        self.phase = phase
        self.colname = get_colname(self.channels, None) if self.channels else None

    # ------------------------------------------------------------------ io

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        phase: str | None = None,
        fmt: str = "parquet",
    ) -> "SignalSet":
        """Open a stored signal set (reference Opset.__init__).
        ``fmt``: any Spark batch source — parquet (default) or orc
        both give columnar pruning + predicate pushdown."""
        out = cls(spark.read.format(fmt).load(path), phase=phase, path=path, fmt=fmt)
        out._listed = True
        return out

    def save(self, path: str, mode: str = "overwrite", fmt: str = "parquet") -> "SignalSet":
        """Materialize partitioned by record_id (partition pruning for
        point-reads; record-local windows need no re-shuffle on read).
        ``fmt='orc'`` for ORC-standardized lakes — same layout, same
        pushdown; the returned set's ``put`` writes that format too."""
        self.df.write.partitionBy("record_id").mode(mode).format(fmt).save(path)
        spark = self.df.sparkSession
        return SignalSet.load(spark, path, phase=self.phase, fmt=fmt)

    @classmethod
    def from_records(
        cls,
        spark: SparkSession,
        records: dict[str, Any],
        phase: str | None = None,
    ) -> "SignalSet":
        """Ingest a mapping ``{record_name: pandas.DataFrame}``.

        The pandas index becomes ``ts`` (if datetime-like) and row
        position becomes ``seq``. Schema drift between records
        (SURVEY §1.2) is handled with union-by-name: a record missing a
        channel gets nulls.
        """
        pd = _pandas()
        parts = []
        for name in sorted(records):
            pdf = records[name].copy()
            pdf.insert(0, "record_id", name)
            pdf.insert(1, "seq", range(len(pdf)))
            if isinstance(pdf.index, pd.DatetimeIndex):
                pdf.insert(2, "ts", pdf.index)
            pdf = pdf.reset_index(drop=True)
            parts.append(spark.createDataFrame(pdf))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return cls(out, phase=phase, records=sorted(records))

    # -------------------------------------------------------------- records

    @property
    def records(self) -> list[str]:
        """Record names, alphabetical (reference order contract,
        opset.py:99-102). A loaded store reads them off the file
        listing its scan already holds, with no Spark job; any other set
        scans for them once."""
        if self._records is None:
            self._records = self._listed_records()
        if self._records is None:
            rows = self.df.select("record_id").distinct().orderBy("record_id").collect()
            self._records = [r[0] for r in rows]
        return self._records

    def _listed_records(self) -> list[str] | None:
        """The ``record_id=<name>`` directories of a loaded store's data
        files, or None where the listing cannot tell the names: a set
        that is not a plain store scan, a record_id not read as a
        string, a file outside a record directory, a null record."""
        if not self._listed or self.df.schema["record_id"].dataType != T.StringType():
            return None
        from urllib.parse import unquote

        names = set()
        for f in self.df.inputFiles():
            # a file URI: percent-decode it to the directory name, which
            # Spark wrote with its own %XX escapes of the value
            parent = unquote(f).rsplit("/", 2)[-2] if f.count("/") >= 2 else ""
            key, _, value = parent.partition("=")
            if key != "record_id" or value == "__HIVE_DEFAULT_PARTITION__":
                return None
            names.add(unquote(value))
        return sorted(names)

    def __len__(self) -> int:
        return len(self.records)

    @property
    def channels(self) -> list[str]:
        return channel_columns(self.df.columns)

    def get_colname(self, variable: str | None, default: str | None = None) -> str | None:
        return get_colname(self.channels, variable, default)

    def _resolve(self, pos: int | str) -> str:
        if isinstance(pos, str):
            return pos
        try:
            # python list indexing: negatives work (opset.py:135-161)
            return self.records[pos]
        except IndexError:
            n = len(self.records)
            raise OpsetError(
                self.path or "<frame>",
                f"position must be between {-n} and {n - 1}",
            ) from None

    def record(self, pos: int | str) -> DataFrame:
        """Point-read one record (reference ``ds[pos]``, opset.py:135-161).

        A filter on the partition column — Catalyst prunes to one
        partition; no shuffle, no full scan.
        """
        name = self._resolve(pos)
        if isinstance(pos, int):
            self.sigpos = pos % len(self.records)
        return self.df.filter(F.col("record_id") == name)

    def __getitem__(self, pos):
        if isinstance(pos, slice):
            return self.subset(self.records[pos])
        if isinstance(pos, (list, tuple)):
            return self.subset([self._resolve(p) for p in pos])
        return self.record(pos)

    def subset(self, names: Sequence[str]) -> "SignalSet":
        """Record subset (reference iterator(first,last)/list,
        opset.py:164-205) — stays set-oriented, one isin filter."""
        names = list(names)
        return SignalSet(
            self.df.filter(F.col("record_id").isin(names)),
            phase=self.phase,
            records=sorted(names),
        )

    def iter_pandas(self, *argv) -> Iterator[Any]:
        """Yield (name, pandas.DataFrame) per record — the viz/compat
        edge only (reference iterator, opset.py:164-193). Engine code
        must never loop records; it uses windows/groupBy."""
        names: Iterable[str]
        if not argv:
            names = self.records
        elif len(argv) == 1 and isinstance(argv[0], int):
            names = self.records[: argv[0]]
        elif len(argv) == 2:
            names = self.records[argv[0] : argv[1]]
        else:
            names = [self._resolve(p) for p in argv[0]]
        for name in names:
            yield name, self.to_pandas_record(name)

    def to_pandas_record(self, pos: int | str) -> Any:
        """One record as a reference-shaped pandas frame (time index,
        channel columns, ``index.name`` = record name)."""
        name = self._resolve(pos)
        pdf = self.record(name).orderBy("seq").toPandas()
        if "ts" in pdf.columns:
            pdf = pdf.set_index("ts")
            pdf.index.name = name
        return pdf.drop(columns=[c for c in STRUCT_COLS if c in pdf.columns], errors="ignore")

    def current_record(self) -> str:
        """Reference opset.py:207-212 (cursor compat)."""
        return self.records[self.sigpos]

    def rewind(self, sigpos: int = 0) -> "SignalSet":
        """Reference opset.py:195-202 (cursor compat, chainable)."""
        self.sigpos = sigpos % max(len(self.records), 1)
        return self

    # ---------------------------------------------------------------- put

    def put(self, df: Any, record: str | None = None) -> "SignalSet":
        """Upsert one record by name (reference put(), opset.py:229-260).

        Path-backed sets use dynamic partition overwrite in the store's
        format — only the written record's partition is replaced, an
        O(record) write even on a 100 TB set; a record carrying a
        channel the store lacks raises ``OpsetError`` rather than losing
        that channel. In-memory
        sets rebuild the union lazily. The returned set's record list is
        this set's plus ``name``, so it costs no scan when this set's
        list is known.
        """
        pd = _pandas()
        spark = self.df.sparkSession
        if isinstance(df, pd.DataFrame):
            name = record or df.index.name
            if not name:
                raise OpsetError(
                    self.path or "<frame>",
                    "record name required (arg or df.index.name)",
                )
            sset = SignalSet.from_records(spark, {name: df})
            new = sset.df
        else:
            if not record:
                raise OpsetError(
                    self.path or "<frame>",
                    "record name required for DataFrame put",
                )
            name = record
            new = df.withColumn("record_id", F.lit(name))
            if "seq" not in new.columns:
                w = Window.partitionBy("record_id").orderBy(F.monotonically_increasing_id())
                new = new.withColumn("seq", F.row_number().over(w) - F.lit(1))
        records = sorted({*self.records, name})
        if self.path:
            existing = set(self.df.columns)
            extra = [c for c in new.columns if c not in existing]
            if extra:
                raise OpsetError(
                    self.path, f"record {name!r} has channels the store lacks: {extra}"
                )
            # align to existing schema (missing channels -> null)
            for c in existing - set(new.columns):
                new = new.withColumn(c, F.lit(None).cast(self.df.schema[c].dataType))
            # per-write option (not session conf): with Spark's default
            # STATIC overwrite mode a plain overwrite would delete every
            # OTHER record's partition — pinning dynamic here makes put()
            # safe under any user-supplied SparkSession
            new.select(*self.df.columns).write.option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("record_id").mode("overwrite").format(self.fmt).save(self.path)
            out = SignalSet.load(spark, self.path, phase=self.phase, fmt=self.fmt)
            out._records = records
        else:
            kept = self.df.filter(F.col("record_id") != name)
            out = SignalSet(
                kept.unionByName(new, allowMissingColumns=True),
                phase=self.phase,
                records=records,
            )
        out.sigpos = records.index(name)
        out.colname = get_colname(out.channels, self.colname)
        return out

    # -------------------------------------------------------------- phase

    def filter_phase(self, phase: str | None = None) -> DataFrame:
        """Rows where the boolean phase column holds (reference
        opset.py:328-334; exam cell 56 ``df[df['CR']]``)."""
        p = phase or self.phase
        if not p:
            raise ValueError("no phase column set")
        return self.df.filter(F.col(f"`{p}`"))

    # ------------------------------------------------------------- stats

    def record_lengths(self) -> DataFrame:
        """(record_id, n) — one aggregation, used by width heuristics
        (reference instants.py:254-256)."""
        return self.df.groupBy("record_id").agg(F.count(F.lit(1)).alias("n"))

    def __repr__(self) -> str:
        return (
            f"SignalSet({len(self.records)} records, "
            f"{len(self.channels)} channels{', path=' + self.path if self.path else ''})"
        )


def save_bucketed(
    sset: SignalSet,
    table: str,
    num_buckets: int = 32,
    sort_by: str = "seq",
) -> SignalSet:
    """Persist as a bucketed, sorted table: ``bucketBy(record_id)`` +
    ``sortBy(seq)`` via saveAsTable.

    This is the zero-shuffle storage layout: a bucketed scan reports
    ``hashpartitioning(record_id, num_buckets)`` as its output
    partitioning, so every record-window pipeline over the stored set
    runs with NO exchange at all (the one shuffle the parquet layout
    needs disappears). At 100 TB: pick num_buckets ~ cluster cores,
    and all recurring signal analytics become scan -> window -> agg
    with zero data movement.
    """
    spark = sset.df.sparkSession
    if not spark.catalog.tableExists(table):
        # a managed location can outlive its catalog entry (in-memory
        # catalog died, or a crash between file write and catalog
        # commit) — overwrite mode can't see it, so clear it explicitly.
        # The managed location is <warehouse>/<tbl> for the default db
        # and <warehouse>/<db>.db/<tbl> for a qualified name; building
        # it from the last segment alone would point a qualified name
        # at the DEFAULT db's like-named table and delete its data.
        wh = spark.conf.get("spark.sql.warehouse.dir")
        parts = table.split(".")
        if len(parts) == 1:
            loc = f"{wh}/{parts[0]}"
        elif len(parts) == 2:
            loc = f"{wh}/{parts[0]}.db/{parts[1]}"
        else:  # catalog-qualified or deeper: don't guess, don't delete
            loc = None
        if loc is not None:
            jvm = spark.sparkContext._jvm
            jsc = spark.sparkContext._jsc
            path = jvm.org.apache.hadoop.fs.Path(loc)
            fs = path.getFileSystem(jsc.hadoopConfiguration())
            if fs.exists(path):
                fs.delete(path, True)
    (
        sset.df.write.mode("overwrite")
        .bucketBy(num_buckets, "record_id")
        .sortBy("record_id", sort_by)
        .format("parquet")
        .saveAsTable(table)
    )
    return SignalSet(spark.table(table), phase=sset.phase)


def load_bucketed(spark: SparkSession, table: str, phase: str | None = None) -> SignalSet:
    return SignalSet(spark.table(table), phase=phase)
