"""Deduplication operators for large-scale text corpora (north-star
extension; no reference citation — net-new surface).

Five tiers, all designed for the 100 TB regime:

- exact: content-hash groupBy — one shuffle on a 128-bit hash, no
  skew (hashes are uniform), survivor = min id;
- minhash (native): shingle → k seeded xxhash64 min-aggregations →
  banded LSH bucket join → candidate pairs → exact Jaccard verify.
  Everything JVM-side: one explode + one groupBy for signatures, one
  self-join on (band, hash) for candidates. The band join is the
  classic near-dup pipeline (cf. MapReduce minhash literature): at
  100 TB the candidate set, not the corpus square, bounds the cost;
- minhash (MLlib): HashingTF + MinHashLSH approxSimilarityJoin — the
  library path, kept for parity/validation;
- simhash: 64-bit sign-of-weighted-bit-sums fingerprint; near-dups =
  pairs within Hamming distance d (joined on rotated prefix blocks);
- n-gram Jaccard: exact token-shingle Jaccard via shingle-equi-join —
  quadratic in candidates, used as the small-scale oracle for the
  approximate tiers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _materialize(df: DataFrame, mode: str | None) -> DataFrame:
    """Strategy for subtrees the downstream plan consumes twice:

    - ``'persist'`` (default): lazy ``.persist()`` (MEMORY_AND_DISK)
      — AQE still sees the subtree, storage is spillable, and the
      cache is evictable; the caller may ``unpersist()`` when done;
    - ``'checkpoint'``: ``localCheckpoint(eager=False)`` — truncates
      lineage but pins executor-local disk and hides the subtree from
      AQE; only for pathologically deep lineages;
    - ``None``/``'none'``: let Catalyst recompute (fine when the
      subtree is a cheap scan; production pipelines that reuse
      signatures across runs should write them as Parquet instead).
    """
    if mode in (None, "none"):
        return df
    if mode == "persist":
        return df.persist()
    if mode == "checkpoint":
        return df.localCheckpoint(eager=False)
    raise ValueError(f"unknown materialize mode: {mode!r}")


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by md5(text): (text_hash, keep_id, n_dups)."""
    return (
        df.groupBy(F.md5(text).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def keep_first_exact(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus with exact duplicates dropped (min-id survivor)."""
    w = Window.partitionBy(F.md5(text)).orderBy(id_col)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def bind1(value: Column, f) -> Column:
    """Let-binding for higher-order-function pipelines: evaluate
    ``value`` ONCE per row and hand it to ``f`` as a lambda variable.

    Interpreted lambda evaluation (HOFs are CodegenFallback) has no
    loop-invariant hoisting: a non-lambda subexpression embedded in
    the function body — e.g. ``slice(split(text), i, n)`` inside a
    ``transform`` — is re-evaluated once PER ELEMENT, turning an
    O(tokens) tokenize into O(tokens²) (opt guide §1.2 "per-task
    work"). ``transform`` over a one-element array binds the value to
    a lambda variable, which element evaluations read in O(1); the
    emitted values are bit-identical (r17 probe: 4.4× on the sf0.1
    shingle scan, 0 mismatching rows).

    ``bind1(value, f) == f(value)`` holds only when ``value`` is
    deterministic: ``f`` sees one evaluation of ``value``, while
    ``f(value)`` inlines the expression at every use, so a
    nondeterministic ``value`` (``rand()``, ``uuid()``) would differ
    between uses there and agree here."""
    return F.element_at(F.transform(F.array(value), f), 1)


def token_shingles(text: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column, as an array.

    Pure built-ins: split → sliding n-window via transform over index
    sequence → concat. Empty/short docs yield their full token string
    as a single shingle so they still participate.

    A plain column name takes the one-``F.expr`` fast path (r16 plan-
    construction hygiene — the py4j lambda plumbing of the Column
    form costs ~15 round trips per call site); Column inputs keep the
    Column form. Both parse to the identical expression tree, and
    both LET-BIND the token array (r17): the interpreted transform
    lambda would otherwise re-run split() once per shingle index.
    """
    if isinstance(text, str):
        return F.expr(
            f"element_at(transform(array(split({text}, ' ', -1)), t ->"
            f" array_distinct(transform(sequence(0, greatest(size(t)"
            f" - {n - 1}, 1) - 1), i -> array_join(slice(t, i + 1,"
            f" {n}), ' ')))), 1)"
        )
    return bind1(
        F.split(text, " ", -1),
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(t) - F.lit(n - 1), F.lit(1)) - F.lit(1),
                ),
                lambda i: F.array_join(F.slice(t, i + 1, n), " "),
            )
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<bigint>) — k independent min-hashes of the
    shingle set, natively: explode shingles once, take k seeded
    xxhash64 minima in one groupBy (map-side partial min — the shuffle
    carries k longs per doc, not the shingles)."""
    sh = df.select(
        F.col(id_col), F.explode(token_shingles(text, shingle_n)).alias("sh")
    )
    return minhash_signatures_from_shingles(sh, id_col=id_col, num_hashes=num_hashes)


def md5_hash_pair(col: Column) -> tuple[Column, Column]:
    """Two independent 60-bit base hashes from the md5 hex halves —
    the engine-portable pair (DuckDB: ``('0x'||substr(md5(x),1,15))``
    / ``substr(md5(x),16,15)``), enabling a bit-exact signature
    oracle. Slower than xxhash64; the production default stays on
    xxhash64."""
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long"),
        F.conv(F.substring(F.md5(col), 16, 15), 16, 10).cast("long"),
    )


def minhash_signatures_from_shingles(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    hash_pair=None,
) -> DataFrame:
    """Signature aggregation over an existing exploded shingle frame
    (columns: ``id_col``, ``sh``) — lets a fused pipeline share ONE
    shingle explode between signatures and the exact verifier.

    ``hash_pair``: Column → (Column, Column) producing the two base
    hashes; defaults to seeded xxhash64 (fast JVM path); pass
    :func:`md5_hash_pair` for the engine-portable variant."""
    # Carter-Wegman: k hashes derived from two base hashes,
    # (h1 + i*h2) mod P — 2 string hashes per shingle instead of k;
    # arithmetic kept in a 31-bit prime field so ANSI mode (Spark 4
    # default) sees no long overflow
    P = (1 << 31) - 1
    if hash_pair is None:
        b1 = F.xxhash64(F.col("sh"), F.lit(0))
        b2 = F.xxhash64(F.col("sh"), F.lit(1))
    else:
        b1, b2 = hash_pair(F.col("sh"))
    # r16 plan-construction hygiene: the k min-aggregates are emitted
    # as one SQL string each over pre-projected base hashes (the
    # Column form cost ~8 py4j round trips per hash); identical
    # parsed expressions, identical results.
    pre = sh.select(
        id_col,
        F.pmod(b1, F.lit(P)).alias("__h1"),
        F.pmod(b2, F.lit(P)).alias("__h2"),
    )
    aggs = [
        F.expr(f"min(pmod(__h1 + {i} * __h2, {P})) as h{i}")
        for i in range(num_hashes)
    ]
    sig = pre.groupBy(id_col).agg(*aggs)
    arr_sql = "array(" + ", ".join(f"h{i}" for i in range(num_hashes)) + ")"
    return sig.select(id_col, F.expr(f"{arr_sql} as sig"))


def _bucket_pairs(ids: str) -> Column:
    """All ordered pairs (id_a < id_b) from a SORTED id array column
    (by name), as an array of structs — the in-array replacement for
    a bucket self-join: for each element, pair it with every later
    element. One F.expr (r16 plan-construction hygiene)."""
    return F.expr(
        f"flatten(transform({ids}, (x, i) -> "
        f"transform(slice({ids}, i + 2, size({ids})), "
        "y -> named_struct('id_a', x, 'id_b', y))))"
    )


def bucket_candidate_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_bucket_size: int = 100,
    precap: bool = False,
    hot_bucket: str = "drop",
    salt_hash=None,
) -> DataFrame:
    """Candidate pairs from bucket membership rows (key_cols…, id):
    ONE aggregation (collect_list per bucket, size-capped) + in-array
    pair generation + distinct. No self-join, no window sort — two
    shuffles total (bucket agg + distinct) regardless of band count.

    ``max_bucket_size`` guards the quadratic blowup on hot buckets
    (boilerplate / low-entropy content): a 10k-doc bucket alone would
    emit 5·10⁷ pairs. ``hot_bucket`` picks the policy:

    - ``"drop"`` (default): over-cap buckets are discarded — zero
      recall inside them, bounded everything. ``precap=True`` removes
      their rows BEFORE the collect (map-side-combinable count finds
      the hot keys — a tiny set by construction — then a broadcast
      anti-join), so no aggregation buffer ever holds a degenerate
      bucket.
    - ``"salt"``: over-cap buckets are SPLIT instead of dropped: each
      hot key gets ``ceil(2n/cap)`` salt shards, a row's shard is a
      hash of (id, key) — decorrelated across bands, so a true pair
      parked in one band's hot bucket gets fresh 1/shards odds in
      every other band it collides in — and pairs generate within
      shards only. Expected shard size is cap/2 (the hard cap still
      applies as a safety bound), memory stays bounded, and recall in
      hot buckets degrades to ~1/shards per band instead of zero.
      Cold buckets are untouched either way.

    ``salt_hash``: optional ``(id: Column, keys: list[Column]) ->
    Column`` producing the NONNEGATIVE long the shard is taken modulo
    from; defaults to seeded xxhash64 (fast JVM path). Pass an
    md5-derived hash (see :func:`md5_token_hash`) for the
    engine-portable variant a SQL oracle can replay bit-for-bit.
    The shard count is exact-integer ``ceil(2n/cap)`` — ``(2n + cap
    - 1) div cap`` — so a replaying engine never disagrees on a
    float-representation boundary.
    """
    group_cols: list = list(key_cols)
    # NOTE (r16, measured and REJECTED — do not re-attempt): persisting
    # `keyed` here because the salt census + bucket pass consume it
    # twice. The static plan does show two signature towers
    # (dedup_minhash_salted_before.txt), but the interleaved
    # same-session A/B at sf0.1 read the persist variant SLOWER
    # (min-of-4: 7.2 s vs 4.6 s unmaterialized): the census's map-side
    # work re-runs over the caller's already-persisted shingle-array
    # cache (cheap), while the cache build adds a materialization
    # barrier AQE cannot pipeline past. Callers whose upstream is NOT
    # already cached should persist the banded frame themselves.
    if max_bucket_size and hot_bucket == "salt":
        shards = (
            keyed.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select(
                *key_cols,
                F.expr(
                    f"CAST((2 * __n + {int(max_bucket_size)} - 1) "
                    f"div {int(max_bucket_size)} AS INT)"
                ).alias("__nsub"),
            )
        )
        if salt_hash is None:
            base = F.xxhash64(F.col(id_col), *[F.col(c) for c in key_cols])
        else:
            base = salt_hash(F.col(id_col), [F.col(c) for c in key_cols])
        keyed = keyed.join(F.broadcast(shards), key_cols, "left").withColumn(
            "__salt",
            F.when(F.col("__nsub").isNull(), F.lit(0)).otherwise(
                F.pmod(base, F.col("__nsub")).cast("int")
            ),
        )
        group_cols.append("__salt")
    elif precap and max_bucket_size:
        hot = (
            keyed.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select(*key_cols)
        )
        keyed = keyed.join(F.broadcast(hot), key_cols, "left_anti")
    bucket = keyed.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list(id_col)).alias("__ids")
    )
    if max_bucket_size:
        bucket = bucket.filter(F.size("__ids") <= max_bucket_size)
    return (
        bucket.select(F.explode(_bucket_pairs("__ids")).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def _band_hash_array(bands: int, rows: int, start: int = 0) -> Column:
    """Array of per-band hashes over a ``sig`` signature column:
    band b = xxhash64 of its ``rows`` signature slots, salted by b.
    One F.expr (r16 plan-construction hygiene). ``start`` emits only
    bands [start, start+bands) — the staged band-group passes hash
    just their own slice instead of hashing all bands and filtering
    (the hash values are per-band salted constants, so a slice is
    bit-identical to the corresponding slice of the full array)."""
    terms = ", ".join(
        "xxhash64(concat_ws(':', "
        + ", ".join(f"element_at(sig, {b * rows + r + 1})" for r in range(rows))
        + f"), {b})"
        for b in range(start, start + bands)
    )
    return F.expr(f"array({terms})")


def minhash_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows: int = 4,
    max_bucket_size: int = 100,
    materialize: str | None = "persist",
    precap: bool = False,
    hot_bucket: str = "drop",
    salt_hash=None,
) -> DataFrame:
    """LSH banding: hash each band of the signature, then candidate
    pairs (id_a < id_b) per (band_idx, band_hash) bucket via
    :func:`bucket_candidate_pairs` — one aggregation + in-array pair
    expansion, not a self-join.

    Probability a pair with Jaccard s collides: 1-(1-s^rows)^bands.
    ``hot_bucket="salt"`` shard-splits over-cap buckets instead of
    dropping them (partial recall on low-entropy corpora — the salt
    hash includes the band, so shard assignment re-rolls per band).
    ``materialize`` is unused here (the banded frame is consumed once)
    and kept for signature compatibility."""
    banded = sig.select(
        F.col(id_col).alias("__id"),
        F.posexplode(_band_hash_array(bands, rows)).alias("band", "bh"),
    )
    return bucket_candidate_pairs(
        banded,
        ["band", "bh"],
        "__id",
        max_bucket_size=max_bucket_size,
        precap=precap,
        hot_bucket=hot_bucket,
        salt_hash=salt_hash,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    materialize: str | None = "persist",
    shingles: DataFrame | None = None,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for document pairs:
    (id_a, id_b, jaccard), filtered at ``threshold``.

    With ``candidates`` given (e.g. from minhash LSH), ONLY those
    pairs are verified — the 100 TB path: two equi-joins fetch each
    pair's per-doc shingle ARRAYS (``shingle_arrays``: (id, sh_arr),
    built here if absent) and the intersection is one JVM
    ``array_intersect`` per pair — no exploded-shingle join at all.
    The candidate frame is the small side (AQE broadcasts it), so the
    corpus-sized array table is never reshuffled; cost is linear in
    Σ(|sh(a)|+|sh(b)|) over candidate pairs, candidate-bounded
    regardless of corpus size. Without candidates, the
    shingle-equi-join generates pairs sharing ≥1 shingle
    (small-scale/oracle path; quadratic within shared-shingle groups).
    """
    if candidates is not None:
        if not {"id_a", "id_b"} <= set(candidates.columns):
            raise ValueError("candidates must have columns id_a, id_b")
        if shingle_arrays is not None:
            arr = shingle_arrays  # pre-materialized by the caller
        else:
            arr = _materialize(
                df.select(
                    F.col(id_col).alias("id"),
                    token_shingles(text, shingle_n).alias("sh_arr"),
                ),
                materialize,
            )
        cand = candidates.select("id_a", "id_b")
        # NOTE (r16, measured and REJECTED — do not re-attempt): a
        # melt-and-regroup single-pass fetch (explode each pair to
        # (pair, side, id) rows, one inner join against arr, groupBy
        # pair re-assembling __a/__b) replaces the second scan of the
        # array table with a shuffle of the MATCHED ARRAYS — the
        # payload is the per-doc shingle arrays themselves, far wider
        # than the scan it saves. Quiet-host A/B at sf0.1:
        # dedup_minhash_staged 9.1 s -> 13.1 s (arr is persisted in
        # the staged path, so the two extra scans are cache reads),
        # dedup_minhash_lsh 3.47 -> 3.25 s (noise). The two broadcast
        # equi-joins below keep the corpus-sized table unshuffled.
        joined = cand.join(
            arr.select(F.col("id").alias("id_a"), F.col("sh_arr").alias("__a")),
            "id_a",
        ).join(
            arr.select(F.col("id").alias("id_b"), F.col("sh_arr").alias("__b")),
            "id_b",
        )
        n_inter = F.size(F.array_intersect("__a", "__b"))
        jac = n_inter / (F.size("__a") + F.size("__b") - n_inter)
        return (
            joined.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
    if shingles is not None:
        sh = shingles  # pre-materialized by the caller (fused pipeline)
    else:
        sh = df.select(
            F.col(id_col).alias("id"),
            F.explode(token_shingles(text, shingle_n)).alias("sh"),
        )
        # the plan consumes the exploded shingles three times (sizes,
        # A-side, B-side) — materialize the explode once
        sh = _materialize(sh, materialize)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def containment_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    materialize: str | None = "persist",
) -> DataFrame:
    """Directional n-gram CONTAINMENT for document pairs:
    ``c(a in b) = |sh(a) ∩ sh(b)| / |sh(a)|`` — the measure that
    catches a short document copied INSIDE a long one (quotes,
    boilerplate-wrapped reposts), which symmetric Jaccard dilutes to
    ~|a|/|b| and misses entirely. Emits both directions per pair plus
    the Jaccard for context; keep a pair when EITHER direction clears
    ``threshold``.

    Same scale shape as the candidate path of
    :func:`ngram_jaccard_pairs`: per-doc shingle arrays fetched by two
    equi-joins, one JVM array_intersect per pair — candidate-bounded.
    Without candidates, the shared-shingle self-join oracle path.
    """
    arr = _materialize(
        df.select(
            F.col(id_col).alias("id"),
            token_shingles(text, shingle_n).alias("sh_arr"),
        ),
        materialize,
    )
    if candidates is not None:
        cand = candidates.select("id_a", "id_b")
    else:
        sh = df.select(
            F.col(id_col).alias("id"),
            F.explode(token_shingles(text, shingle_n)).alias("sh"),
        )
        sh = _materialize(sh, materialize)
        cand = (
            sh.alias("a")
            .join(
                sh.alias("b"),
                (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    joined = cand.join(
        arr.select(F.col("id").alias("id_a"), F.col("sh_arr").alias("__a")), "id_a"
    ).join(
        arr.select(F.col("id").alias("id_b"), F.col("sh_arr").alias("__b")), "id_b"
    )
    n_inter = F.size(F.array_intersect("__a", "__b"))
    c_ab = n_inter / F.size("__a")
    c_ba = n_inter / F.size("__b")
    jac = n_inter / (F.size("__a") + F.size("__b") - n_inter)
    return (
        joined.withColumn("c_ab", c_ab)
        .withColumn("c_ba", c_ba)
        .filter((F.col("c_ab") >= threshold) | (F.col("c_ba") >= threshold))
        .select(
            "id_a",
            "id_b",
            F.round("c_ab", 6).alias("c_ab"),
            F.round("c_ba", 6).alias("c_ba"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


def containment_candidates(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    chunk_window: int = 64,
    chunk_stride: int = 48,
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 16,
    rows: int = 2,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Candidate pairs FOR CONTAINMENT — where minhash LSH is blind.

    LSH banding collides pairs by JACCARD, and a short fragment inside
    a long document has Jaccard ≈ |frag|/|doc| — far below any banding
    threshold, so the jaccard-tuned candidate generator never emits
    the pair. The fix is resolution matching: chunk every document
    into sliding windows (:func:`~tabata_spark.operators.packing.
    chunk_documents`), band the CHUNK signatures together with the
    whole-doc signatures, and map chunk collisions back to their
    parent documents. A fragment now meets a same-sized chunk of its
    container (Jaccard ≈ 1 at chunk scale) and collides with
    probability ~1.

    Returns distinct (id_a, id_b) parent-document pairs (id_a < id_b)
    to feed :func:`containment_pairs` as ``candidates``. Cost: the
    chunk explode multiplies the signature stage by ~len/stride, but
    bucket aggregation, capping, and pair expansion stay the
    LSH-bounded shapes — no all-pairs anywhere.
    """
    from tabata_spark.operators.packing import chunk_documents

    whole = df.select(
        F.concat(F.lit("d:"), F.col(id_col).cast("string")).alias("__cid"),
        F.col(text).alias("__text"),
    )
    # chunk ids put the NUMERIC chunk index before the parent id
    # ("c:<idx>#<id>") so the parent is recovered by stripping an
    # anchored prefix — an id column that itself contains '#' (or any
    # other character) round-trips unharmed, unlike a trailing
    # "#<idx>" suffix split on the first '#'
    chunks = chunk_documents(
        df, window=chunk_window, stride=chunk_stride, text=text, id_col=id_col
    ).select(
        F.concat(
            F.lit("c:"),
            F.col("chunk_idx").cast("string"),
            F.lit("#"),
            F.col(id_col).cast("string"),
        ).alias("__cid"),
        F.col("chunk_text").alias("__text"),
    )
    units = whole.unionByName(chunks)
    sigs = minhash_signatures(units, "__text", "__cid", num_hashes, shingle_n)
    pairs = minhash_candidates(
        sigs, "__cid", bands=bands, rows=rows, max_bucket_size=max_bucket_size
    )
    id_type = dict(df.dtypes)[id_col]  # cast parents back to the real id type

    def parent(c):
        return F.regexp_replace(c, r"^(d:|c:[0-9]+#)", "").cast(id_type)

    mapped = pairs.select(
        parent(F.col("id_a")).alias("__pa"), parent(F.col("id_b")).alias("__pb")
    ).filter(F.col("__pa") != F.col("__pb"))
    return (
        mapped.select(
            F.least("__pa", "__pb").alias("id_a"),
            F.greatest("__pa", "__pb").alias("id_b"),
        )
        .distinct()
    )


def md5_token_hash(col: Column) -> Column:
    """60-bit token hash from the first 15 hex chars of md5 — the
    *engine-portable* hash: DuckDB computes the identical value via
    ``('0x' || substr(md5(tok), 1, 15))::BIGINT``, which lets an
    oracle replicate SimHash fingerprints bit-for-bit. Slower than
    xxhash64 (md5 + string slice + base conversion), so the default
    production path stays on xxhash64."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def near_dup_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 16,
    rows: int = 2,
    threshold: float = 0.8,
    max_bucket_size: int = 100,
    materialize: str | None = "persist",
    hot_bucket: str = "drop",
) -> DataFrame:
    """The fused MinHash near-dup pipeline: the corpus is shingled
    ONCE into per-doc arrays; the explode of those arrays feeds the
    signature aggregation, and the arrays themselves feed the
    exact-Jaccard verifier (array_intersect per candidate pair — no
    exploded-shingle join). Signatures → banded LSH candidates →
    verified pairs (id_a, id_b, jaccard ≥ threshold).

    This is the 100 TB entry point: cost = one corpus scan + one
    shingle shuffle (signatures) + the candidate-bounded verify.
    ``hot_bucket`` forwards to :func:`minhash_candidates` ("drop"
    caps recall on low-entropy corpora; "salt" shard-splits over-cap
    buckets instead — see the round-14 salt-vs-drop probe)."""
    arr = _materialize(
        df.select(
            F.col(id_col).alias("id"),
            token_shingles(text, shingle_n).alias("sh_arr"),
        ),
        materialize,
    )
    sh = arr.select("id", F.explode("sh_arr").alias("sh"))
    sig = minhash_signatures_from_shingles(sh, id_col="id", num_hashes=num_hashes)
    cand = minhash_candidates(
        sig,
        id_col="id",
        bands=bands,
        rows=rows,
        max_bucket_size=max_bucket_size,
        materialize=materialize,
        hot_bucket=hot_bucket,
    ).select(F.col("id_a"), F.col("id_b"))
    return ngram_jaccard_pairs(
        df,
        text=text,
        id_col=id_col,
        shingle_n=shingle_n,
        threshold=threshold,
        candidates=cand,
        shingle_arrays=arr,
    )


def near_dup_pairs_staged(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 16,
    rows: int = 2,
    threshold: float = 0.8,
    max_bucket_size: int = 100,
    band_groups: int = 4,
    verify_slices: int = 8,
    hot_bucket: str = "drop",
    salt_hash=None,
    sig_store: str | None = None,
) -> DataFrame:
    """:func:`near_dup_pairs` executed as SEQUENTIAL bounded-memory
    passes — the single-node (or per-executor-group) form of the
    measured 100 TB recipe (SCALE.md r15 probes):

    1. shingle arrays + signature table built once and persisted;
    2. the banded bucket aggregation runs as ``band_groups``
       sequential passes, each shuffling only its band slice
       (measured at 20M docs: 31% smaller per-pass working set AND
       13% faster than the one-job form — quarter-size shuffles
       spill less);
    3. candidate pairs (a partition of the one-job candidate set —
       distinct-unioned, so the result set is identical by
       construction, confirmed bit-for-bit at 20M) are verified in
       ``verify_slices`` sequential hash slices (measured: flat
       memory, 5.4x faster than the monolithic verify on a
       cache-warm array table).

    EAGER by design: each pass is materialized (persist + count)
    before the next starts — that sequencing IS the memory bound, so
    this function runs jobs at call time, unlike the lazy
    :func:`near_dup_pairs`. Use the lazy form when one job fits the
    cluster; use this when the candidate or verify shuffle would
    spill (boilerplate-heavy corpora, single fat node, or a capped
    executor group). Returns the verified (id_a, id_b, jaccard)
    pairs, all slices persisted.

    Intermediates are UNPERSISTED as soon as a later pass supersedes
    them — the signature table and per-group candidate parts after
    the distinct union is materialized, the shingle arrays and the
    candidate set after the last verify slice — so repeated calls do
    not accumulate executor storage; only the returned verified
    slices stay cached.

    ``sig_store``: optional parquet path; the (``id_col``, sig)
    signature table — THE thing to persist between ingests — is
    written there before the candidate passes, so the corpus-sized
    signature stage (the pipeline's most expensive aggregation,
    907.6 s at 20M docs in the r14 probe) is paid once per corpus:
    later batches hand the stored table to
    :func:`incremental_near_dup` via ``corpus_sigs=`` (or
    :func:`read_signature_store`) and pay only batch-sized work.
    Store and reader agree as long as ``num_hashes``/``shingle_n``
    match between the staged build and the ingest calls (both
    default 32/3) and the default xxhash64 hash pair is used."""
    if not 1 <= band_groups <= bands:
        raise ValueError(f"band_groups must be in [1, {bands}]")
    if verify_slices < 1:
        raise ValueError("verify_slices must be >= 1")
    arr = df.select(
        F.col(id_col).alias("id"),
        token_shingles(text, shingle_n).alias("sh_arr"),
    ).persist()
    sh = arr.select("id", F.explode("sh_arr").alias("sh"))
    sig = minhash_signatures_from_shingles(
        sh, id_col="id", num_hashes=num_hashes
    ).persist()
    if sig_store is not None:
        sig.select(F.col("id").alias(id_col), "sig").write.mode(
            "overwrite"
        ).parquet(sig_store)
    per = -(-bands // band_groups)  # ceil
    cand_parts = []
    for g in range(band_groups):
        lo, hi = g * per, min((g + 1) * per, bands) - 1
        if lo > hi:
            break
        # r16 (opt guide §2.3 "don't compute what you throw away"):
        # each pass hashes ONLY its own band slice — posexplode of the
        # [lo, hi] sub-array with the global band index restored from
        # the position, instead of hashing all `bands` bands per row
        # and filtering; bit-identical buckets (band hashes are
        # per-band salted constants), band_groups× less hash work
        banded_g = sig.select(
            F.col("id").alias("__id"),
            F.posexplode(_band_hash_array(hi - lo + 1, rows, start=lo)).alias(
                "__pos", "bh"
            ),
        ).select(
            "__id", (F.col("__pos") + F.lit(lo)).alias("band"), "bh"
        )
        p = bucket_candidate_pairs(
            banded_g,
            ["band", "bh"],
            "__id",
            max_bucket_size=max_bucket_size,
            hot_bucket=hot_bucket,
            salt_hash=salt_hash,
        ).persist()
        p.count()  # materialize this pass before the next starts
        cand_parts.append(p)
    cand = cand_parts[0]
    for p in cand_parts[1:]:
        cand = cand.unionByName(p)
    cand = cand.distinct().persist() if len(cand_parts) > 1 else cand_parts[0]
    cand.count()
    # the distinct union supersedes the per-group parts, and nothing
    # past the candidate passes reads signatures — free both now so
    # the verify stage starts from the bounded working set the
    # function exists to provide
    sig.unpersist()
    if len(cand_parts) > 1:
        for p in cand_parts:
            p.unpersist()
    # NOTE (r16, measured and rejected): pre-pruning `arr` to the ids
    # present in `cand` via a semi-join before the verify slices
    # (guide §3.2) is result-identical but was a 2.2× REGRESSION at
    # sf0.1 (10.4 s -> 23.1 s isolated min-of-3): the extra persist +
    # count pass and per-slice re-broadcasts of the array-payload
    # table cost far more than the cached-table scans they replace.
    # Each verify slice joins the small candidate slice (broadcast)
    # against the CACHED corpus array table instead.
    shard = F.pmod(F.xxhash64("id_a", "id_b"), F.lit(int(verify_slices)))
    out_parts = []
    for k in range(verify_slices):
        sl = cand.filter(shard == k) if verify_slices > 1 else cand
        v = ngram_jaccard_pairs(
            df,
            text=text,
            id_col=id_col,
            shingle_n=shingle_n,
            threshold=threshold,
            candidates=sl,
            shingle_arrays=arr,
        ).persist()
        v.count()
        out_parts.append(v)
    # every slice is materialized — the shingle arrays and the
    # candidate set have served their purpose
    arr.unpersist()
    cand.unpersist()
    out = out_parts[0]
    for v in out_parts[1:]:
        out = out.unionByName(v)
    return out


def read_signature_store(spark, path: str, id_col: str = "doc_id") -> DataFrame:
    """Read a signature store written by
    :func:`near_dup_pairs_staged(sig_store=...)` — the (``id_col``,
    sig: array<bigint>) table a recurring ingest hands to
    :func:`incremental_near_dup` as ``corpus_sigs`` so the corpus
    signature stage is never recomputed. Validates the contract
    (both columns present) so a wrong path fails at read time with a
    clear message, not deep inside the ingest join."""
    sigs = spark.read.parquet(path)
    missing = {id_col, "sig"} - set(sigs.columns)
    if missing:
        raise ValueError(
            f"signature store at {path!r} is missing column(s) "
            f"{sorted(missing)}; expected ({id_col!r}, 'sig') as "
            "written by near_dup_pairs_staged(sig_store=...)"
        )
    return sigs.select(id_col, "sig")


def simhash(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """64-bit SimHash fingerprint per document, natively: explode
    tokens, count set bits per position, majority vote → bit.

    ``token_hash``: Column→Column producing a long hash per token;
    defaults to ``F.xxhash64`` (fast JVM path). Pass
    ``md5_token_hash`` for the engine-portable 60-bit variant (top 4
    fingerprint bits then stay 0 — Hamming semantics unchanged).

    Bit counts are lane-packed: 16 aggregate columns, each holding 4
    independent 16-bit counters (bit i = g + 16j lives in accumulator
    g, lane j) — a 4x smaller aggregation state than one sum per bit,
    carry-safe for documents up to 65,535 tokens. The majority vote
    ``2*count > n`` equals the classic sum-of-±1 > 0.

    Returns (id, simhash: bigint). Near-dup = small Hamming distance.
    """
    assert bits == 64, "lane packing is laid out for 64-bit fingerprints"
    # Plan-construction hygiene (r16, opt guide §7.3): the packed
    # accumulators and the 64-term fingerprint reconstruction are
    # built as SQL STRINGS (one F.expr each) instead of ~1,500 nested
    # Column operator calls — the py4j round trips and incremental
    # analysis dominated the query's wall time at bench scale
    # (measured: ~1.9 s plan build vs ~1.7 s execution for
    # dedup_simhash at sf0.1). The parsed expression tree — and the
    # result — is identical; the token hash stays a Column (callers
    # inject md5/xxhash64 variants) projected once as __h.
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ", -1)).alias("tok")
    )
    th = toks.select(
        F.col(id_col), (token_hash or F.xxhash64)(F.col("tok")).alias("__h")
    )
    one = "CAST(1 AS BIGINT)"
    zero = "CAST(0 AS BIGINT)"
    aggs = [F.expr("count(1) as __ntok")]
    for g in range(16):
        packed = " + ".join(
            f"shiftleft(shiftright(__h, {g + 16 * j}) & {one}, {16 * j})"
            for j in range(4)
        )
        aggs.append(F.expr(f"sum({zero} + {packed}) as acc{g}"))
    sums = th.groupBy(id_col).agg(*aggs)
    mask = (1 << 16) - 1
    fp_terms = []
    for g in range(16):
        for j in range(4):
            i = g + 16 * j
            count_i = (
                f"(shiftright(acc{g}, {16 * j}) & CAST({mask} AS BIGINT))"
            )
            fp_terms.append(
                f"(CASE WHEN {count_i} * 2 > __ntok "
                f"THEN shiftleft({one}, {i}) ELSE {zero} END)"
            )
    fp_sql = " | ".join(fp_terms)
    return sums.select(
        F.col(id_col), F.expr(f"{zero} | {fp_sql}").alias("simhash")
    )


def simhash_near_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int = 200,
    materialize: str | None = "persist",
    hot_block: str = "drop",
    salt_hash=None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: pigeonhole on ``blocks``
    16-bit prefix blocks (a pair within Hamming d < blocks must agree
    on ≥1 block) → posexplode to (block_idx, block_val) rows → ONE
    bucket aggregation + in-array pair expansion (the same shape as
    bucket_candidate_pairs; structs carry the fingerprints so no
    join-back is needed) → exact popcount filter.

    Hot blocks beyond ``max_bucket_size`` are dropped by default (same
    quadratic guard as minhash_candidates). ``hot_block="salt"``
    shard-splits them instead — the exact policy (and shard math:
    exact-integer ``ceil(2n/cap)`` shards, per-(id, block) hash so a
    Hamming-close pair re-rolls its 1/shards odds in every block it
    agrees on) of ``bucket_candidate_pairs(hot_bucket="salt")``, whose
    replayed-oracle certification (dedup_minhash_salted) covers this
    code shape; boilerplate-heavy corpora keep partial recall inside
    hot blocks instead of zero. ``salt_hash``: optional ``(id:
    Column, keys: list[Column]) -> Column`` (same convention as
    bucket_candidate_pairs) producing the nonnegative long the shard
    is taken modulo from; defaults to seeded xxhash64. Pass an
    md5-derived hash for the engine-portable variant a SQL oracle can
    replay bit-for-bit. ``materialize`` applies only to the salt
    branch, where the exploded block frame is consumed twice (shard
    census + the bucket pass) — without it the ENTIRE upstream
    fingerprint aggregation executed twice (r16 plan audit; guide §5
    "cache a frame reused by more than one subtree"); the drop branch
    consumes nothing twice and caches nothing."""
    width = 64 // blocks
    block_vals = F.expr(
        "array("
        + ", ".join(
            f"shiftright(simhash, {i * width}) & {(1 << width) - 1}"
            for i in range(blocks)
        )
        + ")"
    )
    b = fp.select(
        F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("h")).alias(
            "item"
        ),
        F.posexplode(block_vals).alias("blk", "bv"),
    )
    group_cols = ["blk", "bv"]
    if max_bucket_size and hot_block == "salt":
        # the exploded block frame feeds BOTH the shard census and the
        # bucket pass below — materialize it so the upstream simhash()
        # aggregation (token explode + 17 packed-lane aggregates over
        # the whole corpus) runs once, not once per consumer (r16)
        b = _materialize(b, materialize)
        shards = (
            b.groupBy("blk", "bv")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select(
                "blk",
                "bv",
                F.expr(
                    f"CAST((2 * __n + {int(max_bucket_size)} - 1) "
                    f"div {int(max_bucket_size)} AS INT)"
                ).alias("__nsub"),
            )
        )
        if salt_hash is None:
            base = F.xxhash64(F.col("item.id"), F.col("blk"), F.col("bv"))
        else:
            base = salt_hash(F.col("item.id"), [F.col("blk"), F.col("bv")])
        b = b.join(F.broadcast(shards), ["blk", "bv"], "left").withColumn(
            "__salt",
            F.when(F.col("__nsub").isNull(), F.lit(0)).otherwise(
                F.pmod(base, F.col("__nsub")).cast("int")
            ),
        )
        group_cols.append("__salt")
    # one aggregation per block bucket (sorted by id since id is the
    # struct's first field), size-capped, then in-array pair expansion
    # — no self-join, no window sort (same shape as
    # bucket_candidate_pairs, structs carry the fingerprints along)
    bucket = b.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list("item")).alias("__items")
    )
    if max_bucket_size:
        bucket = bucket.filter(F.size("__items") <= max_bucket_size)
    pair_arr = F.expr(
        "flatten(transform(__items, (x, i) -> "
        "transform(slice(__items, i + 2, size(__items)), "
        "y -> named_struct('id_a', x.id, 'id_b', y.id, "
        "'ha', x.h, 'hb', y.h))))"
    )
    pairs = (
        bucket.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b", "p.ha", "p.hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 25,
    materialize: str | None = "persist",
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components —
    the last step of a real dedup pipeline (pairs → transitive cluster
    → one canonical survivor, which is ``comp`` itself since labels
    are min-ids).

    ``pairs``: (id_a, id_b) undirected edges (e.g. from
    :func:`near_dup_pairs` / :func:`simhash_near_pairs`).
    ``nodes``: optional (id_col) frame of ALL corpus ids; labels are
    restricted to it and docs with no edge become singleton clusters
    (comp = own id). Default: edge endpoints only.

    The edges are kept canonical: (a, b) with a < b, self-loops
    dropped, distinct. While that set has more than L rows, the
    components contract by large-star/small-star rounds (Kiveris et
    al., "Connected Components in MapReduce and Beyond"), O(log n)
    rounds even on chain graphs:

    - large-star: m(u) = min(Γ(u) ∪ {u}); connect every bigger
      neighbor of u to m(u). Computed WITHOUT neighbor-list collects:
      one map-side-combinable min per node + one equi-join back — a
      billion-degree hub never materializes its adjacency in one task;
    - small-star: orient each edge to its larger endpoint b;
      m(b) = min of b's smaller neighbors; connect b and each smaller
      neighbor to m(b). Same agg+join shape.

    Unless ``materialize`` is None/'none', every round is eagerly
    checkpointed (lineage cut — plan growth, not recompute, is the
    enemy of iterative algorithms). After each round one scalar
    aggregate reads the edge count and an order-free xxhash64 sum:
    an unchanged signature is the fixed point, where every component
    is a star rooted at its min id and the labels read off the edges.

    Once the edge set has at most L rows it is collected in one query
    and finished on the driver by a numpy union-find. Before the first
    round the collect is the size test (it fetches at most L + 1 rows);
    after a round the signature's count decides, so no round adds a
    count job. L is
    ``spark.sql.autoBroadcastJoinThreshold`` bytes / 16 (two longs per
    edge): about 655k edges at the default 10 MB, and a threshold <= 0
    keeps every round distributed. A dedup graph of LSH clusters
    usually fits at once: then the call is that one query.

    Raises RuntimeError when ``max_iter`` rounds end before either
    finish. Returns (id, comp), comp = min id reachable, fully
    deterministic (DuckDB recursive-CTE oracle-able).
    """
    spark = pairs.sparkSession
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold() // 16
    ce = (
        pairs.select(
            F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    def cut(df: DataFrame) -> DataFrame:
        return df if materialize in (None, "none") else df.localCheckpoint(eager=True)

    def signature(df: DataFrame) -> tuple[int, int]:
        # decimal(38,0) accumulator: ANSI-safe (no long overflow)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = None  # (rows, hash) of ce, once the rounds have started
    for _ in range(max_iter):
        if limit > 0 and (sig is None or sig[0] <= limit):
            edges = ce.limit(limit + 1).toPandas()
            if len(edges) <= limit:
                ids, comp = _min_id_labels(edges["a"].to_numpy(), edges["b"].to_numpy())
                t = ce.schema["a"].dataType
                labels = spark.createDataFrame(
                    pd.DataFrame({"id": ids, "comp": comp}),
                    StructType([StructField("id", t), StructField("comp", t)]),
                )
                break
        if sig is None:
            ce = cut(ce)
            sig = signature(ce)
        # large-star
        sym = ce.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            ce.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        m = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        m = m.select("src", F.least("mn", F.col("src")).alias("m"))
        large = (
            sym.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("m").alias("a"), F.col("dst").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        ce = cut(large)
        # small-star: key = larger endpoint b, m(b) = min smaller neighbor
        mb = ce.groupBy("b").agg(F.min("a").alias("m"))
        from_edges = (
            ce.join(mb, "b")
            .filter(F.col("a") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("a").alias("b"))
        )
        from_roots = mb.select(F.col("m").alias("a"), F.col("b").alias("b"))
        small = (
            from_edges.unionByName(from_roots)
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        ce = cut(small)
        new_sig = signature(ce)
        if new_sig == sig:
            # fixed point: stars (root=a, member=b)
            member = ce.groupBy(F.col("b").alias("id")).agg(F.min("a").alias("comp"))
            roots = ce.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
            labels = member.unionByName(roots).groupBy("id").agg(F.min("comp").alias("comp"))
            break
        sig = new_sig
    else:
        # An unconverged edge set is not guaranteed to be a star forest;
        # reading labels off it would return silently-wrong components.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (star contraction needs O(log n) rounds, so a "
            "miss usually means the edge input is unstable between scans)"
        )
    if nodes is not None:
        base = nodes.select(F.col(id_col).alias("id")).distinct()
        labels = (
            base.join(labels, "id", "left")
            .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
        )
    return labels


def _min_id_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Driver finish of :func:`connected_components`: (ids, comp) for
    the graph with edges (a[i], b[i]), comp = least id of the
    component. Union-find by hooking and pointer jumping over indices
    into the sorted ids: every root that is the larger end of an edge
    between two trees hooks onto the least root it meets, then every
    node jumps to its root. Pointers only ever decrease, so each root
    is its tree's min id; each pass removes at least one root."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a):]
    parent = np.arange(len(ids))
    while True:
        pu, pv = parent[u], parent[v]
        cross = pu != pv
        if not cross.any():
            return ids, ids[parent]
        pu, pv = pu[cross], pv[cross]
        lo = np.minimum(pu, pv)
        np.minimum.at(parent, pu, lo)
        np.minimum.at(parent, pv, lo)
        up = parent[parent]
        while (up != parent).any():
            parent, up = up, up[up]


def dedup_cluster_assignments(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    materialize: str | None = "persist",
) -> DataFrame:
    """Per-document cluster table (id, comp, csize): every corpus doc
    assigned its transitive near-dup cluster (singletons included),
    plus the cluster size. Survivor policy = keep ``id == comp``
    (min-id canonical); dedup ratio = count(distinct comp) / count."""
    labels = connected_components(
        pairs, nodes=df.select(id_col), id_col=id_col, materialize=materialize
    )
    return labels.withColumn(
        "csize", F.count(F.lit(1)).over(Window.partitionBy("comp"))
    )


def minhash_lsh_mllib(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
) -> DataFrame:
    """Library path: HashingTF(binary) + MinHashLSH
    approxSimilarityJoin; returns (id_a, id_b, jaccard_distance)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    tok = Tokenizer(inputCol=text, outputCol="__toks")
    tf = HashingTF(
        inputCol="__toks", outputCol="__feat", binary=True, numFeatures=num_features
    )
    feat = tf.transform(tok.transform(df.select(id_col, text)))
    mh = MinHashLSH(inputCol="__feat", outputCol="__mh", numHashTables=num_hash_tables, seed=42)
    model = mh.fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, threshold, distCol="jaccard_distance")
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round("jaccard_distance", 6).alias("jaccard_distance"),
        )
    )


def line_dedup(
    df: DataFrame,
    lines_col: str = "lines",
    id_col: str = "doc_id",
    max_docs: int = 1,
    materialize: str | None = "persist",
) -> DataFrame:
    """Line-level boilerplate removal (the C4/RefinedWeb pipeline
    step): any line occurring in MORE than ``max_docs`` distinct
    documents is dropped from every document; each document's
    surviving lines are reassembled in their original order.

    Plan: posexplode lines → per-line distinct-doc count (two
    uniform-key aggregations — line-hash dedup then count, both
    map-side combinable) → broadcast-friendly anti-join of the
    exploded frame against the boilerplate line set → order-preserving
    re-aggregation via array_sort(collect_list(struct(pos, line))).
    The shuffle carries the 60-bit engine-portable md5 line hash
    (:func:`md5_token_hash`), never the line text, so the wide columns
    stay scan-side. Nothing is quadratic; every stage keys on uniform
    hashes. At 100 TB the boilerplate set (lines with df > max_docs)
    is the only state that moves to every executor — cap it upstream
    with a df ceiling if an adversarial corpus makes it large.

    Returns (id, lines, n_removed) with ``lines`` = surviving lines
    in order.
    """
    ex = df.select(
        F.col(id_col).alias("__id"), F.posexplode(lines_col).alias("pos", "line")
    ).withColumn("lh", md5_token_hash(F.col("line")))
    ex = _materialize(ex, materialize)
    boiler = (
        ex.select("lh", "__id")
        .distinct()
        .groupBy("lh")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") > max_docs)
        .select("lh")
    )
    kept = ex.join(boiler, "lh", "left_anti")
    n_lines = ex.groupBy("__id").agg(F.count(F.lit(1)).alias("__n_total"))
    out = (
        kept.groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ).alias("lines"),
            F.count(F.lit(1)).alias("__n_kept"),
        )
        .join(n_lines, "__id", "right")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("lines", F.array().cast("array<string>")).alias("lines"),
            (F.col("__n_total") - F.coalesce("__n_kept", F.lit(0))).alias(
                "n_removed"
            ),
        )
    )
    return out


def incremental_near_dup(
    corpus: DataFrame,
    new: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 16,
    rows: int = 2,
    threshold: float = 0.8,
    max_bucket_size: int = 100,
    materialize: str | None = "persist",
    corpus_sigs: DataFrame | None = None,
    new_sigs: DataFrame | None = None,
    corpus_banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs for a NEW batch: new×corpus and new×new, never
    corpus×corpus — the recurring-ingest shape. A growing corpus must
    not re-pair itself on every arrival; pairs among already-ingested
    documents were resolved when they arrived, so each batch pays only
    for buckets it touches.

    Pass ``corpus_sigs`` (the stored signature table — (id, sig), the
    natural thing to persist between ingests) to skip recomputing
    corpus signatures; only the new batch is shingled then. The
    corpus' banded rows are semi-joined to the batch's bucket keys
    BEFORE any aggregation, so bucket state is bounded by the batch's
    bucket membership, not the corpus'; pair expansion keeps a pair
    only if at least one side is new. Verification is the
    candidate-bounded exact-Jaccard path over both frames' shingle
    arrays. Cost scales with the batch and its collisions; the corpus
    contributes only rows that share a bucket with the batch.

    ``corpus_banded`` goes one step further than ``corpus_sigs``:
    pre-BANDED corpus rows ``(band, bh, __id)`` — e.g. a pruned read
    of a stored, ``bh``-clustered signature index
    (:mod:`tabata_spark.operators.sigidx`) — skip even the banding
    expression over the stored signatures; the frame may contain
    extra rows (whole kept index files), the batch-key semi-join
    below restricts it exactly as it does the derived form.
    """
    if new_sigs is None:
        new_sigs = minhash_signatures(new, text, id_col, num_hashes, shingle_n)
    band_arr = _band_hash_array(bands, rows)
    if corpus_banded is not None:
        b_old = corpus_banded.select("band", "bh", "__id").withColumn(
            "is_new", F.lit(False)
        )
    else:
        if corpus_sigs is None:
            corpus_sigs = minhash_signatures(
                corpus, text, id_col, num_hashes, shingle_n
            )
        b_old = corpus_sigs.select(
            F.col(id_col).alias("__id"), F.posexplode(band_arr).alias("band", "bh")
        ).withColumn("is_new", F.lit(False))
    b_new = new_sigs.select(
        F.col(id_col).alias("__id"), F.posexplode(band_arr).alias("band", "bh")
    ).withColumn("is_new", F.lit(True))
    # broadcast the batch's bucket keys: the corpus banded frame is
    # filtered map-side — no corpus-sized shuffle ever happens
    new_keys = b_new.select("band", "bh").distinct()
    banded = b_old.join(F.broadcast(new_keys), ["band", "bh"], "left_semi").unionByName(
        b_new
    )
    bucket = banded.groupBy("band", "bh").agg(
        F.array_sort(F.collect_list(F.struct("__id", "is_new"))).alias("items")
    )
    if max_bucket_size:
        bucket = bucket.filter(F.size("items") <= max_bucket_size)
    items = F.col("items")
    n = F.size(items)
    expanded = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + 2, n),
                lambda y: F.struct(
                    x["__id"].alias("id_a"),
                    y["__id"].alias("id_b"),
                    (x["is_new"] | y["is_new"]).alias("any_new"),
                ),
            ),
        )
    )
    cand = _materialize(
        bucket.select(F.explode(expanded).alias("p"))
        .filter(F.col("p.any_new"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct(),
        materialize,
    )
    # shingle ONLY candidate-touched docs: semi-join the union corpus
    # to the candidate id set before the (expensive) shingle arrays
    # are computed — verification cost stays candidate-bounded even
    # though the corpus is arbitrarily large
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    both = corpus.select(id_col, text).unionByName(new.select(id_col, text))
    touched = both.join(ids, F.col(id_col) == F.col("id"), "left_semi")
    arr = _materialize(
        touched.select(
            F.col(id_col).alias("id"),
            token_shingles(text, shingle_n).alias("sh_arr"),
        ),
        materialize,
    )
    return ngram_jaccard_pairs(
        both,
        text=text,
        id_col=id_col,
        shingle_n=shingle_n,
        threshold=threshold,
        candidates=cand,
        materialize=materialize,
        shingle_arrays=arr,
    )


# ---------------------------------------------------------------------------
# Exact substring-span dedup (duplicate token n-grams across the corpus)
# ---------------------------------------------------------------------------
#
# The sixth tier: position-aware EXACT duplication, in the spirit of
# suffix-array training-data dedup ("identical spans of >= N tokens
# appearing more than once"). A suffix array is a single-machine
# structure; the Spark-native equivalent is a rolling token n-gram
# occurrence table — every duplicated span of length >= n is exactly a
# run of duplicated n-grams, so union-of-intervals over duplicated
# n-gram starts recovers span coverage without materializing suffixes.
# Cost model at 100 TB: one scan-stage explode (tokens x 1 row per
# n-gram start), one groupBy on uniform keys with map-side partial
# counts, one equi-join back, one per-doc window. Nothing quadratic.


def ngram_positions(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    key: str = "hash",
) -> DataFrame:
    """One row per token n-gram occurrence: (id, pos, k) with 1-based
    start position `pos`. Docs shorter than n tokens emit no rows.

    Scan-stage only (split -> indexed transform -> explode; zero
    shuffles). ``key='hash'`` ships 8-byte xxhash64 keys through the
    downstream shuffle (production default); ``key='text'`` carries
    the raw n-gram string — engine-portable, used by the DuckDB
    oracle, and semantically identical minus hash collisions.
    """
    if key not in ("hash", "text"):
        raise ValueError(f"key must be 'hash' or 'text', got {key!r}")
    # r17: let-bind the token array — the transform lambda would
    # otherwise re-run split() once per n-gram start (see bind1)
    grams = bind1(
        F.split(F.col(text), " ", -1),
        lambda t: F.when(
            F.size(t) - F.lit(n - 1) >= 1,
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(t) - F.lit(n - 1), F.lit(1))
                ),
                lambda p: F.struct(
                    p.alias("pos"),
                    F.array_join(F.slice(t, p, n), " ").alias("g"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,g:string>>")),
    )
    occ = df.select(F.col(id_col), F.explode(grams).alias("o"))
    return occ.select(
        id_col,
        F.col("o.pos").alias("pos"),
        (F.xxhash64("o.g") if key == "hash" else F.col("o.g")).alias("k"),
    )


def duplicate_span_stats(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    key: str = "hash",
    min_count: int = 2,
    materialize: str | None = "persist",
) -> DataFrame:
    """Per-document exact-duplication coverage: how many tokens sit
    inside a length-n span that occurs >= min_count times corpus-wide.

    Output: (id, n_tokens, dup_starts, covered_tokens), all BIGINT —
    hash-stable by construction (no floats). covered_tokens is the
    union length of the intervals [pos, pos+n) over duplicated n-gram
    starts; because all intervals share length n, the union telescopes
    to sum(min(n, pos_i - pos_{i-1})) over starts sorted per doc (first
    term n) — one lag window, no interval explode.

    Plan: occurrence explode (scan stage) -> count per key (one
    shuffle, uniform 8-byte keys, map-side combine) -> equi-join back
    (AQE broadcasts when the duplicated-key set is small) -> per-doc
    lag window -> groupBy doc. Left-join restores zero-coverage docs.

    The occurrence explode feeds both the duplicate-count and the
    join-back (two consumers — the self-join-recompute trap, SCALE.md
    lesson 3), so it is materialized per the standard ``materialize``
    strategy; production pipelines store the occurrence table.
    """
    occ = _materialize(
        ngram_positions(df, text=text, id_col=id_col, n=n, key=key), materialize
    )
    dup = (
        occ.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= min_count)
        .select("k")
    )
    hits = occ.join(dup, "k")
    w = Window.partitionBy(id_col).orderBy("pos")
    seg = hits.withColumn("__prev", F.lag("pos").over(w)).withColumn(
        "__add",
        F.when(F.col("__prev").isNull(), F.lit(n)).otherwise(
            F.least(F.lit(n), F.col("pos") - F.col("__prev"))
        ),
    )
    per_doc = seg.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("dup_starts"),
        F.sum("__add").cast("long").alias("covered_tokens"),
    )
    docs = df.select(
        F.col(id_col), F.size(F.split(F.col(text), " ", -1)).cast("long").alias("n_tokens")
    )
    return (
        docs.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_starts", F.lit(0)).cast("long").alias("dup_starts"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
        )
    )


def strip_duplicate_spans(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    key: str = "hash",
    min_count: int = 2,
    materialize: str | None = "persist",
) -> DataFrame:
    """Remove duplicated spans, keeping the globally-first occurrence.

    An occurrence of a duplicated n-gram is *non-canonical* unless it
    is the (min id, min pos) occurrence of that n-gram; every token
    covered by at least one non-canonical occurrence is dropped, and
    the survivors are reassembled in order. Output:
    (id, n_tokens, n_removed, kept_text).

    Plan: occurrence explode -> ONE groupBy per key computing (count,
    min struct(id,pos)) with map-side partials -> join back -> covered
    positions collected per doc as a set (collect_set over the
    interval explode — bounded by doc length) -> hash-join to the doc
    table -> index-aware array filter (F.filter's (x, i) lambda) keeps
    the surviving tokens without ever exploding the token column.
    The twice-consumed occurrence explode is materialized (see
    :func:`duplicate_span_stats`).
    """
    occ = _materialize(
        ngram_positions(df, text=text, id_col=id_col, n=n, key=key), materialize
    )
    agg = occ.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias("first_occ"),
    )
    dup = agg.filter(F.col("n_occ") >= min_count)
    noncanon = occ.join(dup, "k").filter(
        ~((F.col(id_col) == F.col("first_occ.i")) & (F.col("pos") == F.col("first_occ.p")))
    )
    cov = (
        noncanon.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("cp"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("cp").alias("__cov"))
    )
    toks = F.split(F.col(text), " ", -1)
    kept = F.when(F.col("__cov").isNull(), toks).otherwise(
        F.filter(toks, lambda x, i: ~F.array_contains(F.col("__cov"), i + 1))
    )
    return (
        df.join(cov, id_col, "left")
        .select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tokens"),
            (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
            F.array_join(kept, " ").alias("kept_text"),
        )
    )


# ---------------------------------------------------------------------------
# Continuous-ingestion dedup with transactional, exactly-once storage
# ---------------------------------------------------------------------------


def dedup_ingest_batch(
    spark,
    root: str,
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
) -> int:
    """One production ingest step: near-dup-gate a NEW batch against
    the stored corpus, then commit the survivors ATOMICALLY.

    The corpus lives in ONE transactional table (sources/txlog.py)
    whose rows are ``(id, text, sig)`` — the minhash signature is a
    COLUMN of the document table, not a sibling table. That single
    decision is what makes the pipeline exactly-once: survivors and
    their signatures land in one atomic commit (no cross-table
    transaction problem, no window where signatures exist for
    documents that don't or vice versa), and the batch's ``txn``
    token makes a replayed/crashed-and-retried ingest a no-op.
    Parquet being columnar means dedup reads ``(id, sig)`` without
    ever touching ``text`` bytes, and snapshot readers project the
    documents without paying for signatures — the two "tables" were
    only ever two projections.

    Dedup semantics (deterministic, partitioning-independent): a new
    document is dropped iff it near-dup-pairs (verified exact n-gram
    Jaccard ≥ ``threshold`` over LSH candidates —
    :func:`incremental_near_dup`, so corpus×corpus pairs are never
    generated) with ANY stored corpus document, or with a smaller-id
    document of its own batch (the same keep-min greedy rule the
    batch dedup families use). Signatures are computed ONCE per batch
    and reused for both candidate generation and storage.

    Scale shape: cost per ingest is batch-sized (the corpus
    contributes only bucket-colliding rows via a broadcast semi-join
    on the batch's bucket keys; corpus signature recompute is avoided
    entirely — the stored column IS the signature cache), and the
    commit inherits the txlog's optimistic concurrency + checkpointed
    O(1)-resolution. Returns the committed (or replayed) version."""
    from tabata_spark.sources.txlog import tx_read, tx_write

    new = new.select(F.col(id_col), F.col(text))
    try:
        stored = tx_read(spark, root)
        corpus = stored.select(id_col, text)
        corpus_sigs = stored.select(id_col, "sig")
    except ValueError:  # first batch: empty corpus
        corpus = spark.createDataFrame([], new.schema)
        corpus_sigs = None
    new_sigs = minhash_signatures(new, text, id_col, num_hashes, shingle_n)
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
        corpus_sigs=corpus_sigs,
        new_sigs=new_sigs,
    )
    flags = new.select(F.col(id_col).alias("__fid"), F.lit(True).alias("__new"))
    tagged = (
        pairs.join(
            F.broadcast(flags.select(F.col("__fid").alias("id_a"), F.col("__new").alias("a_new"))),
            "id_a",
            "left",
        )
        .join(
            F.broadcast(flags.select(F.col("__fid").alias("id_b"), F.col("__new").alias("b_new"))),
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
    # mixed pair -> drop the new side; new-new pair (id_a < id_b by
    # construction) -> drop the larger id
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
    # id stats in the commit -> log-level file pruning for point reads
    # (tight per-batch id ranges make them sharp; see sigidx probe)
    return tx_write(
        survivors.select(id_col, text, "sig"), root, txn=txn,
        stats_cols=[id_col],
    )
