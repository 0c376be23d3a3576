"""Similarity search over embedding columns (north-star extension).

Two tiers:

- brute-force cosine top-k: the correctness baseline. The query
  vector folds into the plan as an array literal; the dot product and
  norm are `aggregate`/`zip_with` expressions (JVM, codegen) and the
  top-k compiles to TakeOrderedAndProject — per-partition heaps, no
  global sort. Linear scan, perfectly parallel: at 100 TB this is one
  pass, and it is the right plan when every query is fresh.
- LSH-bucketed ANN (random hyperplanes): sign-pattern of ``n_planes``
  seeded hyperplane dot products → bucket id. Build once (a narrow
  (id, bucket) table, shuffle on bucket), then a query probes only
  its own (or few multiprobe) buckets — the scale path for repeated
  queries. Planes are generated from a seed on the driver and folded
  in as literals, so results are deterministic and oracle-checkable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot_lit(vec_col: Column, q: list[float]) -> Column:
    """<vec, q> with q folded in as a literal array — evaluated
    element-wise in the JVM (no UDF)."""
    qlit = F.array(*[F.lit(float(x)) for x in q])
    return F.aggregate(
        F.zip_with(vec_col, qlit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(vec_col: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_to_query(vec_col: Column, q: list[float]) -> Column:
    # sequential (not pairwise) sum so the scalar matches engines that
    # reduce lists left-to-right (oracle parity at full precision)
    qn = float(sum(float(x) * float(x) for x in q)) ** 0.5
    return _dot_lit(vec_col, q) / (norm_col(vec_col) * F.lit(qn))


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against one query vector."""
    return (
        df.select(
            id_col, F.round(cosine_to_query(F.col(vec_col), query), 4).alias("cosine")
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def cosine_cols(a: Column, b: Column) -> Column:
    """Cosine between two array COLUMNS (no literals) — sequential
    left-to-right folds for engine-parity of the doubles."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot / (norm_col(a) * norm_col(b))


def knn_join(
    queries: DataFrame,
    index: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Batched exact k-NN: top-``k`` index neighbors for EVERY query
    row — the serving/dedup shape where queries arrive in batches, not
    one vector at a time. The query batch broadcasts (it is the small
    side by construction); each executor scans its index slice once
    computing all query cosines (a broadcast nested-loop pass, the
    dense analog of a matmul tile), and a per-query window keeps k.
    The window shuffle carries the O(queries x index) scored rows —
    for large batches chain after an IVF/LSH pre-filter of ``index``
    (probe cells per query) so the scored set is bucket-bounded
    rather than index x batch.

    Ranking uses the UNROUNDED cosine (ties broken by ``id_col``) so
    engines that round display values agree on membership.
    """
    if query_id == id_col:
        raise ValueError(
            f"query_id and id_col must differ (both {query_id!r}) — the "
            "output carries one column per side"
        )
    # both sides reduced to renamed private columns before the join:
    # an index frame that happens to carry a query_id (or __qv) column
    # must not collide with the broadcast batch's columns
    ix = index.select(F.col(id_col).alias("__ix_id"), F.col(vec_col).alias("__ix_v"))
    q = queries.select(F.col(query_id).alias("__q_id"), F.col(vec_col).alias("__qv"))
    scored = ix.join(F.broadcast(q)).select(
        F.col("__q_id").alias(query_id),
        F.col("__ix_id").alias(id_col),
        cosine_cols(F.col("__ix_v"), F.col("__qv")).alias("__cos"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("__cos"), id_col)
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(
            query_id,
            id_col,
            F.round("__cos", 4).alias("cosine"),
            F.col("__rk").alias("rank"),
        )
    )


def random_planes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def bucket_col(vec_col: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: bit i = sign(<vec, plane_i>)."""
    b = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(_dot_lit(vec_col, p) >= 0, F.lit(1)).otherwise(F.lit(0))
        b = b + (bit.cast("long") * F.lit(1 << i).cast("long"))
    return b


def lsh_index(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """(… , bucket) — materialize/partition by bucket for probes."""
    return df.withColumn("bucket", bucket_col(F.col(vec_col), planes))


def lsh_topk(
    df: DataFrame,
    query: list[float],
    planes: list[list[float]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: int = 0,
) -> DataFrame:
    """ANN top-k: scan only the query's bucket (plus ``multiprobe``
    single-bit-flip neighbor buckets), exact cosine within."""
    qv = np.asarray(query, dtype=float)
    qbits = [1 if float(np.dot(qv, np.asarray(p))) >= 0 else 0 for p in planes]
    qbucket = sum(b << i for i, b in enumerate(qbits))
    buckets = [qbucket] + [qbucket ^ (1 << i) for i in range(min(multiprobe, len(planes)))]
    indexed = lsh_index(df, planes, vec_col)
    return (
        indexed.filter(F.col("bucket").isin(buckets))
        .select(
            id_col, F.round(cosine_to_query(F.col(vec_col), query), 4).alias("cosine")
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 20,
) -> list[list[float]]:
    """Coarse-quantizer centroids via MLlib KMeans (seeded). Train on
    a sample at scale — the model is O(n_centroids · dim) and lives on
    the driver like any literal."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    if sample_fraction:
        data = data.sample(sample_fraction, seed=seed)
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(data)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _l2sq_lit(vec_col: Column, c: list[float]) -> Column:
    clit = F.array(*[F.lit(float(x)) for x in c])
    return F.aggregate(
        F.zip_with(
            vec_col, clit, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_assign(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """IVF cell assignment: argmin squared-L2 over the centroid list,
    as one JVM expression (array of (dist, idx) structs → array_min's
    lexicographic struct order gives the nearest centroid, ties to the
    lowest index). Adds ``ivf_cell``.

    At 100 TB the assigned table is written
    ``partitionBy('ivf_cell')`` so a probe reads only nprobe
    partitions — partition pruning does the index lookup."""
    dists = F.array(
        *[
            F.struct(
                _l2sq_lit(F.col(vec_col), c).alias("d"), F.lit(i).alias("i")
            )
            for i, c in enumerate(centroids)
        ]
    )
    return df.withColumn("ivf_cell", F.array_min(dists)["i"])


def ivf_topk(
    df: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assigned: bool = False,
) -> DataFrame:
    """IVF ANN top-k: rank centroids by distance to the query on the
    driver (tiny), probe the ``nprobe`` nearest cells, exact cosine
    within. ``nprobe = len(centroids)`` degrades to exact brute force
    — the oracle-checkable setting; small nprobe is the scale path.
    ``assigned=True`` skips re-assignment when ``df`` already carries
    ``ivf_cell`` (the stored-index case)."""
    qv = np.asarray(query, dtype=float)
    order = np.argsort(
        [float(((qv - np.asarray(c)) ** 2).sum()) for c in centroids], kind="stable"
    )
    cells = [int(i) for i in order[: max(1, min(nprobe, len(centroids)))]]
    indexed = df if assigned else ivf_assign(df, centroids, vec_col)
    return (
        indexed.filter(F.col("ivf_cell").isin(cells))
        .select(
            id_col,
            F.round(cosine_to_query(F.col(vec_col), query), 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def ivf_knn_join(
    queries: DataFrame,
    index: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
    assigned: bool = False,
) -> DataFrame:
    """Batched ANN: :func:`knn_join` with IVF cell pre-filtering — the
    scale path for large query batches. Each query computes its
    ``nprobe`` nearest cells as a JVM expression over the centroid
    literals (array of (dist, idx) structs, array_sort, slice) and
    explodes to (query, cell) probe rows; the equi-join on
    ``ivf_cell`` bounds the scored set to the probed cells' contents
    instead of |index|·|batch|. With a cell-partitioned stored index
    the probe set prunes partitions (dynamic partition pruning from
    the broadcast probe side). ``nprobe = len(centroids)`` is exact —
    provably identical to :func:`knn_join` whatever the centroids.
    """
    if query_id == id_col:
        raise ValueError(
            f"query_id and id_col must differ (both {query_id!r}) — the "
            "output carries one column per side"
        )
    indexed = index if assigned else ivf_assign(index, centroids, vec_col)
    nprobe = max(1, min(nprobe, len(centroids)))
    dists = F.array(
        *[
            F.struct(
                _l2sq_lit(F.col(vec_col), c).alias("d"), F.lit(i).alias("i")
            )
            for i, c in enumerate(centroids)
        ]
    )
    probe_cells = F.transform(
        F.slice(F.array_sort(dists), 1, nprobe), lambda s: s["i"]
    )
    # renamed private columns on both sides — same collision guard as
    # knn_join (an index frame carrying query_id/__qv must not clash)
    ix = indexed.select(
        F.col(id_col).alias("__ix_id"),
        F.col(vec_col).alias("__ix_v"),
        "ivf_cell",
    )
    q = queries.select(
        F.col(query_id).alias("__q_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(probe_cells).alias("__cell"),
    )
    scored = ix.join(
        F.broadcast(q), F.col("ivf_cell") == F.col("__cell")
    ).select(
        F.col("__q_id").alias(query_id),
        F.col("__ix_id").alias(id_col),
        cosine_cols(F.col("__ix_v"), F.col("__qv")).alias("__cos"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("__cos"), id_col)
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(
            query_id,
            id_col,
            F.round("__cos", 4).alias("cosine"),
            F.col("__rk").alias("rank"),
        )
    )


def hyperplane_signatures(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    impl: str = "arrow",
) -> DataFrame:
    """Banded sign-bit signatures: (id, band, sig) with sig = the
    packed sign bits of this band's hyperplane dot products.

    ``impl='arrow'`` (default, the scale path): one vectorized numpy
    matmul per Arrow batch — ``(X @ P.T) >= 0`` — then bit packing;
    embedding work is exactly where the brief's "vectorized Pandas
    UDF" guidance applies, and it beats per-element JVM lambda
    interpretation ~10×. ``impl='jvm'``: pure Column zip_with dots —
    no Python anywhere, bit-for-bit what a SQL engine computes from
    the same plane literals (the oracle-parity path). Both produce
    identical signatures (a sign flips only if |dot| is within
    float-sum reassociation error of 0, ~1e-13 relative)."""
    if len(planes) % bands:
        raise ValueError("len(planes) must be divisible by bands")
    rows_per = len(planes) // bands
    if impl == "jvm":
        sigs = F.array(
            *[
                bucket_col(F.col(vec_col), planes[b * rows_per : (b + 1) * rows_per])
                for b in range(bands)
            ]
        )
        return df.select(
            F.col(id_col).alias("__id"), F.posexplode(sigs).alias("band", "sig")
        )
    if impl != "arrow":
        raise ValueError(f"unknown impl: {impl!r}")
    import pandas as pd

    P = np.asarray(planes, dtype=float)
    weights = 1 << np.arange(rows_per)

    def batches(it):
        for pdf in it:
            X = np.vstack(pdf[vec_col].to_numpy()).astype(float)
            bits = (X @ P.T) >= 0
            frames = []
            for b in range(bands):
                sub = bits[:, b * rows_per : (b + 1) * rows_per]
                frames.append(
                    pd.DataFrame(
                        {
                            "__id": pdf[id_col],
                            "band": b,
                            "sig": (sub * weights).sum(axis=1),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    src = df.select(id_col, vec_col)
    id_type = dict(src.dtypes)[id_col]
    return src.mapInPandas(batches, f"__id {id_type}, band int, sig long")


def lsh_neardup_pairs(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket_size: int = 500,
    sig_impl: str = "arrow",
    precap: bool = False,
) -> DataFrame:
    """Corpus-wide embedding near-duplicate pairs — the scale path the
    per-label block join (:func:`pairwise_topk_per_label`) documents as
    its swap-in. Banded random-hyperplane LSH: the ``len(planes)``
    sign bits split into ``bands`` bands; vectors agreeing on every
    bit of ≥1 band become candidates via one size-capped bucket
    aggregation + in-array pair expansion (dedup.bucket_candidate_pairs
    — no self-join), then candidates are verified with the exact
    cosine and filtered at ``threshold``. The verification dot product
    stays a JVM sequential sum so a SQL oracle reproduces the doubles
    bit-for-bit; signatures use the vectorized Arrow matmul by default
    (see :func:`hyperplane_signatures`).

    Never quadratic in the corpus: cost is the signature matmul
    (linear), one shuffle on uniform (band, sig) keys, and a
    verification join linear in candidate pairs. Identical vectors
    share every band signature, so exact-duplicate recall is 1
    regardless of parameters; near-pair recall follows the standard
    1-(1-p^rows)^bands curve with p = 1 - θ/π. Deterministic given
    ``planes`` (fold a seeded literal list in), so a SQL oracle can
    replay bucketing, capping, and verification exactly."""
    from tabata_spark.operators.dedup import bucket_candidate_pairs

    banded = hyperplane_signatures(
        df, planes, bands, vec_col=vec_col, id_col=id_col, impl=sig_impl
    )
    cand = bucket_candidate_pairs(
        banded,
        ["band", "sig"],
        "__id",
        max_bucket_size=max_bucket_size,
        precap=precap,
    )
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    dot = F.aggregate(
        F.zip_with("__va", "__vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (norm_col(F.col("__va")) * norm_col(F.col("__vb")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", F.round(cos, 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def pairwise_topk_per_label(
    df: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-dup shape: per label group, the top-k most
    similar pairs (blocked self-join — label plays the bucket; real
    near-dup blocking swaps in LSH buckets)."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(label_col).alias("lbl"),
        F.col(vec_col).alias("va"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(label_col).alias("lbl"),
        F.col(vec_col).alias("vb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (norm_col(F.col("va")) * norm_col(F.col("vb")))
    pairs = a.join(b, (a["lbl"] == b["lbl"]) & (F.col("id_a") < F.col("id_b"))).select(
        "id_a", "id_b", a["lbl"].alias("label"), F.round(cos, 4).alias("cosine")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy(F.desc("cosine"), "id_a", "id_b")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a coarse
    quantizer, compare pairs ONLY within a cluster, and drop every
    member of a near-duplicate pair except the lowest id (the
    deterministic survivor rule used across the dedup tier).

    Returns ``df`` plus ``ivf_cell`` (the cluster) and ``keep``.

    Scale: the pairwise stage is cluster-bounded — with k clusters of
    ~n/k vectors the scored set is n²/k instead of n², and the
    intra-cluster join is an equi-join on ``ivf_cell`` (one shuffle on
    the cell key, AQE skew-splits any hot cluster). At 100 TB: raise k
    with corpus size (SemDeDup's own regime, k ≈ √n keeps clusters
    flat), fit the centroids on a sample (``kmeans_centroids``), and
    store the assignment partitioned by cell so re-runs prune to
    changed cells. For engine-parity in the oracle the battery passes
    fixed-id seed vectors instead of a Lloyd fit; the operator is
    indifferent — any centroid list works.

    The cosine is the JVM sequential-fold expression ON PURPOSE: an
    Arrow pandas-UDF cosine was measured 2.6× SLOWER here (106 s vs
    41 s on the 50k×128-cluster probe) because a per-pair UDF ships
    both vectors of every candidate pair to Python — serialization of
    the O(n²/k) pair stream dwarfs the fold cost, unlike
    hyperplane_signatures' per-ROW matmul where each vector crosses
    the boundary once. Vectorizing this stage properly means blocked
    per-partition matmuls over grouped cluster members, which changes
    the join shape; at current cluster sizes the JVM fold wins.
    """
    cos_fn = cosine_cols
    assigned = ivf_assign(df, centroids, vec_col)
    a = assigned.select(
        F.col("ivf_cell").alias("__cell"),
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
    )
    b = assigned.select(
        F.col("ivf_cell").alias("__cell"),
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
    )
    drops = (
        a.join(b, "__cell")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(cos_fn(F.col("__va"), F.col("__vb")) >= F.lit(threshold))
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        assigned.join(drops, id_col, "left")
        .withColumn("keep", F.col("__drop").isNull())
        .drop("__drop")
    )


# ---------------------------------------------------------------------
# Stored IVF index: the serving layout. Build once (assign + write
# partitionBy(ivf_cell), centroids in a JSON sidecar), then every
# probe reads ONLY its nprobe cell partitions — partition pruning does
# the index lookup, so query cost is data-proportional to the probed
# cells, not the corpus. This is the piece that turns the IVF
# operators from "a plan" into "an index" at 100 TB.

def build_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """Assign + write the corpus partitioned by ``ivf_cell`` with the
    centroid list in ``<path>/_centroids.json``. Returns the
    centroids. Fit (when not supplied) trains MLlib KMeans on the
    corpus — pass ``sample_fraction`` via a pre-sampled ``df`` or
    supply centroids to skip the fit at rebuild time."""
    import json
    import os

    if centroids is None:
        centroids = kmeans_centroids(df, n_centroids, vec_col, seed=seed)
    assigned = ivf_assign(df, centroids, vec_col)
    assigned.write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    with open(os.path.join(path, "_centroids.json"), "w") as f:
        json.dump(centroids, f)
    return centroids


def load_ivf_index(spark, path: str):
    """(index_df, centroids) — the partition-discovered table plus the
    sidecar centroids. ``ivf_cell`` comes back as a partition column,
    so any ``ivf_cell IN (...)`` probe prunes at planning time."""
    import json
    import os

    with open(os.path.join(path, "_centroids.json")) as f:
        centroids = json.load(f)
    return spark.read.parquet(path), centroids


def ivf_index_topk(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k against a stored index: rank centroids on the driver,
    probe ``nprobe`` cell PARTITIONS (pruned scan — the physical plan
    reads only those directories), exact cosine within."""
    index, centroids = load_ivf_index(spark, path)
    qv = np.asarray(query, dtype=float)
    order = np.argsort(
        [float(((qv - np.asarray(c)) ** 2).sum()) for c in centroids], kind="stable"
    )
    cells = [int(i) for i in order[: max(1, min(nprobe, len(centroids)))]]
    return (
        index.filter(F.col("ivf_cell").isin(cells))
        .select(
            id_col,
            F.round(cosine_to_query(F.col(vec_col), query), 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def semantic_dedup_blocked(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_size: int = 1024,
) -> DataFrame:
    """:func:`semantic_dedup` with the pairwise stage vectorized as
    blocked matmuls — the scale path for LARGE clusters.

    Cluster members are cut into ``block_size`` blocks (row_number
    within cell); each (block, block) pair inside a cell becomes ONE
    row carrying both blocks' id+vector arrays, and an Arrow
    ``mapInPandas`` computes the full cosine submatrix with a numpy
    matmul. Each vector crosses the Python boundary once per PARTNER
    BLOCK instead of once per candidate pair — a factor ``block_size``
    less serialization than a per-pair UDF (measured loser, SCALE.md rule 30)
    while keeping the O(n²/k) arithmetic in BLAS.

    Same keep semantics as semantic_dedup (lowest id survives). Float
    caveat: matmul sums reassociate vs the JVM sequential fold, so a
    cosine within ~1e-12 of ``threshold`` can flip between the two
    variants — irrelevant for real dedup thresholds.
    """
    import pandas as pd

    from pyspark.sql import types as T

    assigned = ivf_assign(df, centroids, vec_col)
    w = Window.partitionBy("ivf_cell").orderBy("__id")
    blocked = (
        assigned.select("ivf_cell", F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .withColumn("__blk", ((F.row_number().over(w) - 1) / block_size).cast("long"))
        .groupBy("ivf_cell", "__blk")
        .agg(
            F.collect_list("__id").alias("__ids"),
            F.collect_list("__v").alias("__vecs"),
        )
    )
    a = blocked.select(
        "ivf_cell",
        F.col("__blk").alias("__ba"),
        F.col("__ids").alias("__ids_a"),
        F.col("__vecs").alias("__vecs_a"),
    )
    b = blocked.select(
        "ivf_cell",
        F.col("__blk").alias("__bb"),
        F.col("__ids").alias("__ids_b"),
        F.col("__vecs").alias("__vecs_b"),
    )
    joined = a.join(b, "ivf_cell").filter(F.col("__ba") <= F.col("__bb"))

    id_field = [f for f in df.schema.fields if f.name == id_col][0]
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_field.dataType),
            T.StructField("id_b", id_field.dataType),
        ]
    )

    def _block_pairs(batches):
        cols = ["__ids_a", "__vecs_a", "__ids_b", "__vecs_b"]
        for pdf in batches:
            outs_a, outs_b = [], []
            # plain tuples: itertuples would mangle the __-prefixed names
            for raw_a, vecs_a, raw_b, vecs_b in pdf[cols].itertuples(
                index=False, name=None
            ):
                ids_a = np.asarray(raw_a)
                ids_b = np.asarray(raw_b)
                va = np.asarray([np.asarray(v, dtype=float) for v in vecs_a])
                vb = np.asarray([np.asarray(v, dtype=float) for v in vecs_b])
                na = np.linalg.norm(va, axis=1)
                nb = np.linalg.norm(vb, axis=1)
                cos = (va @ vb.T) / np.outer(na, nb)
                ii, jj = np.nonzero(cos >= threshold)
                pa, pb = ids_a[ii], ids_b[jj]
                lo = np.minimum(pa, pb)
                hi = np.maximum(pa, pb)
                keep = lo < hi  # drop self-pairs; orient id_a < id_b
                outs_a.append(lo[keep])
                outs_b.append(hi[keep])
            if outs_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(outs_a),
                        "id_b": np.concatenate(outs_b),
                    }
                )

    pairs = joined.mapInPandas(_block_pairs, schema=out_schema)
    drops = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        assigned.join(drops, id_col, "left")
        .withColumn("keep", F.col("__drop").isNull())
        .drop("__drop")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------
#
# The storage-bound ANN tier (Jégou et al., "Product Quantization for
# Nearest Neighbor Search"): split each vector into m subvectors,
# quantize each against its own 2^b-entry codebook, store m small
# codes instead of the float vector (64-dim float32 = 256 B -> m=4
# codes of 4 bits = 2 B, 128x). Query-time ADC (asymmetric distance):
# precompute the m x 2^b table of query-subvector-to-centroid
# distances on the driver, then each candidate costs m table lookups —
# a pure JVM expression over the compact code column; the float
# vectors never leave storage. Composes with IVF (probe cells, then
# ADC-rank the survivors) for the standard IVF-PQ shape.


def pq_codebooks(
    df: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 20,
) -> list[list[list[float]]]:
    """Per-subspace codebooks via m seeded MLlib KMeans fits over the
    subvector slices. Returns m lists of ksub centroids (each of
    dim/m floats). Train on a sample at scale; the model is
    O(m · ksub · dim/m) = O(ksub · dim) driver-side floats."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(df.select(vec_col).head()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    base = df.sample(sample_fraction, seed=seed) if sample_fraction else df
    for j in range(m):
        data = base.select(
            array_to_vector(
                F.slice(F.col(vec_col).cast("array<double>"), j * sub + 1, sub)
            ).alias("features")
        )
        model = KMeans(k=ksub, seed=seed + j, maxIter=max_iter).fit(data)
        books.append([list(map(float, c)) for c in model.clusterCenters()])
    return books


def pq_codebooks_deterministic(
    df: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Data-derived codebooks WITHOUT k-means: subvector slices of the
    ksub smallest-id vectors. Strictly worse quantization than k-means
    — its purpose is an engine-portable codebook the DuckDB oracle can
    reconstruct in SQL, making the full encode+ADC pipeline
    value-checkable. Production uses :func:`pq_codebooks`."""
    rows = df.orderBy(id_col).select(vec_col).limit(ksub).collect()
    dim = len(rows[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [[float(x) for x in r[0][j * sub : (j + 1) * sub]] for r in rows]
        for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_prefix: str = "c",
) -> DataFrame:
    """Adds one small-int code column per subspace (`c0`..`c{m-1}`):
    argmin squared-L2 of the j-th subvector over codebook j, ties to
    the lowest centroid id — one JVM expression per subspace (array of
    (dist, idx) structs, array_min's lexicographic order), same shape
    as :func:`ivf_assign`. No shuffle: encoding is scan-stage."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    _check_sql_ident(out_prefix)
    for j in range(m):
        for c in codebooks[j]:
            _check_finite(c, f"codebook {j}")
    # each subspace's argmin is ONE SQL string parsed JVM-side: the
    # Column-by-Column build (m·ksub·sub literals through py4j) cost
    # ~4 s of driver time per query construction — the savgol lesson
    # (SCALE.md rule 27) applied here. `{v!r}D` literals
    # round-trip doubles exactly; x1 + x2 + ... left-assoc matches the
    # previous fold's (0.0 + x1) + x2 bit-for-bit.
    out = df.withColumn("__v", F.col(vec_col).cast("array<double>"))
    for j in range(m):
        structs = []
        for ci, c in enumerate(codebooks[j]):
            terms = " + ".join(
                f"(__v[{j * sub + d}] - {c[d]!r}D) * (__v[{j * sub + d}] - {c[d]!r}D)"
                for d in range(sub)
            )
            structs.append(f"named_struct('d', {terms}, 'i', {ci})")
        out = out.withColumn(
            f"{out_prefix}{j}", F.expr(f"array_min(array({', '.join(structs)})).i")
        )
    return out.drop("__v")


def pq_pack(df: DataFrame, m: int, ksub: int, out_col: str = "pq_code", prefix: str = "c") -> DataFrame:
    """Pack the m code columns into ONE integer column (the storage
    format: m·ceil(log2 ksub) bits, which must fit a signed long).
    Round-trips bit-exactly with :func:`pq_unpack`."""
    bits = max(1, (ksub - 1).bit_length())
    if m * bits > 62:
        raise ValueError(f"m*bits = {m * bits} exceeds one long; split the code column")
    packed = F.lit(0).cast("long")
    for j in range(m):
        packed = packed + (F.col(f"{prefix}{j}").cast("long") * F.lit(1 << (j * bits)))
    return df.withColumn(out_col, packed)


def pq_unpack(df: DataFrame, m: int, ksub: int, code_col: str = "pq_code", prefix: str = "c") -> DataFrame:
    bits = max(1, (ksub - 1).bit_length())
    out = df
    for j in range(m):
        # shiftright + mask: exact at any packed width (a double
        # division loses bits past the 53-bit mantissa)
        out = out.withColumn(
            f"{prefix}{j}",
            F.shiftright(F.col(code_col), j * bits)
            .bitwiseAND(F.lit((1 << bits) - 1))
            .cast("int"),
        )
    return out


def _check_sql_ident(name: str) -> str:
    """Column-name fragments spliced into F.expr strings must be plain
    identifiers — a metacharacter-bearing prefix would fail to parse or
    inject arbitrary expression text into the plan."""
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"prefix {name!r} is not a plain SQL identifier")
    return name


def _check_finite(values, what: str) -> None:
    """Codebook/query floats become SQL double literals; NaN/inf (a
    degenerate k-means fit can produce them) would not round-trip
    through `{v!r}D`."""
    import math

    for v in values:
        if not math.isfinite(v):
            raise ValueError(f"non-finite value {v!r} in {what}")


def _l2sq_py(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc += d * d
    return acc


def pq_adc_topk(
    codes: DataFrame,
    query: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    prefix: str = "c",
) -> DataFrame:
    """ADC top-k over PQ codes: the m x ksub distance table is built
    driver-side from the query (tiny), folded into the plan as array
    literals, and each row's approximate distance is m element_at
    lookups summed in subspace order — whole-stage-codegen JVM, then
    TakeOrdered. The float vectors are never read.

    Sequential double arithmetic start-to-end (Python accumulation
    mirrors the engine fold), so an external SQL engine replaying the
    same formula reproduces the distances bit-for-bit."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if len(query) != m * sub:
        raise ValueError("query dim != m * subdim")
    _check_sql_ident(prefix)
    _check_finite(query, "query")
    for j in range(m):
        for c in codebooks[j]:
            _check_finite(c, f"codebook {j}")
    tables = [
        [_l2sq_py(query[j * sub : (j + 1) * sub], c) for c in codebooks[j]]
        for j in range(m)
    ]
    # single JVM-parsed expression (see pq_encode note); code columns
    # are referenced by name, so `prefix` must be SQL-identifier-safe
    adc = F.expr(
        " + ".join(
            f"element_at(array({', '.join(f'{v!r}D' for v in tables[j])}), "
            f"{prefix}{j} + 1)"
            for j in range(m)
        )
    )
    return (
        codes.select(id_col, *[f"{prefix}{j}" for j in range(m)], adc.alias("adc"))
        .orderBy("adc", id_col)
        .limit(k)
    )


def ivf_pq_topk(
    codes: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    prefix: str = "c",
) -> DataFrame:
    """IVF-PQ: the standard billion-scale serving shape. The coarse
    quantizer prunes the corpus to nprobe cells (partition pruning on
    a `partitionBy(ivf_cell)` store), then ADC ranks ONLY the
    survivors from their compact codes — at no point are float
    vectors read or shuffled. `codes` must carry `cell_col` (from
    :func:`ivf_assign`) and the PQ code columns (from
    :func:`pq_encode`). ``nprobe = len(centroids)`` degrades to exact
    whole-corpus ADC — the test-equivalence setting."""
    qv = np.asarray(query, dtype=float)
    order = np.argsort(
        [float(((qv - np.asarray(c)) ** 2).sum()) for c in centroids], kind="stable"
    )
    cells = [int(i) for i in order[: max(1, min(nprobe, len(centroids)))]]
    return pq_adc_topk(
        codes.filter(F.col(cell_col).isin(cells)),
        query,
        codebooks,
        k=k,
        id_col=id_col,
        prefix=prefix,
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the k most similar corpus vectors with a DIFFERENT label — the
    near-misses that make the best negatives. Same broadcast-batch
    shape as :func:`knn_join` with the label inequality applied
    before ranking (the scored set shrinks, never grows); for large
    batches chain after an IVF pre-filter exactly like the k-NN join.
    Returns (query_id, id, cosine) ranked per query on the unrounded
    cosine with id tie-break."""
    if query_id == id_col:
        raise ValueError("query_id and id_col must differ")
    ix = corpus.select(
        F.col(id_col).alias("__ix_id"),
        F.col(vec_col).alias("__ix_v"),
        F.col(label_col).alias("__ix_l"),
    )
    q = queries.select(
        F.col(query_id).alias("__q_id"),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("__q_l"),
    )
    scored = (
        ix.join(F.broadcast(q))
        .filter(F.col("__ix_l") != F.col("__q_l"))
        .select(
            F.col("__q_id").alias(query_id),
            F.col("__ix_id").alias(id_col),
            cosine_cols(F.col("__ix_v"), F.col("__qv")).alias("__cos"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("__cos"), id_col)
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_id, id_col, F.col("__cos").alias("cosine"))
    )


def srp_signs(in_dim: int, out_dim: int, seed: str = "srp") -> list[list[float]]:
    """Deterministic Rademacher (±1) projection matrix for
    :func:`srp_project`, derived from md5 so ANY engine (or the DuckDB
    oracle) can reproduce it: sign(j, i) = +1 if the first hex nibble
    of md5(f"{seed}:{j}:{i}") is even else -1. Returns out_dim rows of
    in_dim signs."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) % 2
            == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def srp_project(
    df: DataFrame,
    signs: list[list[float]],
    vec_col: str = "embedding",
    prefix: str = "p",
    scale: bool = True,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction by a Rademacher
    random projection: out_j = (1/sqrt(k)) * sum_i sign(j,i) * x_i —
    the cheap pre-ANN shrink (JL: pairwise distances preserved within
    1±eps for k = O(log n / eps^2); Achlioptas 2001 shows ±1 entries
    suffice, no Gaussians needed).

    Each output dimension is ONE whole-stage-codegen JVM fold over the
    input array (zip_with + aggregate with the sign row as literals) —
    scan-stage, no shuffle, no Python. Emits scalar DOUBLE columns
    ``{prefix}0..{prefix}{k-1}`` (driver-hash-safe encoding; an array
    column's cross-engine rendering is untested at the driver).
    """
    import math

    k = len(signs)
    factor = 1.0 / math.sqrt(k) if scale else 1.0
    cols = []
    for j, row in enumerate(signs):
        slit = F.array(*[F.lit(s) for s in row])
        acc = F.aggregate(
            F.zip_with(
                F.col(vec_col), slit, lambda a, b: a.cast("double") * b
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cols.append((acc * F.lit(factor)).alias(f"{prefix}{j}"))
    return df.select("*", *cols)


def margin_mining(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Margin-based bitext mining (the LASER / CCMatrix criterion,
    Artetxe & Schwenk 2019): candidate pair score is the cosine
    RATIO-NORMALIZED by both sides' neighborhood densities,
    margin(x, y) = cos(x, y) / ((meanK(x->tgt) + meanK(y->src)) / 2),
    which suppresses hub vectors that are near everything — raw cosine
    thresholds mine garbage precisely in the dense regions where most
    text lives. This is the operator that builds parallel-corpus
    training data from two monolingual embedding spaces.

    Shape: the (small-by-construction) src batch broadcasts against
    the tgt scan — knn_join's broadcast nested-loop pass — and BOTH
    directions' k-NN means come from the one scored pair table (two
    window passes, no second scan). At corpus scale, pre-filter tgt
    per src with the IVF/LSH index (ivf_index_topk) so the scored set
    is bucket-bounded, then apply the same margin windows.

    Sign robustness: the ratio is computed over similarities shifted
    to [0, 1] (s = (1+cos)/2) — raw-cosine neighborhood means can go
    NEGATIVE (a source anti-correlated with everything), which flips
    the ratio's sign and ranks the WORST pairs first; the shifted
    means are nonnegative and the denominator is clamped at 1e-6, so
    ordering is always sane and never divides by zero.

    Engine determinism: cosines rounded to 4 before ranking (ties on
    ids), k-NN means as exact DECIMAL sums over the rounded-6 shifted
    similarities, margin a fixed-order clamped double expression — the
    DuckDB oracle replays every step. Returns
    (src_id, tgt_id, cosine, margin)."""
    s = src.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("__sv"))
    t = tgt.select(F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("__tv"))
    pairs = t.join(F.broadcast(s)).select(
        "src_id",
        "tgt_id",
        F.round(cosine_cols(F.col("__sv"), F.col("__tv")), 4).alias("cosine"),
    )
    ws = Window.partitionBy("src_id").orderBy(F.desc("cosine"), "tgt_id")
    wt = Window.partitionBy("tgt_id").orderBy(F.desc("cosine"), "src_id")
    ranked = pairs.withColumn("__rs", F.row_number().over(ws)).withColumn(
        "__rt", F.row_number().over(wt)
    )
    shifted = F.round((F.lit(1.0) + F.col("cosine")) / F.lit(2.0), 6)
    sdec = shifted.cast("decimal(18,6)")
    ps = Window.partitionBy("src_id")
    pt = Window.partitionBy("tgt_id")
    ms = (
        F.sum(F.when(F.col("__rs") <= k, sdec)).over(ps).cast("double")
        / F.sum(F.when(F.col("__rs") <= k, 1).otherwise(0)).over(ps)
    )
    mt = (
        F.sum(F.when(F.col("__rt") <= k, sdec)).over(pt).cast("double")
        / F.sum(F.when(F.col("__rt") <= k, 1).otherwise(0)).over(pt)
    )
    den = F.greatest((ms + mt) / F.lit(2.0), F.lit(1e-6))
    return ranked.select(
        "src_id",
        "tgt_id",
        "cosine",
        F.round(shifted / den, 4).alias("margin"),
    )
