"""Dedup-pipeline scale probe: run the fused MinHash near-dup
pipeline + cluster resolution on a distributed synthetic corpus of
N docs (default 1M) with planted duplicate groups, and report wall
times + docs/sec. Evidence for the 100 TB dedup design claims:

    python tools/dedup_probe.py [n_docs] [dup_rate]

The corpus is generated distributed (no driver data): each doc is
~40 tokens drawn deterministically from its id; a ``dup_rate``
fraction of docs are exact copies of a base doc (clustered ids), so
the pipeline has real work to find and the recall is checkable.
Everything is measured AFTER the corpus is materialized to Parquet.

Each stage also reports ``<stage>_jobs``, the Spark jobs it ran, and
``<stage>_finish``: ``driver`` when its result's plan holds a local
relation (a bucket pairing or the components finished on the driver;
the corpus itself is a Parquet scan), else ``distributed``.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    dup_rate = float(sys.argv[2]) if len(sys.argv) > 2 else 0.05

    from pyspark.sql import functions as F

    from tabata_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        near_dup_pairs,
        simhash,
        simhash_near_pairs,
    )
    from tabata_spark.session import get_spark

    spark = get_spark("dedup-probe")
    out: dict[str, float | int] = {}

    # distributed corpus: base id collapses a dup_rate fraction of ids
    # onto their cluster head (groups of 4), text is a deterministic
    # token sequence of the base id
    ids = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    base = F.when(
        F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(1_000_000))
        < int(dup_rate * 1_000_000),
        (F.col("doc_id") / 4).cast("long") * 4,
    ).otherwise(F.col("doc_id"))
    tok = lambda i: F.concat(
        F.lit("w"), F.pmod(F.xxhash64(F.col("__base"), F.lit(i)), F.lit(50_000))
    )
    corpus = ids.withColumn("__base", base).select(
        "doc_id",
        F.concat_ws(" ", *[tok(i) for i in range(40)]).alias("text"),
    )
    tmp = tempfile.mkdtemp(prefix="dedup_probe_")
    path = os.path.join(tmp, "corpus")
    t0 = time.perf_counter()
    corpus.write.mode("overwrite").parquet(path)
    out["generate_write_s"] = round(time.perf_counter() - t0, 2)
    docs = spark.read.parquet(path)

    sc = spark.sparkContext

    def probe(name, build, value=lambda df: df.count()):
        """Time ``value(build())`` under its own job group; the frame
        is built inside the timing, since a driver finish collects at
        build time."""
        sc.setJobGroup(name, name)
        t = time.perf_counter()
        df = build()
        n = value(df)
        out[name] = round(time.perf_counter() - t, 2)
        # a marker job in a later group: once it is reported, every
        # job of this stage has been
        sc.setJobGroup(name + "-marker", "marker")
        spark.range(1).collect()
        while not sc.statusTracker().getJobIdsForGroup(name + "-marker"):
            time.sleep(0.05)
        out[name + "_jobs"] = len(sc.statusTracker().getJobIdsForGroup(name))
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        local = "LocalRelation" in plan or "LocalTableScan" in plan  # cached: physical
        out[name + "_finish"] = "driver" if local else "distributed"
        print(
            f"# {name}: {out[name]}s ({n} rows, {out[name + '_jobs']} jobs,"
            f" {out[name + '_finish']} finish)",
            file=sys.stderr,
        )
        return df, n

    probe("exact_dedup", lambda: exact_dedup(docs))
    pairs, n_pairs = probe(
        "minhash_verified_pairs",
        lambda: near_dup_pairs(
            docs, num_hashes=32, bands=16, rows=2, threshold=0.8, max_bucket_size=50
        ).persist(),
    )
    probe(
        "cluster_resolution",
        lambda: connected_components(pairs.select("id_a", "id_b"), materialize="persist"),
    )
    fp = simhash(docs)
    probe(
        "simhash_pairs",
        lambda: simhash_near_pairs(fp, max_hamming=3, max_bucket_size=50),
    )

    # line-level boilerplate removal: lines = 8-token chunks (5/doc);
    # dup groups share all their chunks, so there is real boilerplate
    from tabata_spark.operators.dedup import line_dedup

    toks = F.split("text", " ")
    chunks = F.transform(
        F.sequence(F.lit(0), F.lit(4)),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    lined = docs.select("doc_id", chunks.alias("lines"))
    probe(
        "line_dedup",
        lambda: line_dedup(lined, max_docs=3).agg(F.sum("n_removed")),
        value=lambda df: df.collect()[0][0],
    )

    # embedding near-dup: deterministic 32-dim embeddings from the
    # text hash (dup groups → identical vectors), banded hyperplane
    # LSH + cosine verify
    from tabata_spark.operators.similarity import lsh_neardup_pairs, random_planes

    emb = docs.select(
        "doc_id",
        F.array(
            *[
                (
                    F.pmod(F.xxhash64("text", F.lit(i)), F.lit(2001)) - 1000
                ).cast("float")
                / 1000.0
                for i in range(32)
            ]
        ).alias("embedding"),
    )
    # band width must scale with the corpus TWICE over: buckets per
    # band ≈ n/2^bits must keep buckets under the cap, AND random
    # birthday collisions ≈ n²/2^(bits+1) per band must stay small
    # relative to true pairs (8-bit bands → every bucket over the
    # cap; 16-bit → 40M random candidates drown the verifier). 24-bit
    # bands put 1M uniform vectors at ~30k random collisions/band
    # while exact dups still collide with probability 1 in every band.
    planes = random_planes(32, n_planes=96, seed=7)
    probe(
        "embedding_lsh_neardup",
        lambda: lsh_neardup_pairs(
            emb,
            planes,
            bands=4,
            threshold=0.99,
            id_col="doc_id",
            max_bucket_size=50,
        ),
    )

    # incremental ingest: a 50k-doc batch (re-arrivals of corpus docs
    # under fresh ids) deduped against the 1M corpus using the STORED
    # signature table — the recurring-pipeline cost, to compare with
    # the full minhash run above
    from tabata_spark.operators.dedup import (
        incremental_near_dup,
        minhash_signatures,
    )

    sigs, _ = probe("corpus_signatures_once", lambda: minhash_signatures(docs).persist())
    batch = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    probe(
        "incremental_50k_batch",
        lambda: incremental_near_dup(docs, batch, corpus_sigs=sigs, max_bucket_size=50),
    )

    out.update(
        {
            "n_docs": n_docs,
            "dup_rate": dup_rate,
            "n_verified_pairs": n_pairs,
            "docs_per_sec_minhash": round(
                n_docs / max(out["minhash_verified_pairs"], 1e-9)
            ),
        }
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
