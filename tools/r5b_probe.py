"""Scale probes for the round-5 session-2 operators: substring-span
dedup, domain-cap sampling under skew, BM25, PQ encode/ADC, and
large-star/small-star components on a chain graph (broadcast
threshold -1, so every round stays distributed). Distributed
generation (no driver data), inputs materialized to Parquet before
timing:

    python tools/r5b_probe.py [n_docs] [n_rows_cap] [n_vecs] [chain_n]
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
    n_cap = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
    n_vecs = int(sys.argv[3]) if len(sys.argv) > 3 else 200_000
    chain_n = int(sys.argv[4]) if len(sys.argv) > 4 else 100_000

    from pyspark.sql import functions as F

    from tabata_spark.operators.dedup import (
        connected_components,
        duplicate_span_stats,
        strip_duplicate_spans,
    )
    from tabata_spark.operators.sampling import domain_cap
    from tabata_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_deterministic,
        pq_encode,
    )
    from tabata_spark.operators.text import bm25_rank
    from tabata_spark.session import get_spark

    spark = get_spark("r5b-probe")
    out: dict[str, float | int] = {
        "n_docs": n_docs,
        "n_cap": n_cap,
        "n_vecs": n_vecs,
        "chain_n": chain_n,
    }
    tmp = tempfile.mkdtemp(prefix="r5b_probe_")

    def force(df):
        return df.agg(F.sum(F.hash(*df.columns))).collect()

    # -------- corpus: ~40 tokens/doc; every 20th doc pair shares a
    # planted 16-token span (5% of docs carry an exact duplicated span)
    ids = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    tok = lambda i: F.concat(
        F.lit("w"), F.pmod(F.xxhash64("doc_id", F.lit(i)), F.lit(30_000))
    )
    span_seed = (F.col("doc_id") / 20).cast("long")  # pairs 20k,20k+1 share
    span_tok = lambda i: F.concat(
        F.lit("s"), F.pmod(F.xxhash64(span_seed, F.lit(i)), F.lit(30_000))
    )
    body = [tok(i) for i in range(24)]
    planted = [span_tok(i) for i in range(16)]
    docs = ids.select(
        "doc_id",
        F.concat(F.lit("src"), F.pmod("doc_id", F.lit(5))).alias("source"),
        F.when(
            F.col("doc_id") % 20 < 2, F.concat_ws(" ", *(body[:12] + planted + body[12:24]))
        )
        .otherwise(F.concat_ws(" ", *body, *[tok(i + 24) for i in range(16)]))
        .alias("text"),
    )
    dpath = os.path.join(tmp, "docs")
    docs.write.mode("overwrite").parquet(dpath)
    docs = spark.read.parquet(dpath)

    t0 = time.perf_counter()
    stats = duplicate_span_stats(docs, n=8, key="hash")
    force(stats)
    out["span_stats_s"] = round(time.perf_counter() - t0, 2)
    covered = stats.filter(F.col("covered_tokens") > 0).count()
    out["span_docs_covered"] = covered  # expect ~n_docs/10

    t0 = time.perf_counter()
    force(strip_duplicate_spans(docs, n=8, key="hash").select("doc_id", "n_removed"))
    out["span_strip_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    force(bm25_rank(docs, ["w17", "w23", "s5"], k=100))
    out["bm25_s"] = round(time.perf_counter() - t0, 2)

    # -------- domain cap under skew: one domain holds 80% of rows
    rows = spark.range(n_cap).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 < 4, "hot")
        .otherwise(F.concat(F.lit("d"), F.pmod("id", F.lit(1000))))
        .alias("source"),
    )
    cpath = os.path.join(tmp, "cap")
    rows.write.mode("overwrite").parquet(cpath)
    rows = spark.read.parquet(cpath)
    t0 = time.perf_counter()
    n_plain = domain_cap(rows, cap=1000).count()
    out["cap_plain_s"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    n_shard = domain_cap(rows, cap=1000, shards=32).count()
    out["cap_sharded_s"] = round(time.perf_counter() - t0, 2)
    assert n_plain == n_shard, (n_plain, n_shard)
    out["cap_rows_kept"] = n_shard

    # -------- PQ: encode + ADC over synthetic 64-dim vectors
    vecs = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.pmod(F.xxhash64("id", i), F.lit(1000)) / 500.0 - 1.0).cast(
                "float"
            ),
        ).alias("embedding"),
    )
    vpath = os.path.join(tmp, "vecs")
    vecs.write.mode("overwrite").parquet(vpath)
    vecs = spark.read.parquet(vpath)
    books = pq_codebooks_deterministic(vecs, m=4, ksub=16)
    q = [float(x) for x in vecs.select("embedding").head()[0]]
    t0 = time.perf_counter()
    codes = pq_encode(vecs, books)
    force(codes.select("vec_id", "c0", "c1", "c2", "c3"))
    out["pq_encode_s"] = round(time.perf_counter() - t0, 2)
    cpath2 = os.path.join(tmp, "codes")
    codes.select("vec_id", "c0", "c1", "c2", "c3").write.mode("overwrite").parquet(cpath2)
    stored = spark.read.parquet(cpath2)
    t0 = time.perf_counter()
    pq_adc_topk(stored, q, books, k=100).collect()
    out["pq_adc_s"] = round(time.perf_counter() - t0, 2)

    # -------- star CC on a chain graph (diameter = chain_n - 1)
    chain = spark.range(chain_n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    t0 = time.perf_counter()
    labels = connected_components(chain, max_iter=30)
    n_comp = labels.select("comp").distinct().count()
    out["star_cc_s"] = round(time.perf_counter() - t0, 2)
    out["star_cc_components"] = n_comp

    print(json.dumps(out))


if __name__ == "__main__":
    main()
