"""Generate PLANS.md: a physical-plan audit row for EVERY battery
query — shuffle exchanges, broadcasts, Python stages, TakeOrdered,
whole-stage-codegen spans — so structural scale properties are
reviewable at a glance (and diffable across rounds).

    python tools/plan_report.py [sf_dir] > PLANS.md

Plans only (no execution beyond what query construction needs:
centroid fits, stats collects and index builds DO run — a handful of
small jobs)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from tabata_spark import battery
    from tabata_spark.plans.inspect import plan_counts
    from tabata_spark.session import get_spark

    spark = get_spark("plan-report", shuffle_partitions=8)
    print("# PLANS — physical-plan audit of every battery query")
    print()
    print(f"Generated by tools/plan_report.py at {sf_dir} (plan shapes are")
    print("size-independent; AQE final plans may broadcast more at runtime).")
    print("`exch` counts shuffle exchanges, `bcast` broadcast exchanges,")
    print("`py` Python eval stages (Arrow batches — the only two hits are")
    print("the multimodal decode and the embedding-signature matmul, both")
    print("by design), `topk` TakeOrdered, `smj` sort-merge joins as")
    print("planned pre-AQE (AQE converts small sides to broadcast at run).")
    print()
    print()
    print("Caveat: counts are STATIC plan-tree occurrences. Queries that")
    print("persist a reused subtree (the dedup pipelines) print that")
    print("subtree once per consumer before materialization, so their")
    print("exch numbers overstate executed shuffles — dedup_incremental's")
    print("large count is one signature pipeline repeated by lineage; at")
    print("run time the persisted subtree executes once and every other")
    print("consumer reads the cache (bench: ~1.6 s steady at sf0.1).")
    print("q_assoc_brands's large static count is the same lineage class:")
    print("the deduped/prefiltered basket tables are persisted and five")
    print("consumers print the cached subtree; executed shuffles are ~6")
    print("(r8d/r9 probes: 12.7-13.4 s at 20M rows). q_kcore_parts prints")
    print("1 exchange because the returned frame is the post-peel")
    print("localCheckpoint scan; per-round join-agg cost is probe-")
    print("documented (9.7 s / 20M edges, hybrid rounds). The distributed")
    print("rank/ntile/cumsum queries (rfm, lorenz, heaps, skew,")
    print("conversion-latency, pack_length_batches) gained 2-4 exchanges")
    print("each: the range shuffle plus tiny per-partition-stats jobs that")
    print("REPLACED a single-partition global window — more exchanges,")
    print("no single-task stage (SCALE.md rule 23).")
    print("dedup_minhash_staged is the extreme of the lineage class: its")
    print("returned frame unions 8 PERSISTED verify slices, each printing")
    print("the full upstream candidate lineage statically (~1000 exch in")
    print("the tree); executed work is the 12 sequential EAGER passes the")
    print("staged protocol runs at call time (4 band groups + 8 verify")
    print("slices over persisted inputs — SCALE.md rule 31), and")
    print("the post-materialization scan is cache-only.")
    print()
    print("| query | exch | bcast | py | topk | smj |")
    print("|---|---|---|---|---|---|")
    for name in sorted(battery.QUERIES):
        try:
            df = battery.QUERIES[name](spark, sf_dir)
            c = plan_counts(df)
            print(
                f"| {name} | {c['exchanges']} | {c['broadcast_joins']} | "
                f"{c['python_evals']} | "
                f"{'y' if c['take_ordered'] else ''} | {c['sortmerge_joins']} |"
            )
        except Exception as e:  # pragma: no cover - report, don't die
            print(f"| {name} | ERROR: {type(e).__name__} | | | | |")
    spark.stop()


if __name__ == "__main__":
    main()
