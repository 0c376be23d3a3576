"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run starts one Spark session on
``local[<cpus>]`` (one JVM), builds the workload's inputs from the
seed, then runs the workload's operations in a closed loop for
``--seconds`` (at least one op) and checks every op's output. Untraced
runs measure from a cold session: a session's first pass, one-time JIT
and codegen included, is what an analyst pays, and warm-up ops would
take the benchmark's runs past their time budget.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first does
the workload's warm-up ops, if any; then it runs untraced ops
for half the time, under one job group, and reads the
Spark engine counters over them; then it installs the tracer and runs
traced ops for the other half. It prints the per-layer metrics, the
tracing overhead and the Spark engine counters. Spans go to
``.perfbench_work/spans.json``; Spark's stderr to
``.perfbench_work/stderr.log``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# figures of the untraced half of a traced run; each workload reports 0
# for the figures of the others (peak_rss_mb belongs to all)
WORKLOAD_FIGURES = [
    "features_rows_per_s", "selector_fit_s", "selector_predict_rows_per_s",
    "tube_fit_s", "tube_score_rows_per_s", "read_p50_ms", "read_p90_ms",
    "upsert_p50_ms", "store_ops_per_s", "store_space_amp",
    "neardup_docs_per_s", "neardup_recall", "peak_rss_mb",
]
SPAN_TIMES = {  # metric -> span name; mean self time per call
    "signalset.load_s": "signalset.load",
    "signalset.record_s": "signalset.record",
    "signalset.put_s": "signalset.put",
    "positions.self_s": "positions.with_positions",
    "savgol.self_s": "savgol.savgol",
    "indicator.self_s": "indicator.indicator_col",
    "slicing.self_s": "slicing.left_of",
    "selector.epsilon_s": "selector.epsilon",
    "selector.indicators_s": "selector.indicators",
    "selector.trees_s": "selector.tree_fit",
    "selector.belief_s": "selector.belief",
    "tube.build_s": "tube.build",
    "tube.estimate_s": "tube.estimate",
    "tube.scores_s": "tube.scores",
    "dedup.signatures_s": "dedup.signatures",
    "dedup.candidates_s": "dedup.candidates",
    "dedup.verify_s": "dedup.verify",
    "dedup.components_s": "dedup.components",
}
SPARK_COUNTERS = [
    "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_ms",
    "spill_bytes",
]

_stderr = 2  # the original stderr; fd 2 itself is redirected to a log


def log(msg: str) -> None:
    os.write(_stderr, f"[perfbench] {msg}\n".encode())


def start_spark(ui: bool):
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # Spark's Python workers resolve the engine through PYTHONPATH, so
    # the Arrow (applyInPandas) paths work from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher too, keeps its files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from tabata_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.enabled": str(ui).lower(),  # only the traced run reads it
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_ops(wl, seconds: float, call, stats: dict) -> list[float]:
    """Closed loop: ops back to back until ``seconds`` have passed (at
    least one). Each op's result is checked after its latency is taken.
    Returns the latencies of the ops that passed, possibly none."""
    from perfbench.workloads import CheckFailed

    times = []
    end = time.perf_counter() + seconds
    while True:
        stats["attempted"] += 1
        t = time.perf_counter()
        try:
            result = call(wl.op)
            latency = time.perf_counter() - t
            wl.check(result)
        except CheckFailed as e:
            stats["failed"] += 1
            log(f"check failed: {e}")
        except Exception:
            stats["failed"] += 1
            log(traceback.format_exc())
        else:
            times.append(latency)
        # every op starts from an empty cache: the engine leaves frames
        # persisted (near_dup_pairs' shingle arrays, the Selector's
        # indicator grid) that would pile up across ops
        wl.spark.catalog.clearCache()
        if time.perf_counter() >= end:
            break
    return times


def median(times: list[float]) -> float:
    """0 when no op passed: the run still prints its result line, with
    ``correct`` false."""
    return statistics.median(times) if times else 0.0


def count_fallbacks(log_path: str, start: int) -> int:
    with open(log_path, "rb") as f:
        f.seek(start)
        return f.read().lower().count(b"failed to compile")


class EngineOnly:
    """Runs untraced ops under the job group ``pb:plain`` and sums the
    codegen compiles and fallbacks around each op alone, so the engine
    counters leave out the checks and the tracer's own jobs."""

    GROUP = "pb:plain"

    def __init__(self, spark, counters, err_log: str):
        self.sc = spark.sparkContext
        self.counters = counters
        self.err_log = err_log
        self.ops = self.compiles = self.fallbacks = 0

    def __call__(self, op):
        self.ops += 1
        compiles0, log0 = self.counters.compiles(), os.path.getsize(self.err_log)
        self.sc.setJobGroup(self.GROUP, "perfbench", False)
        try:
            return op()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.compiles += self.counters.compiles() - compiles0
            self.fallbacks += count_fallbacks(self.err_log, log0)


def trace_metrics(tracer, counters, plain: EngineOnly) -> dict[str, float]:
    from perfbench.tracing import stage_totals

    selfs = tracer.self_times()
    names = tracer.by_name()

    def per_call(span: str, value) -> float:
        spans = names.get(span, [])
        return sum(value(s) for s in spans) / len(spans) if spans else 0.0

    out = {m: per_call(span, lambda s: selfs[s["id"]]) for m, span in SPAN_TIMES.items()}
    out["savgol.build_ms"] = 1e3 * per_call("savgol.savgol", lambda s: s["build"])
    passes = len(names.get("dedup.near_dup_pairs", [])) or 1
    sim = names.get("dedup.simhash", []) + names.get("dedup.simhash_pairs", [])
    out["dedup.simhash_s"] = sum(selfs[s["id"]] for s in sim) / passes
    out["selector.tree_fits"] = len(names.get("selector.tree_fit", [])) / (
        len(names.get("selector.fit", [])) or 1
    )
    out["tube.regressions"] = len(names.get("tube.regression", [])) / (
        len(names.get("tube.build", [])) or 1
    )
    cand = sum(s.get("rows", 0) for s in names.get("dedup.candidates", []))
    ver = sum(s.get("rows", 0) for s in names.get("dedup.verify", []))
    out["dedup.candidate_pairs"] = cand / passes
    out["dedup.verified_pairs"] = ver / passes
    out["dedup.verify_yield"] = ver / cand if cand else 0.0

    # engine counters per untraced op; the upsert's from its traced spans,
    # whose groups hold no tracer jobs
    put_ids = {s["id"] for s in names.get("signalset.put", [])}
    under_put = {f"pb:{i}" for i in tracer.descendants(put_ids)}
    jobs = counters.jobs(under_put | {plain.GROUP})
    group_of_stage = {sid: j.get("jobGroup") for j in jobs for sid in j["stageIds"]}
    stages = counters.stages(set(group_of_stage))

    def stages_of(groups) -> list[dict]:
        return [s for s in stages if group_of_stage[s["stageId"]] in groups]

    n = plain.ops or 1
    totals = stage_totals(stages_of({plain.GROUP}))
    out["spark.jobs"] = sum(j.get("jobGroup") == plain.GROUP for j in jobs) / n
    for k in SPARK_COUNTERS:
        out[f"spark.{k}"] = totals[k] / n
    out["codegen.compiles"] = plain.compiles / n
    out["codegen.fallbacks"] = plain.fallbacks / n

    n_puts = len(put_ids) or 1
    out["signalset.put_jobs"] = sum(j.get("jobGroup") in under_put for j in jobs) / n_puts
    out["signalset.put_bytes_written"] = stage_totals(stages_of(under_put))["output_bytes"] / n_puts
    return out


def main() -> int:
    global _stderr
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "tabata_spark", "__init__.py")):
        log(f"the engine (tabata_spark/) is not in {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.tracing import RssSampler, SparkCounters, Tracer
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    err_log = os.path.join(WORK, "stderr.log")
    _stderr = os.dup(2)
    with open(err_log, "wb") as f:
        os.dup2(f.fileno(), 2)  # the JVM inherits it: codegen failures land here

    stats = {"attempted": 0, "failed": 0}
    out: dict[str, float] = {}
    t0 = time.perf_counter()
    # the sampler walks /proc five times a second: only traced runs pay it
    with RssSampler() if args.trace else contextlib.nullcontext() as rss:
        spark = start_spark(ui=bool(args.trace))
        get_spark_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, WORK)
        try:
            wl.setup()
            inputs_s = time.perf_counter() - t0 - get_spark_s
            if args.trace:  # warm-up ops: their failures count, their times do not
                for _ in range(wl.trace_warmup_ops):
                    run_ops(wl, 0, lambda op: op(), stats)
                wl.steps.clear()
            setup_s = time.perf_counter() - t0
            log(
                f"{args.workload} seed {args.seed}: setup {setup_s:.2f} s (session "
                f"{get_spark_s:.2f}, inputs {inputs_s:.2f}, warm-up "
                f"{setup_s - get_spark_s - inputs_s:.2f})"
            )

            if not args.trace:
                times = run_ops(wl, args.seconds, lambda op: op(), stats)
                log(f"{len(times)} ops passed: " + ", ".join(f"{t:.2f}" for t in times) + " s")
                if wl.steps:
                    steps = (f"{k} {sum(v):.2f} s" for k, v in wl.steps.items())
                    log("step totals: " + ", ".join(steps))
                out["setup_s"] = setup_s
                out["op_p50_ms"] = 1e3 * median(times)
            else:
                counters = SparkCounters(spark)
                engine = EngineOnly(spark, counters, err_log)
                plain = run_ops(wl, args.seconds / 2, engine, stats)
                figures = wl.figures(plain) if plain else {}
                figures["peak_rss_mb"] = rss.peak / 2**20
                tracer = Tracer(spark, f"{args.workload}-{args.seed}")
                tracer.install()
                try:
                    traced = run_ops(wl, args.seconds / 2, tracer.op, stats)
                finally:
                    tracer.uninstall()
                out = trace_metrics(tracer, counters, engine)
                out["session.get_spark_s"] = get_spark_s
                plain_p50 = median(plain)
                out["trace.overhead_ratio"] = median(traced) / plain_p50 if plain_p50 else 0.0
                out["failed_ops_frac"] = stats["failed"] / stats["attempted"]
                out["signalset.store_files"] = (
                    float(wl.space()[1]) if hasattr(wl, "space") else 0.0
                )
                for k in WORKLOAD_FIGURES:
                    out[k] = figures.get(k, 0.0)
                tracer.dump(os.path.join(WORK, "spans.json"))
        finally:
            wl.close()
            stop_spark(spark)
    mismatch = {m["name"] for m in wanted} ^ set(out)
    if mismatch:
        raise RuntimeError(f"metrics out of step with BENCHMARK.json: {sorted(mismatch)}")
    result = {
        "correct": stats["failed"] == 0,
        "attempted": stats["attempted"],
        "failed": stats["failed"],
        "metrics": {m["name"]: {"value": out[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    os.dup2(_stderr, 2)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        code = main()
    except Exception:
        os.dup2(_stderr, 2)
        traceback.print_exc()
        code = 1
    sys.exit(code)
