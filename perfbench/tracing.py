"""Traced-run instrumentation, kept outside the engine.

- ``Tracer`` wraps public engine functions at run time (``install``)
  and records one span per call: name, start, end, parent span and run
  id, held in memory and written out at exit. A call that returns a
  DataFrame is materialised inside its span (persisted, then written to
  Spark's ``noop`` sink), so the next layer reads the cached result and
  each layer's self time (span minus child spans) is its own work.
  Every span runs its engine jobs under its own job group ``pb:<id>``,
  which maps jobs back to spans; the tracer's own materialising jobs
  run under ``pbm:<id>``, so they are never counted as engine work.
- ``SparkCounters`` reads Spark's own counters from outside the engine:
  the local UI's ``/api/v1`` job and stage metrics, ``statusTracker``,
  and ``CodegenMetrics`` over py4j.
- ``RssSampler`` samples the resident memory of this process and all
  its descendants (the JVM and Python workers) from ``/proc``.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time
import urllib.request
from collections import defaultdict

# (module, attribute path, span name); attribute paths name either a
# module-level function or a method of a class in that module. Modules
# that import an operator by name get their own entry so the call from
# inside them is traced too.
TRACED = [
    ("tabata_spark.core.signalset", "SignalSet.load", "signalset.load"),
    ("tabata_spark.core.signalset", "SignalSet.record", "signalset.record"),
    ("tabata_spark.core.signalset", "SignalSet.put", "signalset.put"),
    ("tabata_spark.operators.positions", "with_positions", "positions.with_positions"),
    ("tabata_spark.operators.savgol", "savgol", "savgol.savgol"),
    ("tabata_spark.operators.indicator", "savgol", "savgol.savgol"),
    ("tabata_spark.ml.tube", "savgol", "savgol.savgol"),
    ("tabata_spark.operators.indicator", "indicator_col", "indicator.indicator_col"),
    ("tabata_spark.operators.indicator", "reversed_indicator", "indicator.reversed_indicator"),
    ("tabata_spark.operators.slicing", "left_of", "slicing.left_of"),
    ("tabata_spark.ml.selector", "Selector.fit", "selector.fit"),
    ("tabata_spark.ml.selector", "Selector.estimate_epsilon", "selector.epsilon"),
    ("tabata_spark.ml.selector", "Selector.make_indicators", "selector.indicators"),
    ("tabata_spark.ml.selector", "Selector.belief_frame", "selector.belief"),
    ("tabata_spark.ml.selector", "Selector.predict", "selector.predict"),
    ("pyspark.ml.classification", "DecisionTreeClassifier.fit", "selector.tree_fit"),
    ("tabata_spark.ml.tube", "Tube.fit", "tube.fit"),
    ("tabata_spark.ml.tube", "Tube.build_tube", "tube.build"),
    ("pyspark.ml.regression", "LinearRegression.fit", "tube.regression"),
    ("tabata_spark.ml.tube", "Tube.estimate_frame", "tube.estimate"),
    ("tabata_spark.ml.tube", "Tube.scores", "tube.scores"),
    ("tabata_spark.operators.dedup", "near_dup_pairs", "dedup.near_dup_pairs"),
    ("tabata_spark.operators.dedup", "minhash_signatures_from_shingles", "dedup.signatures"),
    ("tabata_spark.operators.dedup", "minhash_candidates", "dedup.candidates"),
    ("tabata_spark.operators.dedup", "ngram_jaccard_pairs", "dedup.verify"),
    ("tabata_spark.operators.dedup", "connected_components", "dedup.components"),
    ("tabata_spark.operators.dedup", "simhash", "dedup.simhash"),
    ("tabata_spark.operators.dedup", "simhash_near_pairs", "dedup.simhash_pairs"),
]

# spans whose DataFrame output is counted (rows) after materialising
COUNTED = {"dedup.candidates", "dedup.verify"}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._persisted: list = []
        self._restore: list[tuple] = []

    # ------------------------------------------------------------ spans

    def _group(self, span_id: int | None, prefix: str = "pb") -> None:
        """Run the next Spark jobs under the span's job group; outside
        any span (client-side checks), under none."""
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{prefix}:{span_id}", "perfbench", False)

    def span(self, name: str, fn, *args, **kwargs):
        from pyspark.sql import DataFrame

        if not self._stack and name != "op":
            return fn(*args, **kwargs)  # a client-side check, not part of an op
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name, "run": self.run_id}
        self._stack.append(sid)
        self._group(sid)
        rec["start"] = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
            rec["build"] = time.perf_counter() - rec["start"]
            if isinstance(out, DataFrame):
                self._group(sid, "pbm")
                out = out.persist()
                self._persisted.append(out)
                out.write.format("noop").mode("overwrite").save()
                if name in COUNTED:
                    rec["rows"] = out.count()
            return out
        finally:
            rec["end"] = time.perf_counter()
            self.spans.append(rec)
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def op(self, fn, *args, **kwargs):
        """One traced benchmark operation: a root span; cached layer
        outputs are released when it ends."""
        try:
            return self.span("op", fn, *args, **kwargs)
        finally:
            for df in self._persisted:
                df.unpersist()
            self._persisted.clear()

    # ---------------------------------------------------------- patching

    def install(self) -> None:
        for mod_name, path, name in TRACED:
            mod = importlib.import_module(mod_name)
            owner = mod
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            own = attr in vars(owner)
            raw = vars(owner)[attr] if own else getattr(owner, attr)
            self._restore.append((owner, attr, raw, own))
            setattr(owner, attr, self._wrap(raw, name))

    def uninstall(self) -> None:
        for owner, attr, raw, own in reversed(self._restore):
            if own:
                setattr(owner, attr, raw)
            else:
                delattr(owner, attr)
        self._restore.clear()

    def _wrap(self, raw, name: str):
        tracer = self
        if isinstance(raw, classmethod):
            func = raw.__func__

            @functools.wraps(func)
            def cm(cls, *a, **k):
                return tracer.span(name, func, cls, *a, **k)

            return classmethod(cm)

        @functools.wraps(raw)
        def wrapped(*a, **k):
            return tracer.span(name, raw, *a, **k)

        return wrapped

    # ------------------------------------------------------------ derived

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def by_name(self) -> dict[str, list[dict]]:
        out = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(s)
        return out

    def descendants(self, root_ids: set[int]) -> set[int]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s["id"])
        seen, todo = set(), list(root_ids)
        while todo:
            i = todo.pop()
            if i not in seen:
                seen.add(i)
                todo.extend(kids[i])
        return seen

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkCounters:
    """Spark engine counters for the jobs of chosen job groups."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jvm = spark.sparkContext._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def _get(self, what: str):
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def jobs(self, groups: set[str]) -> list[dict]:
        """Finished jobs run under ``groups``; waits until the UI's
        status store has caught up with ``statusTracker``."""
        st = self.spark.sparkContext.statusTracker()
        expected = sum(len(st.getJobIdsForGroup(g)) for g in groups)
        deadline = time.monotonic() + 20
        while True:
            jobs = [
                j for j in self._get("jobs")
                if j.get("jobGroup") in groups and j["status"] != "RUNNING"
            ]
            if len(jobs) >= expected or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def stages(self, stage_ids: set[int]) -> list[dict]:
        return [
            s for s in self._get("stages?details=false")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]


def stage_totals(stages: list[dict]) -> dict[str, float]:
    def tot(key):
        return float(sum(s.get(key, 0) or 0 for s in stages))

    return {
        "stages": float(len(stages)),
        "tasks": tot("numCompleteTasks"),
        "executor_run_ms": tot("executorRunTime"),
        "executor_cpu_ms": tot("executorCpuTime") / 1e6,
        "gc_ms": tot("jvmGcTime"),
        "shuffle_write_bytes": tot("shuffleWriteBytes"),
        "shuffle_read_bytes": tot("shuffleReadBytes"),
        "shuffle_fetch_wait_ms": tot("shuffleFetchWaitTime"),
        "spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
        "output_bytes": tot("outputBytes"),
    }


class RssSampler:
    """Peak resident set of this process tree, sampled from /proc."""

    INTERVAL = 0.2  # seconds between samples

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue  # process ended while being read
            pid = int(d)
            parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
            rss[pid] = pages * self._page
        me = os.getpid()
        total = 0
        for pid, pages in rss.items():
            p = pid
            while p and p != me:
                p = parent.get(p, 0)
            if p == me:
                total += pages
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.INTERVAL)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._tree_rss())
