"""The benchmark's workloads.

Each workload runs as one client in a closed loop: ``op()`` makes one
unit of engine calls and returns only when their result is in hand;
the next op starts after it. ``check(result)`` then validates that
result outside the timed region; a failed check raises ``CheckFailed``.
``setup()`` builds the seeded inputs, so the engine receives only
generated data.

Engine calls go through module attributes (``positions.with_positions``
and so on) so that a traced run, which wraps those attributes, sees
every call.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench.corpus import jaccard, make_corpus, shingles


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def close_to(got: float, want: float) -> bool:
    return abs(got - want) <= 1e-6 * max(1.0, abs(want))


class Workload:
    name = ""
    # unmeasured ops a traced run does first, so that its untraced and
    # traced halves run equally warm
    trace_warmup_ops: int

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.steps: dict[str, list[float]] = {}

    def step(self, key: str, t0: float) -> float:
        """Record the time since ``t0`` under ``key``; returns now."""
        now = time.perf_counter()
        self.steps.setdefault(key, []).append(now - t0)
        return now

    def setup(self) -> None:
        raise NotImplementedError

    def op(self):
        raise NotImplementedError

    def check(self, result) -> None:
        raise NotImplementedError

    def figures(self, op_times: list[float]) -> dict[str, float]:
        """This workload's own end-to-end figures over one untraced
        phase, whose op latencies are ``op_times`` and whose steps are
        in ``self.steps``."""
        return {}

    def close(self) -> None:
        pass


# ------------------------------------------------------------ signal pipeline


class SignalPipeline(Workload):
    """One op is an analyst's pass over a stored flight set: a feature
    pass through the window operators, Selector fit and predict, Tube
    fit and scores, then a round of store calls on the set: seven point
    reads, two upserts and one subset scan, records drawn Zipf-skewed.
    An upsert writes the record's own frame back, so the set, and with
    it every check, stays the same from op to op."""

    name = "signal_pipeline"
    # none: with a warm-up op a traced run took 154-179 s, too close to
    # the three minutes a run may take; the untraced half is then the
    # same cold op the untraced runs time
    trace_warmup_ops = 0
    N_RECORDS = 24
    N_ROWS = 1000
    N_LABELED = 8
    SIGMA = 5.0  # indicator threshold on dALT/dt in m/s: climb >> 5, cruise ~ 0
    SAMPLE = 3  # records compared with the numpy oracles per op
    # largest median |predicted - true| instant over the records, as a
    # share of a record; the model misplaces a few records by far
    TOLERANCE = 0.08
    STORE_ROUND = ["read"] * 7 + ["put"] * 2 + ["subset"]
    ZIPF = 1.1

    def setup(self) -> None:
        from tabata_spark.core.signalset import SignalSet
        from tabata_spark.sources.generator import make_flights_distributed

        self.path = os.path.join(self.work, "flights")
        shutil.rmtree(self.path, ignore_errors=True)
        gen = make_flights_distributed(
            self.spark, n_records=self.N_RECORDS, n_rows=self.N_ROWS, seed=self.seed,
            partitions=1,  # one file per record, as upserts leave a store
        )
        sset = SignalSet(gen).save(self.path)
        pdf = sset.df.toPandas().sort_values(["record_id", "seq"])
        self.rows = len(pdf)
        self.width = len(sset.df.columns) - 1  # record_id is the partition key
        self.names = sorted(str(n) for n in pdf["record_id"].unique())
        self.truth, self.frames, self.expected_rec = {}, {}, {}
        alt = {}
        for name, g in pdf.groupby("record_id"):
            vz = g["Vz[m/s]"].to_numpy()
            rate = float(np.median(vz[:10]))
            # top of climb: the first row whose climb rate is below half
            self.truth[name] = int(g["seq"].to_numpy()[np.argmax(vz < rate / 2)])
            alt[name] = g["ALT[m]"].to_numpy()
            frame = g.set_index("ts")[sset.channels]
            frame.index.name = name
            self.frames[name] = frame
            self.expected_rec[name] = (len(g), float(alt[name].sum()))
        rng = np.random.default_rng(self.seed)
        self.labeled = sorted(str(n) for n in rng.choice(self.names, self.N_LABELED, replace=False))
        sample = sorted(str(n) for n in rng.choice(self.names, self.SAMPLE, replace=False))
        self.expected = {n: self._oracle(alt[n]) for n in sample}
        self.first_pred: dict[str, int] | None = None
        order = [str(n) for n in rng.permutation(self.names)]
        w = 1.0 / np.arange(1, len(order) + 1) ** self.ZIPF
        self.order, self.weights = order, w / w.sum()
        self.subset_names = sorted(str(n) for n in rng.choice(self.names, 10, replace=False))
        self.rng = rng

    def _oracle(self, y: np.ndarray) -> tuple:
        from tabata_spark.operators.indicator import indicator_np
        from tabata_spark.operators.savgol import savgol_filter_np

        cut = int(np.argmax(y))
        sg = savgol_filter_np(y, 21, 2)
        ind = indicator_np(y, 41, 1, self.SIGMA, 2)
        rev = ind[-1] - ind
        return cut, sg[:cut].sum(), ind[:cut].max(), rev[:cut].sum()

    def _features(self):
        from pyspark.sql import functions as F

        from tabata_spark.core.signalset import SignalSet
        from tabata_spark.operators import indicator, positions, savgol, slicing

        sset = SignalSet.load(self.spark, self.path)
        instants = sset.df.groupBy("record_id").agg(
            F.expr("max_by(seq, `ALT[m]`)").alias("seq")
        )
        df = positions.with_positions(sset.df)
        df = savgol.savgol(df, "ALT[m]", "ALT_sg", 21)
        df = indicator.indicator_col(df, "ALT[m]", "ALT_ind", 41, 1, self.SIGMA)
        df = indicator.reversed_indicator(df, "ALT_ind", "ALT_rev")
        out = slicing.left_of(df, instants)
        rows = out.groupBy("record_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ALT_sg").alias("sg"),
            F.max("ALT_ind").alias("ind"),
            F.sum("ALT_rev").alias("rev"),
        ).collect()
        return sset, {r["record_id"]: (r["n"], r["sg"], r["ind"], r["rev"]) for r in rows}

    def _store_round(self, sset):
        """The store calls, each timed on its own; returns the set as
        the last upsert left it and what the calls returned."""
        reads, puts, lengths = [], [], None
        for kind in self.rng.permutation(self.STORE_ROUND):
            name = self.order[int(self.rng.choice(len(self.order), p=self.weights))]
            t = time.perf_counter()
            if kind == "read":
                reads.append((name, sset.record(name).collect()))
            elif kind == "put":
                sset = sset.put(self.frames[name])
                puts.append(name)
            else:
                lengths = sset.subset(self.subset_names).record_lengths().collect()
            self.step(str(kind), t)
        return sset, reads, puts, lengths

    def op(self):
        from tabata_spark.ml.selector import Selector
        from tabata_spark.ml.tube import Tube

        t = time.perf_counter()
        sset, feats = self._features()
        t = self.step("features", t)
        sel = Selector(sset, seed=self.seed)
        sel.variables = {"ALT[m]"}
        sel.feature_params = dict(range_width=(10, 30), range_sigma=[5, 15], max_order=2)
        sel.learn_params = dict(
            retry_number=2, retry_percentile=80, samples_percent=0.05, min_samples_split=0.05
        )
        sel.predict_params = dict(filter_width=40)
        for name in self.labeled:
            sel.selected[name] = self.truth[name]
        sel.fit()
        t = self.step("selector_fit", t)
        pred = sel.predict()
        t = self.step("selector_predict", t)
        tube = Tube(sset, seed=self.seed)
        tube.variables = {"ALT[m]"}
        tube.learn_params = dict(
            retry_number=2, keep_best_number=1, samples_percent=0.05, max_features=5
        )
        tube.tube_params = dict(tube_factor=10.0, filter_width=5)
        tube.fit()
        t = self.step("tube_fit", t)
        scores = tube.scores().collect()
        self.step("tube_scores", t)
        return feats, pred, scores, self._store_round(sset)

    def check(self, result) -> None:
        from pyspark.sql import functions as F

        feats, pred, scores, (store, reads, puts, lengths) = result
        for name, (cut, sg, ind, rev) in self.expected.items():
            n, sg_s, ind_s, rev_s = feats[name]
            check(n == cut, f"left_of rows of {name}: {n} != {cut}")
            for got, want, what in ((sg_s, sg, "savgol"), (ind_s, ind, "indicator"), (rev_s, rev, "reversed")):
                check(close_to(got, want), f"{what} of {name}: {got} != {want}")
        check(set(pred) == set(self.names), "predict must cover every record")
        if self.first_pred is None:
            self.first_pred = pred
        check(pred == self.first_pred, "predicted instants changed between ops")
        err = float(np.median([abs(pred[n] - self.truth[n]) for n in self.names]))
        check(err <= self.TOLERANCE * self.N_ROWS, f"median instant error {err} rows")
        check(
            sorted(r["record_id"] for r in scores) == self.names
            and all(r["N"] == self.N_ROWS and 0 <= r["score_ALT[m]"] <= r["N"] for r in scores),
            "Tube.scores must cover every record",
        )
        for name, rows in reads:
            n, s = self.expected_rec[name]
            got = sum(r["ALT[m]"] for r in rows)
            check(len(rows) == n and close_to(got, s), f"read of {name}")
        for name in puts:
            # read after write: the acknowledged upsert is visible in full
            n, s = self.expected_rec[name]
            back = store.record(name).agg(
                F.count(F.lit(1)).alias("n"), F.sum("`ALT[m]`").alias("s")
            ).collect()[0]
            check(back["n"] == n and close_to(back["s"], s), f"read after put of {name}")
        check(
            {r["record_id"]: r["n"] for r in lengths}
            == {k: self.expected_rec[k][0] for k in self.subset_names},
            "subset record lengths",
        )

    def space(self) -> tuple[int, int, int]:
        """(bytes on disk, files, bytes of user data): user data is
        8 bytes per value of seq, ts and each channel."""
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.path) for f in fs]
        return sum(os.path.getsize(f) for f in files), len(files), self.rows * 8 * self.width

    def figures(self, op_times: list[float]) -> dict[str, float]:
        med = {k: float(np.median(v)) for k, v in self.steps.items()}
        store = [t for k in ("read", "put", "subset") for t in self.steps[k]]
        on_disk, _, user = self.space()
        return {
            "features_rows_per_s": self.rows / med["features"],
            "selector_fit_s": med["selector_fit"],
            "selector_predict_rows_per_s": self.rows / med["selector_predict"],
            "tube_fit_s": med["tube_fit"],
            "tube_score_rows_per_s": self.rows / med["tube_scores"],
            "read_p50_ms": 1e3 * med["read"],
            "read_p90_ms": 1e3 * float(np.percentile(self.steps["read"], 90)),
            "upsert_p50_ms": 1e3 * med["put"],
            "store_ops_per_s": len(store) / sum(store),
            "store_space_amp": on_disk / user,
        }

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


# --------------------------------------------------------------- near-dup


class CorpusNearDup(Workload):
    """One op is a near-duplicate pass over a seeded corpus: MinHash
    pairs, connected components over them, SimHash pairs."""

    name = "corpus_neardup"
    trace_warmup_ops = 2  # the second op still runs about 30% slower than the fourth
    N_DOCS = 4_000
    THRESHOLD = 0.8
    MAX_HAMMING = 3

    def setup(self) -> None:
        docs, self.planted = make_corpus(self.seed, self.N_DOCS, threshold=self.THRESHOLD)
        self.shingles = {i: shingles(t) for i, t in docs}
        # the corpus is read from Parquet, as a stored corpus would be
        path = os.path.join(self.work, "corpus")
        self.spark.createDataFrame(docs, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(path)
        self.df = self.spark.read.parquet(path)
        check(self.df.count() == self.N_DOCS, "corpus rows")
        self.recall: list[float] = []

    def op(self):
        from tabata_spark.operators import dedup

        pairs_df = dedup.near_dup_pairs(self.df, threshold=self.THRESHOLD).persist()
        pairs = pairs_df.collect()
        comps = dedup.connected_components(pairs_df.select("id_a", "id_b")).collect()
        pairs_df.unpersist()
        fp_df = dedup.simhash(self.df).persist()
        sim = dedup.simhash_near_pairs(fp_df, max_hamming=self.MAX_HAMMING).collect()
        return pairs, comps, sim, fp_df

    def check(self, result) -> None:
        pairs, comps, sim, fp_df = result
        fps = {r["doc_id"]: r["simhash"] for r in fp_df.collect()}
        for r in pairs:
            j = jaccard(self.shingles[r["id_a"]], self.shingles[r["id_b"]])
            check(j >= self.THRESHOLD and abs(j - r["jaccard"]) <= 1e-6, f"jaccard of pair {r}")
        comp = {r["id"]: r["comp"] for r in comps}
        check(all(comp[r["id_a"]] == comp[r["id_b"]] for r in pairs), "pair split across components")
        check(all(c <= i for i, c in comp.items()), "component label is not the min id")
        for r in sim:
            ham = bin((fps[r["id_a"]] ^ fps[r["id_b"]]) & (2**64 - 1)).count("1")
            check(ham == r["hamming"] <= self.MAX_HAMMING, f"simhash pair {r}")
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        self.recall.append(len(found & self.planted) / len(self.planted))

    def figures(self, op_times: list[float]) -> dict[str, float]:
        return {
            "neardup_docs_per_s": self.N_DOCS * len(op_times) / sum(op_times),
            "neardup_recall": float(np.median(self.recall)),
        }


WORKLOADS = {w.name: w for w in (SignalPipeline, CorpusNearDup)}
