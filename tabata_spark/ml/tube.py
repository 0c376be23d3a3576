"""Tube — confidence tubes from randomized regression ensembles
(reference tubes.py).

For each target variable the reference fits ``retry_number`` linear
regressions on random factor subsets and disjoint row samples, keeps
the best ``keep_best_number`` by test-R² with early stopping
(tubes.py:177-271), and turns the kept ensemble's per-row predictions
into a confidence tube ``[z - q·(z - zmin), z + q·(zmax - z)]``,
optionally SG-smoothed (tubes.py:306-356). Out-of-tube point counts
per record are the anomaly scores (tubes.py:376-406).

Spark-first design:

- synthetic factors TIME/MEDIAN/CAUSAL (tubes.py:214-219,328-330) are
  native record-window expressions (row position, exact per-record
  median, seq-ordered first value) — computed once, reused by every
  ensemble member;
- train/test disjointness (tubes.py:224-227) comes from one seeded
  ``rand()`` column per iteration: train = u < p, test = p ≤ u < 2p —
  without-replacement stratification instead of the reference's
  with-replacement choice (deterministic, one pass, no anti-join);
- the whole ensemble is ONE Spark job: every iteration's train and
  test moments (count, means, centred cross-products of target and
  factors) are accumulated per partition and merged on the driver
  (Chan et al.'s pairwise update), then each regression is solved by
  least squares on the driver (minimum-norm when rank-deficient) and
  scored by its test R² = 1 − SSE/SST from the test moments;
- each kept model is stored as plain (intercept, coefs, cols, r2), so
  ``estimate`` is K inline linear expressions + least/greatest/avg per
  row — pure codegen, no model.transform, no UDF;
- ``scores`` is ONE groupBy(record_id) over all records and all
  targets (the reference loops records in Python).
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tabata_spark.core.signalset import SignalSet
from tabata_spark.operators.savgol import savgol

SYNTH = ("TIME", "MEDIAN", "CAUSAL")


def _moments(Z: np.ndarray) -> tuple:
    """(n, column means, centred cross-product matrix) of the rows of Z."""
    n = len(Z)
    if n == 0:
        k = Z.shape[1]
        return 0, np.zeros(k), np.zeros((k, k))
    mean = Z.mean(axis=0)
    D = Z - mean
    return n, mean, D.T @ D


def _merge(a: tuple, b: tuple) -> tuple:
    """Moments of the union of two row sets (Chan, Golub & LeVeque)."""
    na, ma, Ma = a
    nb, mb, Mb = b
    if na == 0 or nb == 0:
        return b if na == 0 else a
    n = na + nb
    d = mb - ma
    return n, ma + d * (nb / n), Ma + Mb + np.outer(d, d) * (na * nb / n)


def _split_moments(base: DataFrame, cols: list[str], seeds: list[int], p: float) -> list:
    """Moments of ``[__y, *cols]`` over each split's train rows
    (``rand(seed) < p``) and test rows (``p <= rand(seed) < 2p``), all
    splits in one job. Returns ``[(train, test)]`` in ``seeds`` order."""
    import pandas as pd

    names = ["__y", *cols]
    k = len(names)

    def fn(batches):
        acc = {}
        for pdf in batches:
            Z = pdf[names].to_numpy(dtype=float)
            for i in range(len(seeds)):
                u = pdf[f"__u{i}"].to_numpy()
                for part, mask in ((0, u < p), (1, (u >= p) & (u < 2 * p))):
                    m = _moments(Z[mask])
                    acc[i, part] = _merge(acc[i, part], m) if (i, part) in acc else m
        # packed as raw float64 bytes: Arrow would turn a NaN (a null
        # factor value) in an array column into a null
        yield pd.DataFrame(
            [
                (i, part, np.concatenate([[n], mean, m2.ravel()]).tobytes())
                for (i, part), (n, mean, m2) in acc.items()
            ],
            columns=["i", "part", "m"],
        )

    us = [F.rand(seed=s).alias(f"__u{i}") for i, s in enumerate(seeds)]
    rows = base.select(*names, *us).mapInPandas(fn, "i int, part int, m binary").collect()
    out = [[(0, np.zeros(k), np.zeros((k, k)))] * 2 for _ in seeds]
    for r in rows:
        v = np.frombuffer(r["m"], dtype=np.float64)
        m = (int(v[0]), v[1 : k + 1], v[k + 1 :].reshape(k, k))
        out[r["i"]][r["part"]] = _merge(out[r["i"]][r["part"]], m)
    return out


def _ols(train: tuple, test: tuple, sel: list[int]) -> tuple[float, np.ndarray, float]:
    """Least-squares fit of column 0 on columns ``sel`` from the train
    moments (minimum-norm coefficients when the factors are
    rank-deficient), and its R² on the test moments. Returns
    (intercept, coefficients, r2)."""
    n, mean, M = train
    if n == 0:
        raise ValueError("a regression drew no training rows: raise samples_percent")
    idx = [0, *sel]
    if np.isnan(M[np.ix_(idx, idx)]).any() or np.isnan(test[2][np.ix_(idx, idx)]).any():
        raise ValueError("a regression's sampled rows hold null or NaN values")
    Sxx, Sxy = M[np.ix_(sel, sel)], M[sel, 0]
    scale = np.sqrt(np.diag(Sxx))
    scale[scale == 0] = 1.0  # a constant factor: its row is zero anyway
    beta = np.linalg.lstsq(Sxx / np.outer(scale, scale), Sxy / scale, rcond=None)[0] / scale
    b0 = mean[0] - mean[sel] @ beta
    nt, mt, Mt = test
    w = np.concatenate([[1.0], -beta])
    resid_mean = mt[0] - b0 - mt[sel] @ beta
    sse = w @ Mt[np.ix_(idx, idx)] @ w + nt * resid_mean**2
    with np.errstate(divide="ignore", invalid="ignore"):
        r2 = 1.0 - np.float64(sse) / Mt[0, 0]
    return float(b0), beta, float(r2)


def _with_synthetic(df: DataFrame, target: str) -> DataFrame:
    """TIME/MEDIAN/CAUSAL factor columns for one target
    (tubes.py:214-219): row position, per-record exact median of the
    target, per-record first value of the target."""
    w = Window.partitionBy("record_id").orderBy("seq")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        df.withColumn("TIME", (F.row_number().over(w) - F.lit(1)).cast("double"))
        .withColumn("MEDIAN", F.expr(f"percentile(`{target}`, 0.5)").over(frame))
        .withColumn("CAUSAL", F.first(F.col(f"`{target}`")).over(frame))
    )


class Tube:
    """Confidence-tube model over a :class:`SignalSet`."""

    def __init__(self, sset: SignalSet, seed: int = 42):
        self.sset = sset
        channels = sset.channels
        self.variables: set[str] = {channels[0]} if channels else set()
        self.factors: set[str] = set(channels)
        self._reg: dict[str, list[tuple]] = {}  # target -> [(intercept, {col: coef}, r2)]
        self.seed = seed
        self.learn_params = dict(
            retry_number=10, keep_best_number=5, samples_percent=0.01, max_features=5
        )
        self.feature_params = dict(local_value="Absolute", use_time="No")
        self.tube_params = dict(tube_factor=10.0, filter_width=20)

    # ------------------------------------------------------------- fitting

    def _candidate_factors(self, target: str) -> list[str]:
        cols = sorted(c for c in self.factors if c != target)
        if self.feature_params["use_time"] == "Yes":
            cols.append("TIME")
        if self.feature_params["local_value"] == "Median":
            cols.append("MEDIAN")
        if self.feature_params["local_value"] == "Causal":
            cols.append("CAUSAL")
        return cols

    def build_tube(self, target: str) -> list[tuple]:
        """One target's regression population (tubes.py:177-271):
        random factor subsets, disjoint samples, keep-best-K with
        early stop after K consecutive misses. Every candidate's
        moments come from one Spark job; the fits are driver math."""
        lp = self.learn_params
        cols = self._candidate_factors(target)
        if not cols:
            return []
        rng = random.Random(f"{self.seed}:{target}")
        draws = []
        for _ in range(lp["retry_number"]):
            k = min(rng.randint(1, len(cols)), lp["max_features"], len(cols))
            draws.append(rng.sample(cols, k))
        base = _with_synthetic(self.sset.df, target).select(
            "record_id", "seq", F.col(f"`{target}`").alias("__y"),
            *[F.col(f"`{c}`").alias(c) for c in cols],
        ).cache()  # each rand() split must see the same rows in the same order
        try:
            seeds = [self.seed * 1000 + i for i in range(len(draws))]
            moments = _split_moments(base, cols, seeds, lp["samples_percent"])
        finally:
            base.unpersist()

        pop: list[tuple] = []  # (intercept, {col: coef}, r2)
        miss = 0
        for i, (cc, (train, test)) in enumerate(zip(draws, moments)):
            b0, beta, r2 = _ols(train, test, [1 + cols.index(c) for c in cc])
            entry = (b0, dict(zip(cc, beta.tolist())), r2)
            if i < lp["keep_best_number"]:
                pop.append(entry)
            else:
                worst = min(range(len(pop)), key=lambda j: pop[j][2])
                if r2 > pop[worst][2]:
                    pop[worst] = entry
                    miss = 0
                else:
                    miss += 1
                    if miss == lp["keep_best_number"]:
                        break
        return pop

    def fit(self) -> "Tube":
        """Fit every target (tubes.py:276-303)."""
        if len(self.sset) == 0:
            raise ValueError("no data")
        for target in sorted(self.variables):
            self._reg[target] = self.build_tube(target)
        return self

    def describe(self) -> dict[str, dict[str, int]]:
        """Factor-usage counts per target (tubes.py:359-373)."""
        out: dict[str, dict[str, int]] = {}
        for target, pop in self._reg.items():
            cnt: dict[str, int] = {}
            for _, coefs, _ in pop:
                for c in coefs:
                    cnt[c] = cnt.get(c, 0) + 1
            out[target] = cnt
        return out

    # ------------------------------------------------------------ estimate

    def estimate_frame(self, target: str, df: DataFrame | None = None) -> DataFrame:
        """Tube bounds for every row of every record at once
        (tubes.py:306-356): K inline linear predictions → z/zmin/zmax =
        avg/least/greatest → scale by tube_factor → SG-smooth bounds.

        Returns the input plus columns ``z, zmin, zmax``. Unknown
        target → NaN columns (tubes.py:318-322)."""
        data = df if df is not None else self.sset.df
        pop = self._reg.get(target)
        if not pop:
            nan = F.lit(float("nan"))
            return data.withColumn("z", nan).withColumn("zmin", nan).withColumn("zmax", nan)

        needed = sorted({c for _, coefs, _ in pop for c in coefs})
        out = _with_synthetic(data, target) if any(c in SYNTH for c in needed) else data

        preds = []
        for j, (b0, coefs, _) in enumerate(pop):
            expr = F.lit(b0)
            for c, b in coefs.items():
                expr = expr + F.lit(b) * F.col(f"`{c}`")
            preds.append(expr.alias(f"__p{j}"))
        out = out.select("*", *preds)
        pcols = [F.col(f"__p{j}") for j in range(len(pop))]
        z = sum(pcols[1:], pcols[0]) / F.lit(float(len(pop)))
        zmin = pcols[0] if len(pcols) == 1 else F.least(*pcols)
        zmax = pcols[0] if len(pcols) == 1 else F.greatest(*pcols)
        q = self.tube_params["tube_factor"]
        out = (
            out.withColumn("z", z)
            .withColumn("zmin", F.col("z") - q * (F.col("z") - zmin))
            .withColumn("zmax", F.col("z") + q * (zmax - F.col("z")))
            .drop(*[f"__p{j}" for j in range(len(pop))])
        )
        w = self.tube_params["filter_width"]
        if w > 0:
            width = 2 * w + 1
            out = savgol(out, ["zmin", "zmax"], ["zmin", "zmax"], width, 2, 0)
        return out.drop(*[c for c in SYNTH if c in out.columns and c not in data.columns])

    # -------------------------------------------------------------- scores

    def scores(self, df: DataFrame | None = None) -> DataFrame:
        """Out-of-tube counts per record × target in one aggregation
        per target (tubes.py:392-406). Returns
        (record_id, N, <target count columns…>)."""
        data = df if df is not None else self.sset.df
        result = data.groupBy("record_id").agg(F.count(F.lit(1)).alias("N"))
        for target in sorted(self._reg):
            est = self.estimate_frame(target, data)
            y = F.col(f"`{target}`")
            cnt = (
                est.groupBy("record_id")
                .agg(
                    F.count(
                        F.when((y > F.col("zmax")) | (y < F.col("zmin")), 1)
                    ).alias(f"score_{target}")
                )
            )
            result = result.join(cnt, "record_id", "left")
        return result.orderBy("record_id")

    def score_proportions(self, df: DataFrame | None = None) -> DataFrame:
        """scr[col]/N (tubes.py:417)."""
        scr = self.scores(df)
        for target in sorted(self._reg):
            c = f"score_{target}"
            scr = scr.withColumn(c, F.col(c) / F.col("N"))
        return scr


def app_tube(origin: SignalSet, tube: Tube, target: str) -> DataFrame:
    """AppTube (tubes.py:79-142): overlay tube estimates learned on an
    extract onto the matching records of the origin set — a
    (record_id, ts) equi-join of the origin rows with the estimate
    rows computed on the extract."""
    est = tube.estimate_frame(target).select("record_id", "ts", "z", "zmin", "zmax")
    return origin.df.join(est, ["record_id", "ts"], "left")


# ------------------------------------------------------------ persistence


def save_tube(tube: Tube, path: str) -> None:
    """Persist the learned state (reference pickles Selector/Tube,
    instants_doc cell 74; here: JSON — the models are plain floats)."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    state = {
        "variables": sorted(tube.variables),
        "factors": sorted(tube.factors),
        "learn_params": tube.learn_params,
        "feature_params": tube.feature_params,
        "tube_params": tube.tube_params,
        "seed": tube.seed,
        "reg": {
            t: [[b0, coefs, r2] for (b0, coefs, r2) in pop]
            for t, pop in tube._reg.items()
        },
    }
    with open(os.path.join(path, "tube.json"), "w") as f:
        json.dump(state, f, indent=1)


def load_tube(sset: SignalSet, path: str) -> Tube:
    import json
    import os

    with open(os.path.join(path, "tube.json")) as f:
        state = json.load(f)
    tube = Tube(sset, seed=state["seed"])
    tube.variables = set(state["variables"])
    tube.factors = set(state["factors"])
    tube.learn_params = state["learn_params"]
    tube.feature_params = state["feature_params"]
    tube.tube_params = state["tube_params"]
    tube._reg = {
        t: [(b0, coefs, r2) for b0, coefs, r2 in pop]
        for t, pop in state["reg"].items()
    }
    return tube
