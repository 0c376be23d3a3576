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

- train/test disjointness (tubes.py:224-227) comes from one seeded
  ``rand()`` column per iteration: train = u < p, test = p ≤ u < 2p —
  without-replacement stratification instead of the reference's
  with-replacement choice (deterministic, one pass, no anti-join); the
  synthetic factors TIME/MEDIAN/CAUSAL (tubes.py:214-219,328-330) are
  record-window expressions there (row position, exact per-record
  median, seq-ordered first value);
- the whole ensemble is ONE Spark job: every iteration's train and
  test moments (count, means, centred cross-products of target and
  factors) are accumulated per partition and merged on the driver
  (Chan et al.'s pairwise update), then each regression is solved by
  least squares on the driver (minimum-norm when rank-deficient) and
  scored by its test R² = 1 − SSE/SST from the test moments;
- each kept model is stored as plain (intercept, coefs, cols, r2);
  ``estimate_frame`` and ``scores`` run one numpy bounds kernel
  (``_bounds_np``: the synthetic factors, K linear predictions,
  mean/min/max, tube factor, SG-smoothed bounds) per record in one
  grouped Arrow pass each;
- ``scores`` is that ONE grouped pass over all records and all
  targets (the reference loops records in Python), emitting N and the
  out-of-tube counts per record.
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabata_spark.core.signalset import SignalSet
# ``savgol`` stays importable from here: perfbench's tracer wraps ``tube.savgol``
from tabata_spark.operators.savgol import savgol, savgol_filter_np  # noqa: F401

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
        raise ValueError(
            "a regression drew no training rows: the set is empty or samples_percent too small"
        )
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


def _synthetic_np(y: np.ndarray) -> dict[str, np.ndarray]:
    """The numpy twin of :func:`_with_synthetic` for one record's
    target in seq order: row position, the median of its non-null
    values, its first value."""
    n = len(y)
    known = y[~np.isnan(y)]
    median = np.median(known) if len(known) else np.nan
    return {
        "TIME": np.arange(n, dtype=float),
        "MEDIAN": np.full(n, median),
        "CAUSAL": np.full(n, y[0]),
    }


def _bounds_np(pdf, target: str, pop: list[tuple], q: float, width: int) -> tuple:
    """One record's tube (tubes.py:306-356), rows in seq order: the K
    linear predictions → z/zmin/zmax = mean/min/max → scaled by the
    tube factor ``q`` → zmin/zmax SG-smoothed when ``width`` > 0.
    An empty population gives NaN bounds (tubes.py:318-322)."""
    n = len(pdf)
    if not pop:
        nan = np.full(n, np.nan)
        return nan, nan, nan
    synth = _synthetic_np(pdf[target].to_numpy(dtype=float))
    preds = np.empty((len(pop), n))
    for j, (b0, coefs, _) in enumerate(pop):
        preds[j] = b0
        for c, b in coefs.items():
            preds[j] += b * (synth[c] if c in SYNTH else pdf[c].to_numpy(dtype=float))
    z = preds.mean(axis=0)
    zmin = z - q * (z - preds.min(axis=0))
    zmax = z + q * (preds.max(axis=0) - z)
    if width > 0:
        zmin = savgol_filter_np(zmin, width, 2)
        zmax = savgol_filter_np(zmax, width, 2)
    return z, zmin, zmax


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
        )
        seeds = [self.seed * 1000 + i for i in range(len(draws))]
        moments = _split_moments(base, cols, seeds, lp["samples_percent"])

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
        """Fit every target (tubes.py:276-303), one Spark job each."""
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

    def _bounds_args(self, target: str) -> tuple:
        """(population, tube factor, SG width or 0) of ``_bounds_np``."""
        w = self.tube_params["filter_width"]
        width = 2 * w + 1 if w > 0 else 0
        return self._reg.get(target) or [], self.tube_params["tube_factor"], width

    def estimate_frame(self, target: str, df: DataFrame | None = None) -> DataFrame:
        """Tube bounds for every row of every record at once
        (tubes.py:306-356), one grouped pass of :func:`_bounds_np`.

        Returns the input plus columns ``z, zmin, zmax``. Unknown
        target → NaN columns (tubes.py:318-322)."""
        data = df if df is not None else self.sset.df
        pop, q, width = self._bounds_args(target)
        if not pop:
            nan = F.lit(float("nan"))
            return data.withColumn("z", nan).withColumn("zmin", nan).withColumn("zmax", nan)
        fields = {f.name: f for f in data.schema}
        for c in ("z", "zmin", "zmax"):
            fields[c] = T.StructField(c, T.DoubleType())

        def fn(pdf):
            pdf = pdf.sort_values("seq", ignore_index=True)
            z, zmin, zmax = _bounds_np(pdf, target, pop, q, width)
            return pdf.assign(z=z, zmin=zmin, zmax=zmax)

        return data.groupBy("record_id").applyInPandas(fn, T.StructType(list(fields.values())))

    # -------------------------------------------------------------- scores

    def scores(self, df: DataFrame | None = None) -> DataFrame:
        """Out-of-tube counts per record × target (tubes.py:392-406) in
        one grouped pass over every record and target. Returns
        (record_id, N, <target count columns…>) ordered by record_id."""
        import pandas as pd

        data = df if df is not None else self.sset.df
        targets = {t: self._bounds_args(t) for t in sorted(self._reg)}
        factors = {c for pop, _, _ in targets.values() for _, coefs, _ in pop for c in coefs}
        needed = sorted((set(targets) | factors) - set(SYNTH))

        def fn(pdf):
            pdf = pdf.sort_values("seq", ignore_index=True)
            row = {"record_id": pdf["record_id"].iloc[:1].to_numpy(), "N": [len(pdf)]}
            for t, (pop, q, width) in targets.items():
                _, zmin, zmax = _bounds_np(pdf, t, pop, q, width)
                y = pdf[t].to_numpy(dtype=float)
                row[f"score_{t}"] = [int(np.count_nonzero((y > zmax) | (y < zmin)))]
            return pd.DataFrame(row)

        schema = T.StructType(
            [data.schema["record_id"], T.StructField("N", T.LongType())]
            + [T.StructField(f"score_{t}", T.LongType()) for t in targets]
        )
        per_record = (
            data.select("record_id", "seq", *[F.col(f"`{c}`") for c in needed])
            .groupBy("record_id")
            .applyInPandas(fn, schema)
        )
        # one partition, then sorted: an orderBy's range sampling would
        # run the grouped pass a second time
        return per_record.repartition(1).sortWithinPartitions("record_id")

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
