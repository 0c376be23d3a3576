"""Selector — supervised instant detection (reference instants.py).

The reference learns to locate a characteristic *instant* in each
signal: an expert labels row positions on a few records
(``selected``), a grid of bump/valley indicator features is
materialized (``make_indicators``, instants.py:211-360), decision
trees on sampled rows vote on feature importance
(instants.py:363-466), and the final tree's per-row ±1 prediction is
smoothed/normalized into a per-record belief curve whose argmax is the
predicted instant (``belief``, instants.py:483-549).

Spark-first design:

- labels are keyed by **record name** (the reference keys by cursor
  position, instants.py:104-127 — an intentional divergence noted in
  SURVEY §7: positional keys don't survive a distributed, unordered
  world; the alphabetical record list makes the mapping bijective);
- the indicator grid is ONE Arrow-batched ``applyInPandas`` pass per
  epoch over the labeled records (the grid of ~240 features/variable
  amortizes the batch transfer; each group is one record);
- the noise-scale pass (epsilon, instants.py:269-295) is a grouped
  aggregation: per-record std of the difference of two SG filterings,
  then a global max per (width, order, variable);
- trees are fitted on the driver, like the reference's sklearn trees:
  each tree's with-replacement row sample of the cached grid is
  collected in one job (``samples_percent`` of the labeled rows) and
  grown by a small numpy CART (``_fit_tree``) that reproduces MLlib's
  ``DecisionTreeClassifier`` split finding, stopping and pruning; the
  fitted tree is plain arrays;
- belief/predict runs set-oriented over ALL records at once: one
  grouped ``applyInPandas`` per record recomputes the retained
  indicators, takes the tree vote, SG-derivative smooths it and
  clips/normalizes; the per-record argmax is one ``max_by``;
- all randomness is seeded (the reference uses unseeded np.random —
  deliberate determinism divergence, SURVEY §7).
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabata_spark.core.signalset import SignalSet
from tabata_spark.operators.indicator import indicator_np
from tabata_spark.operators.savgol import savgol_filter_np

#: idcode tuple = (colname, l, d, es, eps) — reference semantics
#: (instants.py:161-183): l = filter half-width (negative => reversed
#: indicator), d = derivative order - 1, es = signed sigma multiplier,
#: eps = estimated noise scale. Position features use l == 0.
POSITION_CODES = [
    ("LEN", 0, 0, 0, 0.0),
    ("REV", 0, 0, 0, 0.0),
    ("PERCENT", 0, 0, 0, 0.0),
]


def _code_name(colname: str, l: int, d: int, s: int, forward: bool) -> str:
    """Reference naming (instants.py:329-347): NAME[+w{l}o{d}u{s}]."""
    from tabata_spark.core.naming import nameunit

    name, _ = nameunit(colname)
    code = f"{abs(l)}o{d + 1}" + (f"u{abs(s)}" if s > 0 else f"d{abs(s)}")
    return f"{name}[{'+' if forward else '-'}w{code}]"


def _indicator_frame_fn(idcodes, deg_poly, struct_cols):
    """Grouped-map kernel: one record in, the indicator matrix out.

    Shared by make_indicators (full grid) and belief (retained codes).
    Position features replicate instants.py:306-311; indicator columns
    replicate instants.py:319-348 including the reversed c[-1]-c form.
    """

    def fn(pdf):
        pdf = pdf.sort_values("seq")
        n = len(pdf)
        a = np.arange(n, dtype=float)
        out = {c: pdf[c].to_numpy() for c in struct_cols}
        cache: dict[tuple, np.ndarray] = {}
        for name, (colname, l, d, es, eps) in idcodes.items():
            if l == 0:
                if colname == "LEN":
                    out[name] = a
                elif colname == "REV":
                    out[name] = a[::-1].copy()
                elif colname == "PERCENT":
                    out[name] = a / (n - 1) if n > 1 else np.zeros(n)
                else:
                    out[name] = pdf[colname].to_numpy(dtype=float)
                continue
            key = (colname, abs(l), d, es)
            if key not in cache:
                y = pdf[colname].to_numpy(dtype=float)
                w = 2 * abs(l) + 1
                cache[key] = indicator_np(y, w, d + 1, es * eps, deg_poly)
            c = cache[key]
            out[name] = c[-1] - c if l < 0 else c

        import pandas as pd

        return pd.DataFrame(out)

    return fn


# ------------------------------------------------------------------ trees

_MAX_DEPTH = 5
_MAX_BINS = 32


class _Tree(NamedTuple):
    """A fitted binary tree as flat arrays, root at 0. A row goes left
    when ``x[feature] <= threshold``; a leaf has ``feature == -1``."""

    feature: np.ndarray
    threshold: np.ndarray
    left: np.ndarray
    right: np.ndarray
    prediction: np.ndarray

    def predict(self, X: np.ndarray) -> np.ndarray:
        node = np.zeros(len(X), dtype=np.int64)
        rows = np.arange(len(X))
        while True:
            f = self.feature[node]
            inner = f >= 0
            if not inner.any():
                return self.prediction[node]
            x = X[rows, np.where(inner, f, 0)]
            nxt = np.where(x <= self.threshold[node], self.left[node], self.right[node])
            node = np.where(inner, nxt, node)

    def rules(self, names: list[str]) -> list[str]:
        """If/Else rules, one line per node, indented by depth."""
        lines: list[str] = []

        def walk(i, ind):
            if self.feature[i] < 0:
                lines.append(f"{ind}Predict: {self.prediction[i]:.1f}")
                return
            name, t = names[self.feature[i]], self.threshold[i]
            lines.append(f"{ind}If ({name} <= {t!r})")
            walk(self.left[i], ind + " ")
            lines.append(f"{ind}Else ({name} > {t!r})")
            walk(self.right[i], ind + " ")

        walk(0, "  ")
        return lines


def _split_thresholds(x: np.ndarray, n_splits: int) -> np.ndarray:
    """MLlib's continuous split candidates for one feature over all
    rows (RandomForest.findSplitsForContinuousFeature): with at most
    ``n_splits`` candidates, the midpoints of adjacent distinct values;
    above that, the value-count stride rule."""
    vals, counts = np.unique(np.where(x == 0.0, 0.0, x), return_counts=True)
    if len(vals) - 1 <= n_splits:
        return (vals[:-1] + vals[1:]) / 2.0
    stride = len(x) / (n_splits + 1)
    out = []
    current, target = float(counts[0]), stride
    for i in range(1, len(vals)):
        previous = current
        current += counts[i]
        if abs(previous - target) < abs(current - target):
            out.append((vals[i - 1] + vals[i]) / 2.0)
            target += stride
    return np.array(out)


def _gini(c0, c1):
    # an empty side (t == 0) gives NaN; such splits are invalid anyway
    t = c0 + c1
    with np.errstate(divide="ignore", invalid="ignore"):
        f0, f1 = c0 / t, c1 / t
        return 1.0 - f0 * f0 - f1 * f1


def _fit_tree(X: np.ndarray, y: np.ndarray, min_instances: int) -> tuple[_Tree, np.ndarray]:
    """Grow one gini tree the way MLlib's ``DecisionTreeClassifier``
    does as the Selector calls it (maxDepth 5, maxBins 32, minInfoGain
    0): thresholds from :func:`_split_thresholds`, ``x <= threshold``
    left, ``min_instances`` rows required in each child, the first
    best split by feature then threshold, a leaf at gain <= 0 or depth
    5 predicting the majority class (ties to 0), sibling leaves with
    equal predictions pruned. Returns the tree and its feature
    importances (gain x rows per feature, normalised to sum to 1)."""
    n, n_feat = X.shape
    if n == 0:
        raise ValueError("empty tree sample: raise samples_percent")
    n_splits = min(_MAX_BINS, n) - 1
    thresholds = [_split_thresholds(X[:, f], n_splits) for f in range(n_feat)]
    # bin b of feature f holds the rows with threshold[b-1] < x <=
    # threshold[b]; offsets lay every feature's bins out in one flat
    # histogram, and split s of f is the cumulative count up to bin s
    nbins = np.array([len(t) + 1 for t in thresholds], dtype=np.int64)
    offset = np.cumsum(nbins) - nbins
    binned = np.empty((n, n_feat), dtype=np.int64)
    for f, t in enumerate(thresholds):
        binned[:, f] = np.searchsorted(t, X[:, f], side="left") + offset[f]
    n_bins = int(nbins.sum())
    is_split = np.ones(n_bins, dtype=bool)
    is_split[offset + nbins - 1] = False  # a feature's last bin splits nothing
    cand_bin = np.flatnonzero(is_split)  # MLlib's search order: feature, then split
    cand_f = np.repeat(np.arange(n_feat), nbins - 1)
    seg_start = np.repeat(offset, nbins)
    y1 = y.astype(np.int64)
    importance = np.zeros(n_feat)

    def grow(rows, depth):
        """A leaf's prediction, or (f, threshold, gain, rows, left, right)."""
        c1 = int(y1[rows].sum())
        c0 = len(rows) - c1
        pred = 0.0 if c0 >= c1 else 1.0
        if depth == _MAX_DEPTH or len(cand_f) == 0:
            return pred
        b = binned[rows].ravel()
        tot = np.bincount(b, minlength=n_bins).cumsum()
        pos = np.bincount(b[np.repeat(y1[rows], n_feat) == 1], minlength=n_bins).cumsum()
        # cumulative counts within each feature's bins
        lt = (tot - np.concatenate([[0], tot])[seg_start])[cand_bin].astype(float)
        l1 = (pos - np.concatenate([[0], pos])[seg_start])[cand_bin].astype(float)
        l0 = lt - l1
        t = float(len(rows))
        r0, r1 = c0 - l0, c1 - l1
        rt = r0 + r1
        gain = _gini(float(c0), float(c1)) - (lt / t) * _gini(l0, l1) - (rt / t) * _gini(r0, r1)
        gain[(lt < min_instances) | (rt < min_instances)] = -np.inf
        best = int(np.argmax(gain))
        if not gain[best] > 0:
            return pred
        f = int(cand_f[best])
        thr = float(thresholds[f][cand_bin[best] - offset[f]])
        go_left = X[rows, f] <= thr
        left = grow(rows[go_left], depth + 1)
        right = grow(rows[~go_left], depth + 1)
        if isinstance(left, float) and left == right:
            return left
        return (f, thr, float(gain[best]), t, left, right)

    nodes: list[list] = []  # per node: feature, threshold, left, right, prediction

    def flatten(node):
        i = len(nodes)
        if isinstance(node, float):
            nodes.append([-1, 0.0, -1, -1, node])
            return i
        f, thr, gain, count, left, right = node
        importance[f] += gain * count
        nodes.append([f, thr, -1, -1, 0.0])
        nodes[i][2] = flatten(left)
        nodes[i][3] = flatten(right)
        return i

    flatten(grow(np.arange(n), 0))
    if importance.sum() > 0:
        # MLlib normalises per tree, then the ensemble of one
        importance /= importance.sum()
        importance /= importance.sum()
    tree = _Tree(*(np.array(column) for column in zip(*nodes)))
    return tree, importance


class Selector:
    """Instant detector over a :class:`SignalSet`.

    Parameters mirror the reference defaults (instants.py:173-181).
    """

    def __init__(self, sset: SignalSet, seed: int = 42):
        self.sset = sset
        self.selected: dict[str, int] = {}  # record_name -> instant seq
        self.variables: set[str] = set()
        self.computed: dict[str, int] = {}
        self.idcodes: list[tuple] = []
        self.seed = seed
        self._dsi: DataFrame | None = None
        self._dsi_key: tuple | None = None
        self._grid_codes: list[tuple] = []
        self._n_labeled_rows = 0
        self._kept_names: list[str] = []
        self._model: _Tree | None = None
        self.learn_params = dict(
            retry_number=10,
            retry_percentile=80,
            samples_percent=0.01,
            min_samples_split=0.05,
        )
        self.feature_params = dict(range_width=None, range_sigma=range(5, 26, 10), max_order=2)
        self.predict_params = dict(filter_width=100)

    # ----------------------------------------------------------- helpers

    def _labeled(self) -> SignalSet:
        return self.sset.subset(sorted(self.selected))

    def _instants_df(self, mapping: dict[str, int]) -> DataFrame:
        spark = self.sset.df.sparkSession
        return spark.createDataFrame(
            [(k, int(v)) for k, v in sorted(mapping.items())],
            "record_id string, instant long",
        )

    @property
    def _deg_poly(self) -> int:
        # instants.py:257: deg_poly = max(2, max_order)
        return max(2, self.feature_params["max_order"])

    # ----------------------------------------------------------- epsilon

    def estimate_epsilon(self) -> dict[tuple, float]:
        """Noise scales per (width, order, variable): the max over
        labeled records of std(SG(y) - SG(SG(y))) — reference
        instants.py:269-295 verbatim semantics, run as one grouped
        aggregation pass instead of a per-record Python loop.
        """
        colnames = sorted(self.variables)
        range_width = self.feature_params["range_width"]
        max_order = self.feature_params["max_order"]
        deg = self._deg_poly
        widths = [2 * l + 1 for l in range_width]

        schema = T.StructType(
            [
                T.StructField("record_id", T.StringType()),
                T.StructField("w", T.IntegerType()),
                T.StructField("d", T.IntegerType()),
                T.StructField("colname", T.StringType()),
                T.StructField("r", T.DoubleType()),
            ]
        )

        def fn(pdf):
            import pandas as pd

            pdf = pdf.sort_values("seq")
            rid = pdf["record_id"].iloc[0]
            rows = []
            for colname in colnames:
                y = pdf[colname].to_numpy(dtype=float)
                for w in widths:
                    for d in range(max_order):
                        b = savgol_filter_np(y, w, deg, deriv=d + 1)
                        c = savgol_filter_np(b, 2 * w + 1, deg, deriv=d + 1)
                        rows.append((rid, w, d, colname, float(np.std(b - c))))
            return pd.DataFrame(rows, columns=["record_id", "w", "d", "colname", "r"])

        labeled = self._labeled().df.select("record_id", "seq", *colnames)
        agg = (
            labeled.groupBy("record_id")
            .applyInPandas(fn, schema)
            .groupBy("w", "d", "colname")
            .agg(F.max("r").alias("eps"))
            .collect()
        )
        return {(r["w"], r["d"], r["colname"]): r["eps"] for r in agg}

    # ----------------------------------------------------- make_indicators

    def make_indicators(self, path: str | None = None) -> DataFrame:
        """Materialize the indicator feature grid for labeled records
        (reference make_indicators, instants.py:211-360).

        Grid: variable × half-width × derivative-order × sigma-multiple
        × sign, plus the reversed variant — gated by the label-position
        quantiles Qmin<0.65 / Qmax>0.35 (instants.py:334,341). Returns
        (and caches) the wide indicator DataFrame; writes Parquet when
        ``path`` given (the reference's ``_I`` store)."""
        if not self.selected:
            raise ValueError("nothing to learn: no selected instants")
        colnames = sorted(self.variables)

        labeled = self._labeled()
        lengths = {r["record_id"]: r["n"] for r in labeled.record_lengths().collect()}
        Q = np.array([self.selected[k] / lengths[k] for k in sorted(self.selected)])
        qmin, qmax = Q.min(), Q.max()

        if self.feature_params["range_width"] is None:
            # instants.py:254-256 default width heuristic
            L0 = max(10, int(math.floor(min(lengths.values()) / 100)))
            self.feature_params["range_width"] = range(L0, 10 * L0 + 1, L0)

        eps_map = self.estimate_epsilon()

        idcodes: dict[str, tuple] = {}
        for nm, code in zip(["LEN[pts]", "REV[pts]", "PERCENT[%]"], POSITION_CODES):
            idcodes[nm] = code
        for colname in colnames:
            idcodes[colname] = (colname, 0, 0, 0, 0.0)
            for l in self.feature_params["range_width"]:
                w = 2 * l + 1
                for d in range(self.feature_params["max_order"]):
                    eps = eps_map[(w, d, colname)]
                    for s in self.feature_params["range_sigma"]:
                        for e in (1, -1):
                            if qmin < 0.65:
                                idcodes[_code_name(colname, l, d, e * s, True)] = (
                                    colname,
                                    l,
                                    d,
                                    e * s,
                                    eps,
                                )
                            if qmax > 0.35:
                                idcodes[_code_name(colname, l, d, e * s, False)] = (
                                    colname,
                                    -l,
                                    d,
                                    e * s,
                                    eps,
                                )

        struct_cols = ["record_id", "seq"]
        base = labeled.df.select(*struct_cols, *colnames)
        schema = T.StructType(
            [base.schema[c] for c in struct_cols]
            + [T.StructField(nm, T.DoubleType()) for nm in idcodes]
        )
        if self._dsi is not None:
            # release the previous grid first: caching an identical
            # plan would share its cache entry, and unpersisting the
            # old frame afterwards would drop the new one's too
            self._dsi.unpersist()
        fn = _indicator_frame_fn(idcodes, self._deg_poly, struct_cols)
        dsi = base.groupBy("record_id").applyInPandas(fn, schema)
        if path:
            dsi.write.partitionBy("record_id").mode("overwrite").parquet(path)
            dsi = base.sparkSession.read.parquet(path)
        else:
            dsi = dsi.cache()
        self._n_labeled_rows = sum(lengths.values())
        self.idcodes = list(idcodes.values())
        self._grid_codes = list(idcodes.values())
        self._dsi = dsi
        self._dsi_key = (tuple(sorted(self.variables)), tuple(sorted(self.selected.items())))
        return dsi

    # ---------------------------------------------------------------- fit

    def fit(self) -> "Selector":
        """Reference fit (instants.py:363-466): retry_number sampled
        trees accumulate feature importances; percentile-prune; refit
        on kept columns until every feature is used. Each tree costs
        one Spark job, collecting its row sample of the cached grid;
        the tree itself is grown on the driver (:func:`_fit_tree`)."""
        key = (tuple(sorted(self.variables)), tuple(sorted(self.selected.items())))
        if self._dsi is None or self._dsi_key != key:
            self.make_indicators()
        dsi = self._dsi
        all_codes = list(self._grid_codes)
        feat_names = [c for c in dsi.columns if c not in ("record_id", "seq")]

        p = self.learn_params["samples_percent"]
        split_frac = self.learn_params["min_samples_split"]
        rn = self.learn_params["retry_number"]

        def fit_tree(fraction: float, cols: list[str], seed: int):
            pdf = (
                dsi.sample(withReplacement=True, fraction=fraction, seed=seed)
                .select("record_id", "seq", *cols)
                .toPandas()
            )
            # instants.py:390: y = 1 - 2*(pos <= ind), here as {0, 1}
            instant = pdf["record_id"].map(self.selected).to_numpy()
            y = (pdf["seq"].to_numpy() > instant).astype(np.int64)
            n_sample = max(int(self._n_labeled_rows * fraction), 1)
            # sklearn min_samples_split=frac gates node *splits* at
            # ceil(frac*n); here each child needs half that many rows
            min_rows = max(1, int(math.ceil(split_frac * n_sample / 2)))
            return _fit_tree(pdf[cols].to_numpy(dtype=float), y, min_rows)

        fi = np.zeros(len(feat_names))
        for k in range(rn):
            _, fik = fit_tree(p, feat_names, self.seed + k)
            fi += fik

        seuil = np.percentile(fi, self.learn_params["retry_percentile"])
        keep = [i for i in range(len(feat_names)) if fi[i] > seuil]
        p1 = min(0.5, p * rn)
        while True:
            if not keep:
                raise ValueError(
                    "the trees found no split: label more records or raise samples_percent"
                )
            model, fi2 = fit_tree(p1, [feat_names[i] for i in keep], self.seed + rn)
            if np.all(fi2 > 0):
                break
            keep = [keep[i] for i in range(len(keep)) if fi2[i] > 0]

        self._kept_names = [feat_names[i] for i in keep]
        self.idcodes = [all_codes[i] for i in keep]
        self._model = model
        self.computed = {}
        return self

    def describe(self) -> str:
        """Reference describe (instants.py:471-480): retained codes +
        tree rules."""
        if self._model is None:
            return "Nothing yet!"
        lines = ["Feature (Name, Filter, Order, Sigma, Std):"]
        for i, c in enumerate(self.idcodes):
            lines.append(f"  {i}: {c}")
        lines.append(f"Decision tree, {len(self._model.feature)} nodes:")
        lines.extend(self._model.rules(self._kept_names))
        return "\n".join(lines)

    # -------------------------------------------------------------- belief

    def belief_frame(self, df: DataFrame | None = None) -> DataFrame:
        """Per-row belief for every record at once (reference belief,
        instants.py:483-549, set-oriented), one grouped pass per
        record: recompute retained indicators → tree vote ±1 → SG
        first-derivative smooth → clip ≥ 0 → normalize (Z == 0 → 1).
        Returns (record_id, seq, p)."""
        if self._model is None:
            raise ValueError("fit() first")
        data = df if df is not None else self.sset.df
        colnames = sorted(
            {c[0] for c in self.idcodes} - {"LEN", "REV", "PERCENT"}
        )
        idcodes = dict(zip(self._kept_names, self.idcodes))
        features = _indicator_frame_fn(idcodes, self._deg_poly, [])
        tree = self._model
        width = 2 * self.predict_params["filter_width"] + 1

        def fn(pdf):
            import pandas as pd

            pdf = pdf.sort_values("seq")
            vote = tree.predict(features(pdf).to_numpy(dtype=float)) * 2 - 1
            p = np.maximum(savgol_filter_np(vote, width, 2, deriv=1), 0.0)
            z = p.sum()
            return pd.DataFrame(
                {
                    "record_id": pdf["record_id"].to_numpy(),
                    "seq": pdf["seq"].to_numpy(),
                    "p": p / (z if z != 0.0 else 1.0),
                }
            )

        base = data.select("record_id", "seq", *colnames)
        return base.groupBy("record_id").applyInPandas(
            fn, "record_id string, seq long, p double"
        )

    def record_belief(self, name: str) -> DataFrame:
        """One record's belief curve, (record_id, seq, p) in seq order:
        the record's rows are filtered BEFORE the grouped pass, so only
        that record is scored."""
        rows = self.sset.df.filter(F.col("record_id") == name)
        return self.belief_frame(rows).orderBy("seq")

    def predict_df(self, df: DataFrame | None = None) -> DataFrame:
        """Predicted instant per record as a DataFrame — the
        COLLECT-FREE path (instants.py:546-547,552-580): one
        aggregation with ``max_by`` on (p, -seq), ties resolving to
        the first row like np.argmax. At scale this is what the
        derived-set slicers consume; nothing crosses the driver."""
        return self.belief_frame(df).groupBy("record_id").agg(
            F.expr("max_by(seq, struct(p, -seq))").alias("seq")
        )

    def predict(self, df: DataFrame | None = None) -> dict[str, int]:
        """Dict form of :meth:`predict_df` (the reference's in-memory
        ``computed`` surface) — collects ONE row per record; use
        predict_df() when the result feeds another frame."""
        rows = self.predict_df(df).collect()
        out = {r["record_id"]: int(r["seq"]) for r in rows}
        if df is None:
            self.computed = out
        return out

    def computed_df(self) -> DataFrame:
        """Instants frame for the slicers: collect-free unless a
        driver-side ``computed`` dict already exists (then it is the
        source of truth — e.g. loaded from persistence)."""
        if self.computed:
            return self._instants_df(self.computed).withColumnRenamed(
                "instant", "seq"
            )
        return self.predict_df()

    # ------------------------------------------------------------- slicing

    def left(self, path: str | None = None) -> SignalSet:
        """Rows before the predicted instant per record — the ``L``
        derived set (instants.py:583-607)."""
        from tabata_spark.operators.slicing import left_of

        out = left_of(self.sset.df, self.computed_df())
        ss = SignalSet(out, phase=self.sset.phase)
        return ss.save(path) if path else ss

    def right(self, path: str | None = None) -> SignalSet:
        """Rows from the predicted instant on — ``R`` (instants.py:610-630)."""
        from tabata_spark.operators.slicing import right_of

        out = right_of(self.sset.df, self.computed_df())
        ss = SignalSet(out, phase=self.sset.phase)
        return ss.save(path) if path else ss

    def between(self, L: dict[str, int], R: dict[str, int], path: str | None = None) -> SignalSet:
        """Rows in [L, R) per record — ``B`` (instants.py:633-652)."""
        from tabata_spark.operators.slicing import between

        lo = self._instants_df(L).withColumnRenamed("instant", "seq")
        hi = self._instants_df(R).withColumnRenamed("instant", "seq")
        out = between(self.sset.df, lo, hi)
        ss = SignalSet(out, phase=self.sset.phase)
        return ss.save(path) if path else ss

    # -------------------------------------------------------------- scores

    def all_scores(self) -> dict[str, int]:
        """computed - selected per labeled record (instants.py:655-670)."""
        if self._model is None:
            return {}
        if not all(k in self.computed for k in self.selected):
            self.predict()
        return {k: self.computed[k] - v for k, v in self.selected.items()}

    def score(self) -> float:
        """Max absolute detection error (instants.py:673-680)."""
        if self._model is None:
            return float("nan")
        s = self.all_scores()
        return float(max(abs(v) for v in s.values())) if s else float("nan")


# ------------------------------------------------------------ persistence


def save_selector(sel: Selector, path: str) -> None:
    """Persist learned state as JSON: labels, params, idcodes and the
    fitted tree's arrays (reference uses pickle, instants_doc cell 74)."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    state = {
        "selected": sel.selected,
        "variables": sorted(sel.variables),
        "computed": sel.computed,
        "idcodes": [list(c) for c in sel.idcodes],
        "kept_names": sel._kept_names,
        "learn_params": sel.learn_params,
        "feature_params": {
            k: (list(v) if isinstance(v, range) else v)
            for k, v in sel.feature_params.items()
        },
        "predict_params": sel.predict_params,
        "seed": sel.seed,
        "tree": None if sel._model is None else {
            k: v.tolist() for k, v in sel._model._asdict().items()
        },
    }
    with open(os.path.join(path, "selector.json"), "w") as f:
        json.dump(state, f, indent=1)


def load_selector(sset: SignalSet, path: str) -> Selector:
    import json
    import os

    with open(os.path.join(path, "selector.json")) as f:
        state = json.load(f)
    if state.get("tree") is None and os.path.exists(os.path.join(path, "tree_model")):
        raise ValueError(
            f"{path} holds an MLlib tree_model/ from an older version; "
            "refit the Selector and save it again"
        )
    sel = Selector(sset, seed=state["seed"])
    sel.selected = {k: int(v) for k, v in state["selected"].items()}
    sel.variables = set(state["variables"])
    sel.computed = {k: int(v) for k, v in state["computed"].items()}
    sel.idcodes = [tuple(c) for c in state["idcodes"]]
    sel._kept_names = state["kept_names"]
    sel.learn_params = state["learn_params"]
    sel.feature_params = state["feature_params"]
    sel.predict_params = state["predict_params"]
    if state.get("tree") is not None:
        sel._model = _Tree(**{k: np.array(v) for k, v in state["tree"].items()})
    return sel
