"""Bump/valley-counting indicator — reference W6/W7 (instants.py:45-93).

The reference replaces a signal with an indicator giving, at each
instant, the position between successive bumps/valleys: SG-filter the
signal to a derivative, threshold it at ±sigma, find the threshold
crossings, then per segment emit a linear ramp from the segment's base
to base+1, with the base incrementing by one per segment (the first
base is 0 if the first crossing is rising, else 1; a record with no
crossing is all zeros).

``indicator_np = segment_ramp_np(savgol_filter_np(...))`` are the numpy
kernels. ``indicator_col`` and ``segment_ramp`` run them per record in
one Arrow grouped-map pass each (the savgol module's ``_per_record``);
``reversed_indicator`` is one native window.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ``savgol`` is re-exported: callers reach it as ``indicator.savgol``
from tabata_spark.operators.savgol import _per_record, savgol, savgol_filter_np  # noqa: F401


def segment_ramp_np(x: np.ndarray, sigma: float) -> np.ndarray:
    """Threshold-crossing segmentation + per-segment linspace ramp of an
    already-filtered signal (instants.py:82-93).

    A crossing between rows r and r+1 (diff index r) starts a segment at
    row r; segment j ramps from base+j to base+j+1 over its rows."""
    x = np.asarray(x, dtype=float)
    b = x > sigma if sigma > 0 else x < sigma
    dp = np.diff(b.astype(int))
    k = np.flatnonzero(dp)
    n = len(x)
    if not len(k):
        return np.zeros(n)
    base = 1.0 - float(dp[k[0]] == 1)
    r = np.arange(n)
    seg = np.searchsorted(k, r, side="right")
    start = np.concatenate(([0], k))[seg]
    m = np.concatenate((k, [n]))[seg] - start
    ramp = np.where(m > 1, (r - start) / np.maximum(m - 1, 1), 0.0)
    return base + seg + ramp


def indicator_np(
    y: np.ndarray, width: int, order: int, sigma: float, deg: int = 2
) -> np.ndarray:
    """The reference's indicator (instants.py:45-93) on our scipy-free
    SG kernel."""
    return segment_ramp_np(savgol_filter_np(y, width, deg, deriv=order), sigma)


def segment_ramp(df: DataFrame, filtered: str, sigma: float, out: str) -> DataFrame:
    """``segment_ramp_np`` of an already-filtered column, per record."""
    return _per_record(df, [(filtered, out, partial(segment_ramp_np, sigma=sigma))])


def indicator_col(
    df: DataFrame,
    col: str,
    out: str,
    width: int,
    order: int,
    sigma: float,
    deg: int = 2,
) -> DataFrame:
    """Full indicator: SG-derivative + segmentation ramp in one pass
    (reference ``indicator``, instants.py:45-93)."""
    kernel = partial(indicator_np, width=width, order=order, sigma=sigma, deg=deg)
    return _per_record(df, [(col, out, kernel)])


def reversed_indicator(df: DataFrame, col: str, out: str) -> DataFrame:
    """W7: distance from the final count, ``c[-1] - c``
    (instants.py:343,528-529)."""
    frame = (
        Window.partitionBy("record_id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    c = F.col(f"`{col}`")
    return df.withColumn(out, F.last(c).over(frame) - c)
