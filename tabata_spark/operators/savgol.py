"""Savitzky-Golay filtering — reference W5, the workhorse window op.

The reference calls ``scipy.signal.savgol_filter(y, width, deg,
deriv)`` everywhere (instants.py:76 indicator smoothing, 284-291 noise
estimation, 534-537 belief smoothing; tubes.py:344-351 tube
smoothing). SG filtering is a linear FIR: the smoothed/derived value is
a fixed dot product of the surrounding window, with the coefficients
given by a least-squares polynomial fit. The *edges* under scipy's
default ``mode='interp'`` are another fixed linear map of the
first/last ``width`` samples (a polynomial fit to the edge window
evaluated at the edge positions).

No scipy in this environment: coefficients are derived here from first
principles (pinv of the Vandermonde design matrix), and
``savgol_filter_np`` is the numpy kernel replicating scipy's
``mode='interp'`` semantics.

One execution path: ``savgol`` runs ``savgol_filter_np`` per record in
an Arrow-batched grouped-map pass (``_per_record``, shared with the
indicator operators). A kernel call on the direct output of another
extends that pass instead of planning a second one, so a chain such as
``savgol -> indicator_col -> reversed_indicator`` is one grouped map
behind one exchange. A lag/lead SQL formulation with a broadcast edge
map was measured slower at every shape tried and deleted (SCALE.md
rule 4).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import lru_cache, partial
from math import factorial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T


# ---------------------------------------------------------------- design


@lru_cache(maxsize=256)
def savgol_coeffs(width: int, polyorder: int, deriv: int = 0, delta: float = 1.0) -> tuple:
    """FIR taps c such that out[i] = sum_k c[k] * y[i - h + k].

    Least-squares fit of a degree-``polyorder`` polynomial on the
    centered window, evaluated (``deriv``-th derivative) at the center.
    Matches scipy.signal.savgol_coeffs(..., use='dot') for odd widths.
    """
    if width % 2 != 1:
        raise ValueError("width must be odd")
    if polyorder >= width:
        raise ValueError("polyorder must be < width")
    h = width // 2
    x = np.arange(-h, h + 1, dtype=float)
    # V[k, j] = x_k^j ; fitted poly coeffs a = pinv(V) @ y
    V = np.vander(x, polyorder + 1, increasing=True)
    pinv = np.linalg.pinv(V)
    c = pinv[deriv] * factorial(deriv) / (delta**deriv)
    return tuple(c)


@lru_cache(maxsize=256)
def savgol_edge_matrix(
    width: int, polyorder: int, deriv: int = 0, delta: float = 1.0
) -> tuple:
    """Head-edge linear map E (h x width): out[j] = E[j] @ y[:width].

    scipy ``mode='interp'``: fit one polynomial to the first ``width``
    samples, evaluate its ``deriv``-th derivative at positions
    0..h-1. The tail edge is the same map under reversal with sign
    (-1)^deriv (odd derivatives flip under coordinate reversal).
    Returned as a tuple of row-tuples for hashability.
    """
    h = width // 2
    x = np.arange(width, dtype=float)
    V = np.vander(x, polyorder + 1, increasing=True)
    pinv = np.linalg.pinv(V)  # y -> poly coeffs a_j
    # derivative evaluation row at position p: sum_j a_j * d^deriv/dx^deriv x^j |_p
    rows = []
    for p in range(h):
        ev = np.zeros(polyorder + 1)
        for j in range(deriv, polyorder + 1):
            ev[j] = (factorial(j) / factorial(j - deriv)) * (float(p) ** (j - deriv))
        rows.append(tuple((ev @ pinv) / (delta**deriv)))
    return tuple(rows)


def savgol_filter_np(
    y: np.ndarray, width: int, polyorder: int, deriv: int = 0, delta: float = 1.0
) -> np.ndarray:
    """Numpy kernel (scipy savgol_filter parity, mode='interp'); what
    ``savgol`` runs per record."""
    y = np.asarray(y, dtype=float)
    n = len(y)
    if n < width:
        # degenerate record: single global polynomial fit (scipy raises;
        # we degrade gracefully — fit to whole record)
        x = np.arange(n, dtype=float)
        order = min(polyorder, max(n - 1, 0))
        V = np.vander(x, order + 1, increasing=True)
        a = np.linalg.pinv(V) @ y
        out = np.zeros(n)
        for j in range(deriv, order + 1):
            out += a[j] * (factorial(j) / factorial(j - deriv)) * x ** (j - deriv)
        return out / (delta**deriv)
    h = width // 2
    c = np.array(savgol_coeffs(width, polyorder, deriv, delta))
    # interior: correlation (flip for np.convolve's kernel reversal)
    full = np.convolve(y, c[::-1], mode="same")
    out = full.copy()
    E = np.array(savgol_edge_matrix(width, polyorder, deriv, delta))
    if h > 0:
        out[:h] = E @ y[:width]
        out[-h:] = ((-1.0) ** deriv) * (E @ y[-width:][::-1])[::-1]
    return out


# ------------------------------------------------------------ per record


def _per_record(
    df: DataFrame, kernels: list[tuple[str, str, Callable[[np.ndarray], np.ndarray]]]
) -> DataFrame:
    """One Arrow grouped-map pass: for each record (rows sorted by
    ``seq``) and each ``(col, out, kernel)``, ``out = kernel(col)``.

    An existing column named ``out`` is replaced in place (same
    position, now double); any other ``out`` is appended. Every
    kernel of one call reads that call's input columns, so many
    outputs cost one exchange. On the uncached direct output of
    another ``_per_record`` call, the kernels run as one more stage of
    that call's pass, reading its outputs: a chain of calls plans one
    grouped map, not one pass and one exchange per call."""
    fields = {f.name: f for f in df.schema}
    for _, out, _ in kernels:
        fields[out] = T.StructField(out, T.DoubleType())
    schema = T.StructType(list(fields.values()))
    source, stages = vars(df).get("_record_stages", (df, []))
    if df.is_cached:  # the caller kept this output: read it, do not redo it
        source, stages = df, []
    stages = [*stages, kernels]

    def fn(pdf):
        pdf = pdf.sort_values("seq", ignore_index=True)
        for stage in stages:
            pdf = pdf.assign(
                **{out: kernel(pdf[col].to_numpy(dtype=float)) for col, out, kernel in stage}
            )
        return pdf

    out = source.groupBy("record_id").applyInPandas(fn, schema)
    out._record_stages = (source, stages)
    return out


def savgol(
    df: DataFrame,
    col: str | Sequence[str],
    out: str | Sequence[str],
    width: int,
    polyorder: int = 2,
    deriv: int = 0,
    delta: float = 1.0,
) -> DataFrame:
    """SG filter of ``col`` into ``out`` within each record, in one
    Arrow pass. ``col`` and ``out`` may be equal-length sequences to
    filter several columns in that same pass; ``out`` may name an
    existing column (it is replaced)."""
    savgol_coeffs(width, polyorder, deriv, delta)  # bad width/order fail here
    cols = [col] if isinstance(col, str) else list(col)
    outs = [out] if isinstance(out, str) else list(out)
    kernel = partial(
        savgol_filter_np, width=width, polyorder=polyorder, deriv=deriv, delta=delta
    )
    return _per_record(df, [(c, o, kernel) for c, o in zip(cols, outs, strict=True)])
