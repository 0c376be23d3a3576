import numpy as np
import pytest
from pyspark.sql import functions as F

from tabata_spark.operators.savgol import savgol, savgol_coeffs, savgol_filter_np


def _poly(n, coefs):
    x = np.arange(n, dtype=float)
    return sum(c * x**j for j, c in enumerate(coefs))


@pytest.mark.parametrize("width,order", [(5, 2), (11, 2), (21, 3), (9, 4)])
def test_np_reproduces_polynomials_exactly(width, order):
    """An SG filter of polyorder p reproduces any degree<=p polynomial
    exactly — including the interp edges. Derivatives are analytic."""
    coefs = [3.0, -2.0, 0.5][: order + 1]
    y = _poly(200, coefs)
    out0 = savgol_filter_np(y, width, order, deriv=0)
    np.testing.assert_allclose(out0, y, atol=1e-7)
    out1 = savgol_filter_np(y, width, order, deriv=1)
    want1 = np.zeros(200)
    for j, c in enumerate(coefs):
        if j >= 1:
            want1 += j * c * np.arange(200.0) ** (j - 1)
    np.testing.assert_allclose(out1, want1, atol=1e-6)


def test_np_smooths_noise():
    rng = np.random.default_rng(0)
    y = np.sin(np.linspace(0, 6, 500)) + rng.normal(0, 0.3, 500)
    sm = savgol_filter_np(y, 31, 2, 0)
    # smoother than input: residual to clean signal shrinks
    clean = np.sin(np.linspace(0, 6, 500))
    assert np.std(sm - clean) < 0.5 * np.std(y - clean)


def test_coeffs_symmetry_and_sum():
    c = np.array(savgol_coeffs(11, 2, 0))
    np.testing.assert_allclose(c, c[::-1], atol=1e-12)  # smoothing taps symmetric
    np.testing.assert_allclose(c.sum(), 1.0, atol=1e-12)  # preserves constants
    c1 = np.array(savgol_coeffs(11, 2, 1))
    np.testing.assert_allclose(c1, -c1[::-1], atol=1e-12)  # deriv taps antisymmetric
    np.testing.assert_allclose(c1.sum(), 0.0, atol=1e-12)


def test_delta_scaling():
    y = _poly(100, [0.0, 2.0])  # slope 2 per sample
    out = savgol_filter_np(y, 11, 2, deriv=1, delta=0.5)  # 0.5s per sample -> 4/s
    np.testing.assert_allclose(out, 4.0, atol=1e-8)


def test_short_record_global_fit():
    y = _poly(7, [1.0, 2.0])  # shorter than width
    out = savgol_filter_np(y, 21, 2, 0)
    np.testing.assert_allclose(out, y, atol=1e-8)


def _lengths_frame(spark, width, long=300, seed=0):
    """One record per edge-case length: 1, 2, width-1, width, long."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    ys = {
        f"n{n}": np.cumsum(rng.normal(0, 1, n)) for n in (1, 2, width - 1, width, long)
    }
    rows = [(rid, i, float(v), float(-v)) for rid, y in ys.items() for i, v in enumerate(y)]
    pdf = pd.DataFrame(rows, columns=["record_id", "seq", "y", "v"])
    # shuffled rows: the operator must order each record by seq itself
    return spark.createDataFrame(pdf.sample(frac=1.0, random_state=seed)), ys


def _per_record_values(df, cols):
    pdf = df.toPandas().sort_values(["record_id", "seq"])
    return {rid: g[cols].to_numpy(dtype=float) for rid, g in pdf.groupby("record_id")}


@pytest.mark.parametrize(
    "width,order,deriv", [(11, 2, 0), (11, 2, 1), (21, 3, 2), (9, 4, 0), (9, 4, 1)]
)
def test_native_matches_np(spark, sset, flights, width, order, deriv):
    """``savgol`` equals the numpy kernel on every record length —
    short records (n < width) get the kernel's global polynomial fit,
    at every order, never nulls."""
    df, ys = _lengths_frame(spark, width)
    got = _per_record_values(savgol(df, "y", "sg", width, order, deriv), ["sg"])
    assert set(got) == set(ys)
    for rid, y in ys.items():
        np.testing.assert_allclose(
            got[rid][:, 0], savgol_filter_np(y, width, order, deriv), rtol=1e-9, atol=1e-9
        )
    # and on the flight fixture (normal + short record)
    df = savgol(sset.df, "ALT[m]", "sg", width, order, deriv)
    for name in [sset.records[0], sset.records[4]]:
        got = (
            df.filter(F.col("record_id") == name)
            .orderBy("seq")
            .select("sg")
            .toPandas()["sg"]
            .to_numpy()
        )
        want = savgol_filter_np(flights[name]["ALT[m]"].to_numpy(), width, order, deriv)
        np.testing.assert_allclose(got.astype(float), want, rtol=1e-9, atol=1e-9)


def test_apply_matches_np(spark):
    """Several columns in one pass, one of them replaced in place; the
    output keeps the input's column order."""
    width = 11
    df, ys = _lengths_frame(spark, width, seed=1)
    for order in (2, 4):
        out = savgol(df, ["y", "v"], ["sg", "v"], width, order, 1)
        assert out.columns == ["record_id", "seq", "y", "v", "sg"]
        got = _per_record_values(out, ["sg", "v"])
        for rid, y in ys.items():
            for j, sign in ((0, 1.0), (1, -1.0)):
                np.testing.assert_allclose(
                    got[rid][:, j],
                    savgol_filter_np(sign * y, width, order, 1),
                    rtol=1e-9,
                    atol=1e-9,
                )


def test_savgol_rejects_even_width(spark, sset):
    with pytest.raises(ValueError):
        savgol(sset.df, "ALT[m]", "sg", 10)
