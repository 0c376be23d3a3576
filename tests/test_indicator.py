import numpy as np
import pytest
from pyspark.sql import functions as F

from tabata_spark.operators.indicator import (
    indicator_col,
    indicator_np,
    reversed_indicator,
    segment_ramp,
)


def test_indicator_np_hand_trace():
    # b over a ramp crossing sigma once: rising crossing -> base 0
    y = np.array([0.0, 0, 0, 10, 10, 10], dtype=float)
    # width 5, order 1 (first derivative), sigma small positive
    z = indicator_np(y, 5, 1, 0.5)
    # monotone nondecreasing, starts at 0-base segment
    assert z[0] >= 0
    assert np.all(np.diff(z) >= -1e-12)


def test_indicator_np_no_crossing_is_zero():
    y = np.zeros(50)
    z = indicator_np(y, 11, 1, 5.0)
    np.testing.assert_array_equal(z, np.zeros(50))


def test_indicator_np_linspace_semantics():
    # bypass SG by checking the ramp logic through a direct diff trace
    # two segments [0,3) and [3,6): bases differ by 1, each ramps 0..1
    y = np.array([0, 0, 0, 1, 1, 1], dtype=float)
    # with width 3 order 1: derivative positive at the step
    z = indicator_np(y, 3, 1, 0.2)
    k = np.diff(z)
    assert np.all(k >= -1e-12)  # global ramp nondecreasing
    assert z[-1] >= 1.0  # at least one full segment traversed


@pytest.mark.parametrize("sigma", [0.5, -0.5])
def test_segment_ramp_matches_np(spark, sigma):
    # deterministic sawtooth "filtered" signal, 3 records
    import pandas as pd

    rng = np.random.default_rng(7)
    records = {
        rid: np.sin(np.linspace(0, 20, 400)) + rng.normal(0, 0.05, 400)
        for rid in ["a", "b", "c"]
    }
    records["none"] = np.zeros(50)  # never crosses: all zeros
    records["every"] = np.tile([2.0, -2.0], 25)  # crosses between every row
    rows = [(rid, i, float(v)) for rid, x in records.items() for i, v in enumerate(x)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["record_id", "seq", "x"]))
    out = segment_ramp(df, "x", sigma, "z")
    for rid in records:
        pdf = out.filter(F.col("record_id") == rid).orderBy("seq").toPandas()
        x = pdf["x"].to_numpy()
        # numpy twin of the ramp logic (reference instants.py:82-93)
        b = x > sigma if sigma > 0 else x < sigma
        dp = np.diff(b.astype(int))
        k = list(np.argwhere(dp).ravel())
        z = np.zeros(len(x))
        if k:
            base = 1.0 - float(dp[k[0]] == 1)
            i0 = 0
            for i in k + [len(x)]:
                if i > i0:
                    z[i0:i] = np.linspace(base, base + 1.0, i - i0)
                base += 1.0
                i0 = i
        np.testing.assert_allclose(pdf["z"].to_numpy(), z, atol=1e-12)


def test_indicator_col_matches_np(sset, flights):
    name = sset.records[0]
    df = indicator_col(sset.df, "ALT[m]", "ind", width=21, order=1, sigma=1.0)
    got = (
        df.filter(F.col("record_id") == name)
        .orderBy("seq")
        .select("ind")
        .toPandas()["ind"]
        .to_numpy()
    )
    want = indicator_np(flights[name]["ALT[m]"].to_numpy(), 21, 1, 1.0)
    np.testing.assert_allclose(got, want, atol=1e-9)


def test_reversed_indicator(sset):
    df = indicator_col(sset.df, "ALT[m]", "ind", width=21, order=1, sigma=1.0)
    df = reversed_indicator(df, "ind", "rev_ind")
    row = (
        df.filter(F.col("record_id") == sset.records[0])
        .orderBy("seq")
        .select("ind", "rev_ind")
        .toPandas()
    )
    last = row["ind"].iloc[-1]
    np.testing.assert_allclose(row["rev_ind"], last - row["ind"], atol=1e-12)
