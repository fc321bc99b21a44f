"""Classical seasonal decomposition vs a numpy reference (the
statsmodels seasonal_decompose algorithm, additive, two-sided MA)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from influxdb_iox_spark.operators.decompose import seasonal_decompose


def _ref(values, m):
    v = np.asarray(values, dtype="float64")
    n = len(v)
    trend = np.full(n, np.nan)
    h = m // 2
    for t in range(n):
        if m % 2:
            lo, hi = t - h, t + h
            if lo >= 0 and hi < n:
                trend[t] = v[lo : hi + 1].mean()
        else:
            lo, hi = t - h, t + h
            if lo >= 0 and hi < n:
                trend[t] = (v[lo] * 0.5 + v[lo + 1 : hi].sum() + v[hi] * 0.5) / m
    detr = v - trend
    s_raw = np.array(
        [np.nanmean(detr[p::m]) if np.any(~np.isnan(detr[p::m])) else np.nan
         for p in range(m)]
    )
    seasonal_means = s_raw - np.nanmean(s_raw)
    seasonal = np.array([seasonal_means[t % m] for t in range(n)])
    return trend, seasonal, v - trend - seasonal


def _run(spark, values, m, extra_series=None):
    rows = [("a", t, float(x)) for t, x in enumerate(values)]
    if extra_series:
        rows += [("b", t, float(x)) for t, x in enumerate(extra_series)]
    df = spark.createDataFrame(rows, "k string, time long, value double")
    out = seasonal_decompose(df, m, key_cols=["k"]).collect()
    got = {}
    for r in out:
        got.setdefault(r.k, {})[r.time] = (r.trend, r.seasonal, r.resid)
    return got


def _check(got_series, values, m):
    trend, seasonal, resid = _ref(values, m)
    for t in range(len(values)):
        g = got_series[t]
        for gi, wi, name in zip(g, (trend[t], seasonal[t], resid[t]),
                                ("trend", "seasonal", "resid")):
            if math.isnan(wi):
                assert gi is None, (t, name, gi)
            else:
                assert gi == pytest.approx(wi, abs=2e-6), (t, name)


def test_even_period_matches_reference(spark):
    values = [
        10 + 3 * math.sin(2 * math.pi * t / 4) + 0.1 * t + (t % 3) * 0.01
        for t in range(24)
    ]
    got = _run(spark, values, 4)
    _check(got["a"], values, 4)


def test_odd_period_and_multiple_series(spark):
    va = [5 + 2 * math.cos(2 * math.pi * t / 5) + 0.05 * t for t in range(21)]
    vb = [1 + (t % 5) * 1.5 - 0.02 * t for t in range(18)]
    got = _run(spark, va, 5, extra_series=vb)
    _check(got["a"], va, 5)
    _check(got["b"], vb, 5)


def test_pure_seasonal_signal_recovered(spark):
    # A flat level + exact period-4 pattern: trend ≈ level, seasonal
    # recovers the pattern (mean-zero), residual ≈ 0.
    pat = [2.0, -1.0, 0.5, -1.5]
    values = [10.0 + pat[t % 4] for t in range(20)]
    got = _run(spark, values, 4)
    for t in range(2, 18):
        trend, seasonal, resid = got["a"][t]
        assert trend == pytest.approx(10.0, abs=1e-6)
        assert seasonal == pytest.approx(pat[t % 4], abs=1e-6)
        assert resid == pytest.approx(0.0, abs=1e-6)


def test_short_series_all_null_components(spark):
    got = _run(spark, [1.0, 2.0, 3.0], 4)
    for t in range(3):
        assert got["a"][t][0] is None  # no complete trend window


def test_validation(spark):
    df = spark.createDataFrame([("a", 0, 1.0)], "k string, time long, value double")
    with pytest.raises(ValueError):
        seasonal_decompose(df, 1)


def test_phase_from_time_is_gap_robust(spark):
    """A missing period bucket shifts every later ordinal phase
    (row_number mode) but leaves time-derived phases aligned: dropping
    one row from a pure seasonal pattern must keep per-phase means
    exact under phase_from_time=True.  (On the gap-free series both
    modes agree up to a label rotation — same outputs.)"""
    m = 4
    pattern = [10.0, 20.0, 30.0, 40.0]
    values = pattern * 6  # 24 points, exactly seasonal
    rows = [("a", t, v) for t, v in enumerate(values)]
    df = spark.createDataFrame(rows, "k string, time long, value double")
    full = {
        r["time"]: r
        for r in seasonal_decompose(
            df, m, key_cols=["k"], phase_from_time=True
        ).collect()
    }
    # drop bucket t=5; later rows keep their true phase alignment
    gap = df.filter("time != 5")
    got = {
        r["time"]: r
        for r in seasonal_decompose(
            gap, m, key_cols=["k"], phase_from_time=True
        ).collect()
    }
    # the pure pattern decomposes to ~zero residual wherever the trend
    # window is complete — gap or not, because phases stay aligned
    for t, r in got.items():
        if r["resid"] is not None:
            assert abs(r["resid"]) < 1e-6, (t, r)
    # and seasonal labels match the gap-free run for shared timestamps
    for t, r in got.items():
        if r["seasonal"] is not None and full[t]["seasonal"] is not None:
            assert abs(r["seasonal"] - full[t]["seasonal"]) < 1e-6, t
    # the ordinal mode, by contrast, misaligns phases after the gap:
    # some complete-window residual must be far from zero
    ord_got = seasonal_decompose(gap, m, key_cols=["k"]).collect()
    bad = [r for r in ord_got if r["resid"] is not None and abs(r["resid"]) > 1.0]
    assert bad, "ordinal phases unexpectedly survived the gap"


def test_randomized_series_match_reference(spark):
    """Seeded-random sweep over lengths/periods incl. gaps-free random
    walks — pins edge-null placement and phase arithmetic everywhere."""
    import random

    for seed in (0, 1, 2, 3):
        rng = random.Random(seed)
        m = rng.choice([3, 4, 6, 7])
        n = rng.randrange(m + 2, 40)
        values = []
        x = rng.uniform(-5, 5)
        for _ in range(n):
            x += rng.uniform(-1, 1)
            values.append(round(x + rng.uniform(-0.5, 0.5), 3))
        got = _run(spark, values, m)
        _check(got["a"], values, m)


def test_trend_frame_computed_once(spark):
    """The trend frame feeds the phase means and the final join; it is
    checkpointed, so the upstream (here a Python UDF counting its calls)
    runs once per row."""
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    def bump(v):
        acc.add(1)
        return v

    rows = [
        (k, t, math.sin(t / 3.0) * 10 + (t % 5)) for k in "ab" for t in range(48)
    ]
    df = spark.createDataFrame(rows, "k string, time long, value double").select(
        "k", "time", F.udf(bump, "double")("value").alias("value")
    )
    out = seasonal_decompose(df, 12, key_cols=["k"]).collect()
    assert len(out) == len(rows)
    assert acc.value == len(rows), f"upstream ran {acc.value} times for {len(rows)} rows"
