"""Round-8 batch 22 depth tests: numpy references for the fixed-
frequency periodogram (direct DFT over the raw day series — NOT the
residue-grain spelling, so the test is a genuinely independent path),
Bandt–Pompe permutation entropy, and Goh–Barabási burstiness."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _daily():
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    d = (
        o.assign(day=o.o_orderdate.dt.floor("D"))
        .groupby("day")
        .o_totalprice.sum()
        .sort_index()
    )
    return d


def test_periodogram_matches_direct_dft(spark):
    from ucl_data_pipeline_spark.plans.temporal import _PERIODS, periodogram_fixed_freqs

    d = _daily()
    days = (d.index - d.index.min()).days.to_numpy()
    x = d.to_numpy()
    xc = x - x.mean()
    sst = (xc**2).sum()
    T = len(x)
    expect = {}
    for p in _PERIODS:
        a = (xc * np.cos(2 * np.pi * days / p)).sum()
        b = (xc * np.sin(2 * np.pi * days / p)).sum()
        expect[p] = 2 * (a * a + b * b) / (T * sst)

    rows = {r.period_days: r for r in periodogram_fixed_freqs(spark, SF_DIR).collect()}
    assert set(rows) == set(_PERIODS)
    for p in _PERIODS:
        assert abs(rows[p].spectral_frac - expect[p]) < 1e-5, p
    dom = max(expect, key=expect.get)
    assert rows[dom].is_dominant == 1
    assert sum(r.is_dominant for r in rows.values()) >= 1
    # fractions live in [0, 1] (up to rounding) for any series
    for r in rows.values():
        assert -1e-6 <= r.spectral_frac <= 1.0 + 1e-6


def test_periodogram_pure_tone_detects_period():
    """Pure-math sanity of the spectral_frac definition itself (no
    engines involved): a clean sinusoid at period 7 puts ~all its
    fraction at p=7 and ~none elsewhere."""
    t = np.arange(700)
    x = np.sin(2 * np.pi * t / 7)
    xc = x - x.mean()
    sst = (xc**2).sum()
    for p, hi in [(7, True), (30, False), (91, False)]:
        a = (xc * np.cos(2 * np.pi * t / p)).sum()
        b = (xc * np.sin(2 * np.pi * t / p)).sum()
        frac = 2 * (a * a + b * b) / (len(t) * sst)
        assert (frac > 0.95) == hi, (p, frac)


def test_permutation_entropy_matches_replay(spark):
    from ucl_data_pipeline_spark.plans.temporal import permutation_entropy_daily

    x = _daily().to_numpy()
    codes = Counter()
    for i in range(len(x) - 2):
        x1, x2, x3 = x[i], x[i + 1], x[i + 2]
        codes[4 * (x1 > x2) + 2 * (x1 > x3) + (x2 > x3)] += 1
    n = sum(codes.values())
    h = -sum(
        round(c / n * math.log(c / n), 6) for c in codes.values()
    ) / math.log(6)
    top_code = min(codes, key=lambda k: (-codes[k], k))

    r = permutation_entropy_daily(spark, SF_DIR).collect()[0]
    assert r.n_triples == n
    assert r.n_patterns == len(codes)
    # transitivity: codes 2 (x1<=x2, x1>x3, x2<=x3) and 5 are impossible
    assert 2 not in codes and 5 not in codes and r.n_patterns <= 6
    assert abs(r.perm_entropy_norm - h) < 1e-5
    assert r.top_pattern_code == top_code
    assert abs(r.top_pattern_share - codes[top_code] / n) < 2e-6


def test_burstiness_matches_numpy(spark):
    from ucl_data_pipeline_spark.plans.temporal import burstiness_interevent

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet").sort_values(
        ["event_type", "ts", "event_id"]
    )
    rows = {r.event_type: r for r in burstiness_interevent(spark, SF_DIR).collect()}
    for et, sub in ev.groupby("event_type"):
        us = sub.ts.to_numpy().astype("datetime64[us]").astype("int64")
        d = np.diff(us).astype(float)
        mu = d.mean()
        sd = d.std(ddof=1)
        r = rows[et]
        assert r.n_gaps == len(d)
        assert abs(r.mean_gap_s - round(mu / 1e6, 6)) < 2e-6
        assert abs(r.cv - sd / mu) < 1e-5
        assert abs(r.burstiness - (sd - mu) / (sd + mu)) < 1e-5
        assert -1.0 <= r.burstiness <= 1.0
