"""Round-8 batch 28 depth tests: python/numpy references for the SPRT
trace, the Huber IRLS location, and Grubbs' statistic — plus the
robustness law (injecting a huge synthetic outlier moves the mean far
more than the Huber replay) and the SPRT boundary logic."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _daily():
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    g = o.assign(day=o.o_orderdate.dt.floor("D")).groupby("day")
    return g


def test_sprt_matches_replay(spark):
    from ucl_data_pipeline_spark.plans.temporal import _SPRT_LIFT, sprt_sequential_test

    g = _daily()
    n = g.size()
    x = g.apply(lambda s: (s.o_orderstatus == "F").sum())
    p0 = x.sum() / n.sum()
    p1 = _SPRT_LIFT * p0
    terms = [
        round(
            xi * math.log(p1 / p0) + (ni - xi) * math.log((1 - p1) / (1 - p0)),
            12,
        )
        for ni, xi in zip(n.sort_index(), x.sort_index())
    ]
    cum = np.cumsum(terms)
    ln_a = math.log(19.0)
    crossing = next(
        (i for i, c in enumerate(cum) if c >= ln_a or c <= -ln_a), None
    )

    r = sprt_sequential_test(spark, SF_DIR).collect()[0]
    assert r.n_days == len(terms)
    assert abs(r.final_llr - cum[-1]) < 1e-5
    if crossing is None:
        assert r.decision == "continue" and r.crossing_day is None
    else:
        want = "accept_h1" if cum[crossing] >= ln_a else "accept_h0"
        assert r.decision == want
        assert r.crossing_day == str(n.sort_index().index[crossing].date())


def test_huber_matches_replay_and_is_robust(spark):
    from ucl_data_pipeline_spark.plans.stats import (
        _HUBER_ITER,
        _HUBER_K,
        huber_location_irls,
    )

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    x = o.o_totalprice.round(2).to_numpy()

    def irls(vals):
        mu = vals.mean()
        c = _HUBER_K * vals.std(ddof=1)
        for _ in range(_HUBER_ITER):
            d = np.abs(vals - mu)
            w = np.where(d == 0, np.nan, np.minimum(1.0, c / d))
            num = np.nansum(np.round(w * vals, 6))
            den = np.nansum(np.round(w, 12))
            mu = num / den
        return mu, c

    mu, c = irls(x)
    r = huber_location_irls(spark, SF_DIR).collect()[0]
    assert r.n_orders == len(x)
    assert abs(r.huber_location - mu) < 1e-3
    assert abs(r.plain_mean - x.mean()) < 1e-3
    assert abs(r.robust_shift - (mu - x.mean())) < 2e-3
    assert r.n_downweighted == int((np.abs(x - mu) > c).sum())
    # robustness law (pure-python): a catastrophic outlier barely
    # moves the Huber location but drags the mean
    x2 = np.append(x, 1e9)
    mu2, _ = irls(x2)
    mean_shift = abs(x2.mean() - x.mean())
    huber_shift = abs(mu2 - mu)
    assert huber_shift < mean_shift / 100


def test_grubbs_matches_replay(spark):
    from ucl_data_pipeline_spark.plans.temporal import grubbs_extreme_day

    g = _daily()
    rev = g.o_totalprice.sum().round(2).sort_index()
    mean, sd = rev.mean(), rev.std(ddof=1)
    gstat = (rev - mean).abs() / sd
    day = gstat.sort_values(ascending=False).index[0]

    r = grubbs_extreme_day(spark, SF_DIR).collect()[0]
    assert r.n_days == len(rev)
    assert r.extreme_day == str(day.date())
    assert abs(r.extreme_revenue - rev[day]) < 1e-3
    assert abs(r.grubbs_g - gstat[day]) < 1e-5
    assert r.is_high_side == (1 if rev[day] > mean else 0)
    # G is bounded by (n-1)/sqrt(n) for any sample
    n = len(rev)
    assert r.grubbs_g <= (n - 1) / math.sqrt(n) + 1e-9
