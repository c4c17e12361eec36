"""Round-8 batch 29 depth tests: python/pandas references for
monetary-unit sampling (with the PPS selection-probability law),
the grouped jackknife (with the influence-sums-to-zero-ish identity),
and capture-recapture (with the known capture rates)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def test_mus_matches_replay_and_pps_law(spark):
    from ucl_data_pipeline_spark.plans.stats import _MUS_N, monetary_unit_sample

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet").sort_values("o_orderkey")
    x = o.o_totalprice.round(2).to_numpy()
    cum = np.cumsum(x)
    interval = cum[-1] / _MUS_N
    hits = np.floor(cum / interval) - np.floor((cum - x) / interval)
    sel = hits > 0

    rows = monetary_unit_sample(spark, SF_DIR).collect()
    got = {r.o_orderkey: r for r in rows}
    want = o.o_orderkey.to_numpy()[sel]
    assert set(got) == set(want)
    for k, h in zip(o.o_orderkey.to_numpy()[sel], hits[sel]):
        assert got[k].n_sampling_hits == int(h)
    # systematic PPS draws exactly N units (counting multiplicity)
    assert sum(r.n_sampling_hits for r in rows) == _MUS_N
    # PPS law: the sample is value-biased — its mean price exceeds the
    # population mean (heavily, for a skewless-uniform it's ~4/3)
    assert np.mean([r.price for r in rows]) > x.mean()


def test_jackknife_matches_replay(spark):
    from ucl_data_pipeline_spark.plans.stats import jackknife_group_influence

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")[
        ["o_custkey", "o_totalprice"]
    ]
    c = pd.read_parquet(f"{SF_DIR}/customer.parquet")[
        ["c_custkey", "c_nationkey"]
    ]
    cust = (
        o.merge(c, left_on="o_custkey", right_on="c_custkey")
        .groupby(["o_custkey", "c_nationkey"])
        .o_totalprice.sum()
        .round(2)
        .rename("x")
        .reset_index()
    )
    n, s = len(cust), cust.x.sum()
    loo = {}
    for g, sub in cust.groupby("c_nationkey"):
        loo[g] = (s - sub.x.sum()) / (n - len(sub))
    k = len(loo)
    mb = sum(round(v, 6) for v in loo.values()) / k
    jse = math.sqrt(
        (k - 1) / k * sum(round((v - mb) ** 2, 6) for v in loo.values())
    )

    rows = {r.nationkey: r for r in jackknife_group_influence(spark, SF_DIR).collect()}
    assert set(rows) == set(loo)
    full_mean = s / n
    for g, v in loo.items():
        r = rows[g]
        assert abs(r.mean_without_group - v) < 1e-4
        assert abs(r.influence_on_mean - (v - full_mean)) < 1e-4
        assert abs(r.jackknife_se - jse) < 1e-4
    # influence is weighted-zero-sum: sum_g (n - n_g) * influence_g = 0
    tot = sum(
        (n - (cust.c_nationkey == g).sum()) * rows[g].influence_on_mean
        for g in loo
    )
    assert abs(tot) < 1.0  # rounding-noise scale vs revenue ~1e5


def test_capture_recapture_matches_replay(spark):
    import hashlib

    from ucl_data_pipeline_spark.plans.stats import _CR_THRESH, capture_recapture_ndv

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    seen = sorted(set(o.o_custkey))

    def mark(seed, k):
        return hashlib.md5(f"{seed}{k}".encode()).hexdigest()[:2] < _CR_THRESH

    s1 = {k for k in seen if mark("cr1:", k)}
    s2 = {k for k in seen if mark("cr2:", k)}
    m = len(s1 & s2)

    r = capture_recapture_ndv(spark, SF_DIR).collect()[0]
    assert r.true_ndv == len(seen)
    assert r.n_sample1 == len(s1)
    assert r.n_sample2 == len(s2)
    assert r.n_recaptured == m
    assert abs(r.lincoln_petersen - len(s1) * len(s2) / m) < 1e-4
    chapman = (len(s1) + 1) * (len(s2) + 1) / (m + 1) - 1
    assert abs(r.chapman - chapman) < 1e-4
    assert abs(r.chapman_rel_error - (chapman - len(seen)) / len(seen)) < 1e-5
    # with two ~20% independent samples of ~1200 keys the estimate
    # should land within ~15% of truth
    assert abs(r.chapman_rel_error) < 0.15
