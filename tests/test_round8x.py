"""Round-8 batch 30 depth tests: python/numpy references for the ESD
sequence (with the Grubbs-step-1 identity and the masking law), the
Allen census (with the partition law — every dual-type user in
exactly one relation), and the ACF table (vs numpy per-lag Pearson)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _daily_rev():
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    return (
        o.assign(day=o.o_orderdate.dt.floor("D"))
        .groupby("day")
        .o_totalprice.sum()
        .round(2)
        .sort_index()
    )


def test_esd_matches_replay_and_masking_law(spark):
    from ucl_data_pipeline_spark.plans.temporal import grubbs_extreme_day
    from ucl_data_pipeline_spark.plans.temporal import _ESD_STEPS, esd_outlier_sequence

    rev = _daily_rev()
    remaining = rev.copy()
    expect = []
    for _ in range(_ESD_STEPS):
        mean, sd = remaining.mean(), remaining.std(ddof=1)
        rstat = (remaining - mean).abs() / sd
        day = rstat.sort_values(ascending=False).index[0]
        expect.append((str(day.date()), remaining[day], rstat[day]))
        remaining = remaining.drop(day)

    rows = esd_outlier_sequence(spark, SF_DIR).collect()
    assert [r.step for r in rows] == list(range(1, _ESD_STEPS + 1))
    for r, (day, val, rr) in zip(rows, expect):
        assert r.day == day
        assert abs(r.revenue - val) < 1e-3
        assert abs(r.esd_r - rr) < 1e-5
    # step 1 IS Grubbs
    g = grubbs_extreme_day(spark, SF_DIR).collect()[0]
    assert rows[0].day == g.extreme_day
    assert abs(rows[0].esd_r - g.grubbs_g) < 1e-6
    # all flagged days distinct (the sequence eliminates)
    assert len({r.day for r in rows}) == _ESD_STEPS


def test_allen_census_matches_replay(spark):
    from ucl_data_pipeline_spark.plans.temporal import allen_interval_census

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")

    def span(sub, et):
        s = sub[sub.event_type == et].ts
        return (s.min(), s.max()) if len(s) else None

    def classify(a, b):
        (a1, a2), (b1, b2) = a, b
        if a1 == b1 and a2 == b2:
            return "equals"
        if a2 < b1:
            return "before"
        if b2 < a1:
            return "after"
        if a2 == b1:
            return "meets"
        if b2 == a1:
            return "met_by"
        if a1 == b1:
            return "starts" if a2 < b2 else "started_by"
        if a2 == b2:
            return "finishes" if a1 > b1 else "finished_by"
        if a1 > b1 and a2 < b2:
            return "during"
        if a1 < b1 and a2 > b2:
            return "contains"
        if a1 < b1 and b1 < a2 < b2:
            return "overlaps"
        return "overlapped_by"

    census = {}
    n_dual = 0
    for _, sub in ev.groupby("user_id"):
        a, b = span(sub, "view"), span(sub, "purchase")
        if a and b:
            n_dual += 1
            rel = classify(a, b)
            census[rel] = census.get(rel, 0) + 1

    rows = {r.relation: r for r in allen_interval_census(spark, SF_DIR).collect()}
    assert set(rows) == set(census)
    for rel, c in census.items():
        assert rows[rel].n_users == c
        assert abs(rows[rel].share - c / n_dual) < 2e-6
    # partition law: relations partition the dual-type users
    assert sum(r.n_users for r in rows.values()) == n_dual
    assert abs(sum(r.share for r in rows.values()) - 1.0) < 1e-4


def test_acf_matches_numpy(spark):
    from ucl_data_pipeline_spark.plans.temporal import autocorr_daily_revenue
    from ucl_data_pipeline_spark.plans.temporal import _ACF_MAX_LAG, acf_table_daily

    x = _daily_rev().to_numpy()
    rows = {r.lag: r for r in acf_table_daily(spark, SF_DIR).collect()}
    assert set(rows) == set(range(1, _ACF_MAX_LAG + 1))
    for k in range(1, _ACF_MAX_LAG + 1):
        a, b = x[k:], x[:-k]
        r = np.corrcoef(a, b)[0, 1]
        g = rows[k]
        assert g.n_pairs == len(a)
        assert abs(g.acf - r) < 1e-5, k
        band = 1.959964 / math.sqrt(len(a))
        assert abs(g.bartlett_band - band) < 1e-6
        assert g.significant == (1 if abs(r) > band else 0)
    # lag-1 row agrees with the registered scalar query
    lag1 = autocorr_daily_revenue(spark, SF_DIR).collect()[0]
    assert abs(rows[1].acf - lag1.lag1_autocorr) < 2e-6
