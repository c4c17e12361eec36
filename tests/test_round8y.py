"""Round-8 batch 31 depth tests: references for the MDE table (with
the CUPED-consistency law), the dedup saturation curve (replay +
monotone-uniques law), and Nelson-Aalen (replay + the KM/Breslow
cross-estimator bound S_KM <= exp(-H) at every event time)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def test_mde_matches_replay_and_cuped_link(spark):
    from ucl_data_pipeline_spark.plans.stats import cuped_variance_reduction
    from ucl_data_pipeline_spark.plans.stats import (
        _EXP_YEAR,
        _MDE_POINTS,
        _PRE_YEAR,
        mde_power_analysis,
    )

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    o["y"] = o.o_orderdate.dt.year
    cy = (
        o[o.y.isin([_PRE_YEAR, _EXP_YEAR])]
        .groupby(["o_custkey", "y"])
        .o_totalprice.sum()
        .round(2)
        .unstack()
        .dropna()
    )
    x, y = cy[_PRE_YEAR].to_numpy(), cy[_EXP_YEAR].to_numpy()
    n = len(cy)
    cov = np.cov(x, y, ddof=1)
    var_y = cov[1, 1]
    var_cuped = var_y - cov[0, 1] ** 2 / cov[0, 0]

    rows = {r.power_pct: r for r in mde_power_analysis(spark, SF_DIR).collect()}
    assert set(rows) == {p for p, _, _ in _MDE_POINTS}
    for p, za, zb in _MDE_POINTS:
        r = rows[p]
        assert r.n_per_arm == n
        assert abs(r.mde_raw - (za + zb) * math.sqrt(var_y * 2 / n)) < 1e-3
        assert (
            abs(r.mde_cuped - (za + zb) * math.sqrt(var_cuped * 2 / n)) < 1e-3
        )
        assert r.mde_cuped <= r.mde_raw + 1e-9  # adjustment never hurts
        assert abs(
            r.mde_raw_pct_of_mean - r.mde_raw / y.mean() * 100
        ) < 1e-2
    # MDE grows with required power
    assert rows[80].mde_raw < rows[90].mde_raw < rows[95].mde_raw
    # consistency with the registered CUPED query's reduction
    c = cuped_variance_reduction(spark, SF_DIR).collect()[0]
    implied = rows[80].mde_cuped / rows[80].mde_raw
    assert abs(implied - math.sqrt(1 - c.var_reduction_pct / 100)) < 1e-4


def test_dedup_saturation_matches_replay(spark):
    from ucl_data_pipeline_spark.plans.similarity import (
        _SAT_STEP,
        dedup_saturation_curve,
    )

    d = pd.read_parquet(f"{SF_DIR}/documents.parquet").sort_values("doc_id")
    texts = d.text.tolist()
    seen, uniques = set(), []
    for t in texts:
        seen.add(t)
        uniques.append(len(seen))

    rows = {r.n_docs: r for r in dedup_saturation_curve(spark, SF_DIR).collect()}
    cks = list(range(_SAT_STEP, len(texts) + 1, _SAT_STEP))
    assert set(rows) == set(cks)
    prev_u = 0
    for c in cks:
        r = rows[c]
        assert r.n_unique == uniques[c - 1]
        assert abs(r.dup_rate - (1 - uniques[c - 1] / c)) < 2e-6
        # uniques are monotone non-decreasing along the curve
        assert r.n_unique >= prev_u
        prev_u = r.n_unique


def test_nelson_aalen_matches_replay_and_km_bound(spark):
    from ucl_data_pipeline_spark.plans.stats import kaplan_meier_survival
    from ucl_data_pipeline_spark.plans.stats import nelson_aalen_hazard

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    us = ev.groupby("user_id").agg(
        first_ts=("ts", "min"), last_ts=("ts", "max")
    )
    hit = (
        ev[ev.value > 200].groupby("user_id").ts.min().rename("hit_ts")
    )
    us = us.join(hit)

    def hours(s):
        return (
            s.to_numpy().astype("datetime64[us]").astype("int64")
            // 3600000000
        )

    end = us.hit_ts.fillna(us.last_ts)
    dur = hours(end) - hours(us.first_ts)
    observed = us.hit_ts.notna().to_numpy()

    df = pd.DataFrame({"dur": dur, "obs": observed})
    by = (
        df.groupby("dur")
        .agg(d=("obs", "sum"), n=("obs", "size"))
        .sort_index()
    )
    n_risk = len(df) - (by.n.cumsum() - by.n)
    h = 0.0
    hv = 0.0
    expect = {}
    for t in by.index:
        nr = int(n_risk[t])
        dd = int(by.d[t])
        h += round(dd / nr, 9)
        hv += round(dd / (nr * nr), 9)
        if dd > 0:
            expect[t] = (nr, dd, h, hv)

    rows = {r.duration_hours: r for r in nelson_aalen_hazard(spark, SF_DIR).collect()}
    assert set(rows) == set(expect)
    for t, (nr, dd, hh, hvv) in expect.items():
        r = rows[t]
        assert r.n_at_risk == nr and r.n_events == dd
        assert abs(r.cum_hazard - hh) < 1e-5
        assert abs(r.hazard_se - math.sqrt(hvv)) < 1e-5
        assert abs(r.breslow_survival - math.exp(-hh)) < 1e-5
    # cross-estimator law: KM's product-limit S <= Breslow exp(-H)
    km = {r.duration_hours: r for r in kaplan_meier_survival(spark, SF_DIR).collect()}
    assert set(km) == set(rows)
    for t in rows:
        assert km[t].survival <= rows[t].breslow_survival + 1e-6
