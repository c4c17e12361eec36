"""Round-8 batch 21 depth tests: pandas/python references for the
decile lift table, McNemar's paired test, and Cliff's delta — plus
the structural identities (capture monotone to 1.0; delta from a
brute-force O(n·m) dominance count on a subsample; MWU↔delta
consistency)."""

from __future__ import annotations

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def test_decile_lift_matches_pandas(spark):
    from ucl_data_pipeline_spark.plans.stats import decile_lift_table

    c = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")[["o_orderkey", "o_custkey"]]
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")[
        ["l_orderkey", "l_returnflag"]
    ]
    resp = set(
        li[li.l_returnflag == "R"]
        .merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .o_custkey
    )
    c = c.sort_values(
        ["c_acctbal", "c_custkey"], ascending=[False, True]
    ).reset_index(drop=True)
    n = len(c)
    # NTILE(10): first (n % 10) tiles get ceil(n/10), rest floor
    big, small = -(-n // 10), n // 10
    n_big = n % 10
    deciles = np.concatenate(
        [
            np.full(big if i < n_big else small, i + 1)
            for i in range(10)
        ]
    )
    c["decile"] = deciles
    c["y"] = c.c_custkey.isin(resp).astype(int)
    per = c.groupby("decile").agg(
        n_customers=("y", "size"), n_responders=("y", "sum")
    )
    base = per.n_responders.sum() / n

    rows = {r.decile: r for r in decile_lift_table(spark, SF_DIR).collect()}
    assert len(rows) == 10
    cum = 0
    for d in range(1, 11):
        r = rows[d]
        assert r.n_customers == per.loc[d].n_customers
        assert r.n_responders == per.loc[d].n_responders
        rate = per.loc[d].n_responders / per.loc[d].n_customers
        assert abs(r.resp_rate - rate) < 2e-6
        assert abs(r.lift - rate / base) < 2e-6
        cum += per.loc[d].n_responders
        assert abs(r.cum_capture - cum / per.n_responders.sum()) < 2e-6
    # gains curve ends at full capture
    assert abs(rows[10].cum_capture - 1.0) < 1e-9


def test_mcnemar_matches_reference(spark):
    from ucl_data_pipeline_spark.plans.stats import mcnemar_paired_gates

    d = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    a = (d.n_chars >= 128).to_numpy()
    b = (d.text.str.split(" ").str.len() >= 24).to_numpy()
    n10 = int((a & ~b).sum())
    n01 = int((~a & b).sum())

    r = mcnemar_paired_gates(spark, SF_DIR).collect()[0]
    assert r.n_docs == len(d)
    assert r.a_only == n10 and r.b_only == n01
    if n10 + n01:
        assert abs(r.chi2 - (n10 - n01) ** 2 / (n10 + n01)) < 1e-5
        assert abs(r.chi2_cc - (abs(n10 - n01) - 1) ** 2 / (n10 + n01)) < 1e-5
        # continuity correction only ever shrinks the statistic
        assert r.chi2_cc <= r.chi2 + 1e-9


def test_cliffs_delta_matches_bruteforce(spark):
    from ucl_data_pipeline_spark.plans.stats import cliffs_delta_priority

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    x = o[o.o_orderpriority == "1-URGENT"].o_totalprice.to_numpy()
    y = o[o.o_orderpriority == "5-LOW"].o_totalprice.to_numpy()
    # O(n log n) dominance via searchsorted (exact, no subsampling)
    ys = np.sort(y)
    n_gt = int(np.searchsorted(ys, x, side="left").sum())
    n_le = int(np.searchsorted(ys, x, side="right").sum())
    n_eq = n_le - n_gt
    n_lt = len(x) * len(y) - n_le
    delta = (n_gt - n_lt) / (len(x) * len(y))

    r = cliffs_delta_priority(spark, SF_DIR).collect()[0]
    assert r.n_urgent == len(x) and r.n_low == len(y)
    assert r.n_urgent_gt == n_gt
    assert r.n_urgent_lt == n_lt
    assert r.n_ties == n_eq
    assert abs(r.cliffs_delta - delta) < 2e-6
    band = (
        "negligible"
        if abs(delta) < 0.147
        else "small"
        if abs(delta) < 0.33
        else "medium"
        if abs(delta) < 0.474
        else "large"
    )
    assert r.magnitude == band


def test_cliffs_delta_consistent_with_mwu(spark):
    """delta = 2*U_a/(n_a*n_b) - 1 (tie-split U): the two queries
    must tell one story about the same pair of samples."""
    from ucl_data_pipeline_spark.plans.stats import mann_whitney_u
    from ucl_data_pipeline_spark.plans.stats import cliffs_delta_priority

    u = mann_whitney_u(spark, SF_DIR).collect()[0]
    d = cliffs_delta_priority(spark, SF_DIR).collect()[0]
    assert u.n_a == d.n_urgent and u.n_b == d.n_low
    # U_a counts ties as 1/2
    u_from_delta = d.n_urgent_gt + 0.5 * d.n_ties
    assert abs(u.u_a - u_from_delta) < 1e-6
    delta_from_u = 2 * u.u_a / (u.n_a * u.n_b) - 1
    assert abs(d.cliffs_delta - delta_from_u) < 2e-6
