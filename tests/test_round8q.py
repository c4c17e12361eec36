"""Round-8 batch 23 depth tests: pandas references for the price
indices (with the Laspeyres≥Fisher≥Paasche-or-reverse geometric-mean
identity), ABC classification (partition + Pareto shape), and the
Theil decomposition (independent replay + the additivity identity)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def test_price_indices_match_pandas(spark):
    from ucl_data_pipeline_spark.plans.aggregates import (
        _BASE_YEAR,
        _CUR_YEAR,
        price_index_fisher,
    )

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    li["y"] = li.l_shipdate.dt.year
    li = li[li.y.isin([_BASE_YEAR, _CUR_YEAR])]
    py = li.groupby(["l_partkey", "y"]).agg(
        ext=("l_extendedprice", "sum"), qty=("l_quantity", "sum")
    )
    b = py.xs(_BASE_YEAR, level="y")
    c = py.xs(_CUR_YEAR, level="y")
    m = b.join(c, lsuffix="_0", rsuffix="_1", how="inner")
    p0, q0 = m.ext_0 / m.qty_0, m.qty_0
    p1, q1 = m.ext_1 / m.qty_1, m.qty_1
    lasp = (p1 * q0).sum() / (p0 * q0).sum()
    paas = (p1 * q1).sum() / (p0 * q1).sum()

    r = price_index_fisher(spark, SF_DIR).collect()[0]
    assert r.n_parts == len(m)
    assert abs(r.laspeyres - lasp) < 1e-5
    assert abs(r.paasche - paas) < 1e-5
    assert abs(r.fisher - math.sqrt(lasp * paas)) < 1e-5
    # Fisher is the geometric mean: strictly between L and P
    lo, hi = sorted([r.laspeyres, r.paasche])
    assert lo - 1e-6 <= r.fisher <= hi + 1e-6


def test_abc_classification_matches_pandas(spark):
    from ucl_data_pipeline_spark.plans.aggregates import abc_classification

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    rev = (
        li.groupby("l_partkey")
        .l_extendedprice.sum()
        .round(2)
        .rename("rev")
        .reset_index()
        .sort_values(["rev", "l_partkey"], ascending=[False, True])
    )
    tot = rev.rev.sum()
    cum = rev.rev.cumsum() / tot
    cls = np.where(cum <= 0.80, "A", np.where(cum <= 0.95, "B", "C"))
    rev["abc"] = cls
    per = rev.groupby("abc").agg(n=("rev", "size"), r=("rev", "sum"))

    rows = {r.abc_class: r for r in abc_classification(spark, SF_DIR).collect()}
    assert set(rows) == set(per.index)
    for k in per.index:
        assert rows[k].n_parts == per.loc[k].n
        assert abs(rows[k].class_revenue - per.loc[k].r) < 1.0
        assert abs(rows[k].revenue_share - per.loc[k].r / tot) < 1e-5
        assert abs(rows[k].part_share - per.loc[k].n / len(rev)) < 2e-6
    # partition: classes cover every part exactly once
    assert sum(r.n_parts for r in rows.values()) == len(rev)
    # Pareto shape: A needs fewer parts per revenue dollar than C
    if "A" in rows and "C" in rows:
        assert (
            rows["A"].revenue_share / rows["A"].part_share
            > rows["C"].revenue_share / rows["C"].part_share
        )


def test_theil_decomposition_matches_replay(spark):
    from ucl_data_pipeline_spark.plans.stats import theil_index_decomposition

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
    tt = float((cust.x / s * np.log(cust.x / s * n)).sum())
    tb = tw = 0.0
    for g, sub in cust.groupby("c_nationkey"):
        sg, ng = sub.x.sum(), len(sub)
        tb += sg / s * math.log((sg / s) * n / ng)
        tw += sg / s * float(
            (sub.x / sg * np.log(sub.x / sg * ng)).sum()
        )

    r = theil_index_decomposition(spark, SF_DIR).collect()[0]
    assert r.n_customers == n
    assert r.n_groups == cust.c_nationkey.nunique()
    assert abs(r.theil_total - tt) < 1e-4
    assert abs(r.theil_within - tw) < 1e-4
    assert abs(r.theil_between - tb) < 1e-4
    # the additive decomposition identity, within term-rounding noise
    assert abs(r.decomp_gap) < 1e-3
    assert abs((r.theil_within + r.theil_between) - r.theil_total) < 2e-3
    # inequality indices are non-negative
    assert r.theil_total >= 0 and r.theil_between >= -1e-9
