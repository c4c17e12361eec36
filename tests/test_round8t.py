"""Round-8 batch 26 depth tests: numpy/pandas references for CUPED
(with the var(y_adj) identity verified by actually adjusting the
panel), the odds-ratio report, and the Hill diversity profile (with
the D0 >= D1 >= D2 monotonicity law)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def test_cuped_matches_numpy_and_identity(spark):
    from ucl_data_pipeline_spark.plans.stats import (
        _EXP_YEAR,
        _PRE_YEAR,
        cuped_variance_reduction,
    )

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    o["y"] = o.o_orderdate.dt.year
    cy = (
        o[o.y.isin([_PRE_YEAR, _EXP_YEAR])]
        .groupby(["o_custkey", "y"])
        .o_totalprice.sum()
        .round(2)
        .unstack()
    )
    panel = cy.dropna()
    x = panel[_PRE_YEAR].to_numpy()
    y = panel[_EXP_YEAR].to_numpy()
    cov = np.cov(x, y, ddof=1)
    theta = cov[0, 1] / cov[0, 0]
    rho = cov[0, 1] / math.sqrt(cov[0, 0] * cov[1, 1])

    r = cuped_variance_reduction(spark, SF_DIR).collect()[0]
    assert r.n_customers == len(panel)
    assert abs(r.theta - theta) < 1e-4
    assert abs(r.corr_pre_post - rho) < 1e-5
    assert abs(r.var_outcome - cov[1, 1]) / cov[1, 1] < 1e-9
    # the identity var(y - theta(x - xbar)) = var(y)(1 - rho^2),
    # verified by REALLY adjusting the panel
    y_adj = y - theta * (x - x.mean())
    v_adj = y_adj.var(ddof=1)
    assert abs(r.var_cuped - v_adj) / v_adj < 1e-6
    assert abs(r.var_reduction_pct - 100 * rho * rho) < 1e-3
    assert 0.0 <= r.var_reduction_pct <= 100.0


def test_odds_ratio_matches_reference(spark):
    from ucl_data_pipeline_spark.plans.stats import odds_ratio_gates

    d = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    en = d.lang == "en"
    ok = d.n_chars >= 128
    a = int((en & ok).sum())
    b = int((en & ~ok).sum())
    c = int((~en & ok).sum())
    dd = int((~en & ~ok).sum())
    orr = a * dd / (b * c)
    se = math.sqrt(1 / a + 1 / b + 1 / c + 1 / dd)

    r = odds_ratio_gates(spark, SF_DIR).collect()[0]
    assert (r.n_en_pass, r.n_en_fail, r.n_other_pass, r.n_other_fail) == (
        a,
        b,
        c,
        dd,
    )
    assert abs(r.odds_ratio - orr) < 1e-5
    assert abs(r.relative_risk - (a / (a + b)) / (c / (c + dd))) < 1e-5
    assert abs(r.or_ci_lo - math.exp(math.log(orr) - 1.959964 * se)) < 1e-4
    assert abs(r.or_ci_hi - math.exp(math.log(orr) + 1.959964 * se)) < 1e-4
    # CI brackets the point estimate
    assert r.or_ci_lo <= r.odds_ratio <= r.or_ci_hi


def test_hill_profile_matches_reference(spark):
    from ucl_data_pipeline_spark.plans.text import hill_diversity_profile

    d = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cnt = Counter(d.source)
    n = sum(cnt.values())
    ps = [c / n for c in cnt.values()]
    d1 = math.exp(-sum(round(p * math.log(p), 6) for p in ps))
    d2 = 1.0 / sum(round(p * p, 12) for p in ps)

    r = hill_diversity_profile(spark, SF_DIR).collect()[0]
    assert r.n_docs == n
    assert r.hill_d0 == len(cnt)
    assert abs(r.hill_d1 - d1) < 1e-4
    assert abs(r.hill_d2 - d2) < 1e-4
    assert abs(r.evenness - d1 / len(cnt)) < 1e-5
    # Hill numbers are monotone non-increasing in q. Tolerance is the
    # 6-dp TERM-rounding granularity, not float eps: the fixture's mix
    # is perfectly even (25 docs x 20 sources), so D0 = D1 = D2 = 20
    # exactly, and the rounded entropy terms may land a few 1e-4 above.
    assert r.hill_d0 + 1e-3 >= r.hill_d1 >= r.hill_d2 - 1e-3
    assert 0.0 < r.evenness <= 1.0 + 1e-4
