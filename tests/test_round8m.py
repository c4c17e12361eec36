"""Round-8 batch 19 depth tests: numpy/pandas references for one-way
ANOVA, Kruskal–Wallis (tie-corrected, midranks via scipy-free
rankdata), and Cochran–Armitage trend — plus the structural identity
SST = SSB + SSW and the ANOVA↔KW agreement sanity check."""

from __future__ import annotations

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _groups():
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    return {
        g: sub.o_totalprice.to_numpy()
        for g, sub in o.groupby("o_orderpriority")
    }


def test_oneway_anova_matches_numpy(spark):
    from ucl_data_pipeline_spark.plans.stats import oneway_anova_f

    gs = _groups()
    all_v = np.concatenate(list(gs.values()))
    n, k = len(all_v), len(gs)
    grand = all_v.mean()
    ssb = sum(len(v) * (v.mean() - grand) ** 2 for v in gs.values())
    ssw = sum(((v - v.mean()) ** 2).sum() for v in gs.values())
    f = (ssb / (k - 1)) / (ssw / (n - k))

    r = oneway_anova_f(spark, SF_DIR).collect()[0]
    assert r.n_rows == n and r.n_groups == k
    # numpy centers per-group (numerically stable); the engine uses the
    # sufficient-stats identity — agree to float tolerance, not bitwise
    assert abs(r.ss_between - ssb) / ssb < 1e-9
    assert abs(r.ss_within - ssw) / ssw < 1e-9
    assert abs(r.f_stat - f) < 1e-5
    assert abs(r.eta_sq - ssb / (ssb + ssw)) < 1e-6
    # structural identity: SSB + SSW = SST
    sst = ((all_v - grand) ** 2).sum()
    assert abs((r.ss_between + r.ss_within) - sst) / sst < 1e-9


def _rankdata_avg(v: np.ndarray) -> np.ndarray:
    """scipy.stats.rankdata(method='average'), dependency-free."""
    order = np.argsort(v, kind="stable")
    ranks = np.empty(len(v), dtype=float)
    sv = v[order]
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2 + 1
        i = j + 1
    return ranks


def test_kruskal_wallis_matches_reference(spark):
    from ucl_data_pipeline_spark.plans.stats import kruskal_wallis_h

    gs = _groups()
    labels = np.concatenate(
        [np.full(len(v), g) for g, v in gs.items()]
    )
    vals = np.concatenate(list(gs.values()))
    ranks = _rankdata_avg(vals)
    n, k = len(vals), len(gs)
    h = (
        12.0
        / (n * (n + 1))
        * sum(
            ranks[labels == g].sum() ** 2 / (labels == g).sum() for g in gs
        )
        - 3.0 * (n + 1)
    )
    _, t = np.unique(vals, return_counts=True)
    corr = 1.0 - (t**3 - t).sum() / (n**3 - n)

    r = kruskal_wallis_h(spark, SF_DIR).collect()[0]
    assert r.n_rows == n and r.n_groups == k
    assert abs(r.h_stat - h) < 1e-4
    assert abs(r.h_tie_corrected - h / corr) < 1e-4
    assert abs(r.epsilon_sq - (h - k + 1) / (n - k)) < 1e-6


def test_cochran_armitage_matches_reference(spark):
    from ucl_data_pipeline_spark.plans.stats import cochran_armitage_trend

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    o["s"] = o.o_orderpriority.str[0].astype(int)
    o["y"] = (o.o_orderstatus == "F").astype(int)
    g = o.groupby("s").agg(n_g=("y", "size"), r_g=("y", "sum"))
    n, rr = g.n_g.sum(), g.r_g.sum()
    p = rr / n
    num = (g.index.to_numpy() * g.r_g).sum() - rr * (
        g.index.to_numpy() * g.n_g
    ).sum() / n
    var = (
        p
        * (1 - p)
        * (
            (g.index.to_numpy() ** 2 * g.n_g).sum()
            - (g.index.to_numpy() * g.n_g).sum() ** 2 / n
        )
    )
    z = num / np.sqrt(var)

    r = cochran_armitage_trend(spark, SF_DIR).collect()[0]
    assert r.n_rows == n and r.n_success == rr
    assert abs(r.pooled_rate - round(p, 6)) < 2e-6
    assert abs(r.z_trend - z) < 1e-5
    # the fixture's statuses are priority-independent by construction:
    # the trend read should be a null result, |z| < 4
    assert abs(r.z_trend) < 4.0


def test_anova_and_kw_agree_on_null(spark):
    """Both k-group tests read the same (null) fixture: neither should
    scream. F near 1 and H near its k-1 expectation — consistency of
    the parametric and rank reads."""
    from ucl_data_pipeline_spark.plans.stats import kruskal_wallis_h, oneway_anova_f

    f = oneway_anova_f(spark, SF_DIR).collect()[0]
    h = kruskal_wallis_h(spark, SF_DIR).collect()[0]
    assert f.n_rows == h.n_rows and f.n_groups == h.n_groups
    # F ~ F(4, n-5): mean ≈ 1; reject only a wild fixture
    assert 0.0 <= f.f_stat < 5.0
    # H ~ chi2(4): mean 4, sd ~2.8
    assert 0.0 <= h.h_tie_corrected < 20.0
