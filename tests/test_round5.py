"""Intrinsic-property tests for the round-5 session operators (oracle
equality is covered by verify_local / test_queries_oracle; these pin
the semantic claims the docstrings make, against independent
recomputation where practical).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from ucl_data_pipeline_spark.plans import REGISTRY


def _run(spark, name):
    return REGISTRY[name].fn(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# Inequality / interval bounds
# ---------------------------------------------------------------------------


def test_gini_bounds(spark):
    rows = _run(spark, "gini_revenue_concentration").collect()
    assert rows
    for r in rows:
        # Gini of positive values lies in [0, 1 - 1/n]
        assert 0.0 <= r.gini <= 1.0 - 1.0 / r.n_customers + 1e-9
        assert r.total_revenue > 0


def test_wilson_ci_orders_p_hat(spark):
    rows = _run(spark, "conversion_wilson_ci").collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.ci_lo <= r.p_hat <= r.ci_hi <= 1.0
        # Wilson never collapses to zero width on finite n
        assert r.ci_hi - r.ci_lo > 0


def test_autocorr_in_unit_interval(spark):
    (r,) = _run(spark, "autocorr_daily_revenue").collect()
    assert -1.0 <= r.lag1_autocorr <= 1.0
    assert r.n_pairs > 0


# ---------------------------------------------------------------------------
# Weighted median: crossing property against a pandas recomputation
# ---------------------------------------------------------------------------


def test_weighted_median_crossing(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    got = {r.flag: r for r in _run(spark, "weighted_median_price").collect()}
    pdf = (
        read_table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .toPandas()
    )
    for flag, grp in pdf.groupby("l_returnflag"):
        g = grp.sort_values("l_extendedprice")
        tot = g["l_quantity"].sum()
        cum = g["l_quantity"].cumsum()
        expect = g.loc[cum >= tot / 2, "l_extendedprice"].iloc[0]
        assert math.isclose(got[flag].weighted_median, expect, rel_tol=0)
        assert math.isclose(got[flag].total_weight, tot, rel_tol=1e-9)


# ---------------------------------------------------------------------------
# Interval union coverage bounds
# ---------------------------------------------------------------------------


def test_interval_coverage_bounds(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    cov = {r.user_id: r for r in _run(spark, "interval_union_coverage").collect()}
    n_by_user = {
        r.user_id: r.n
        for r in read_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(cov) == set(n_by_user)
    for uid, r in cov.items():
        # each island is at least one full ±5min window; coverage can
        # never exceed the no-overlap sum
        assert r.n_islands >= 1
        assert r.covered_seconds >= 600.0 * r.n_islands - 1e-6
        assert r.covered_seconds <= 600.0 * n_by_user[uid] + 1e-6


# ---------------------------------------------------------------------------
# Quantile normalization: exact rank grid per group
# ---------------------------------------------------------------------------


def test_quantile_norm_grid(spark):
    rows = _run(spark, "quantile_normalize_feature").collect()
    by_src: dict[str, list[float]] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.quantile_norm)
    for src, qs in by_src.items():
        n = len(qs)
        expect = sorted(round((i + 0.5) / n, 6) for i in range(n))
        assert sorted(qs) == expect, src


# ---------------------------------------------------------------------------
# Deterministic weighted sampling: reproducibility + rank contract
# ---------------------------------------------------------------------------


def test_weighted_sample_reproducible(spark):
    a = _run(spark, "weighted_sample_ares").collect()
    b = _run(spark, "weighted_sample_ares").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    ranks = sorted(r.sample_rank for r in a)
    assert ranks == list(range(1, len(a) + 1))
    assert all(0.0 < r.u_hash < 1.0 for r in a)


# ---------------------------------------------------------------------------
# Growth accounting: cumulative distinct users
# ---------------------------------------------------------------------------


def test_cumulative_distinct_users_total(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = sorted(
        _run(spark, "cumulative_distinct_users").collect(), key=lambda r: r.day
    )
    total = (
        read_table(spark, SF_SMOKE, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert rows[-1].cum_users == total
    assert sum(r.new_users for r in rows) == total
    cums = [r.cum_users for r in rows]
    assert cums == sorted(cums)  # monotone


# ---------------------------------------------------------------------------
# CUSUM telescopes to ~zero at the series end
# ---------------------------------------------------------------------------


def test_cusum_final_near_zero(spark):
    rows = sorted(_run(spark, "cusum_drift_daily").collect(), key=lambda r: r.day)
    n = len(rows)
    # last cusum = Σx − n·round6(μ): bounded by the μ rounding alone
    assert abs(rows[-1].cusum) <= n * 5e-7 * max(1.0, abs(rows[-1].revenue)) + n * 1e-3


# ---------------------------------------------------------------------------
# Seasonal decomposition reconstructs the series
# ---------------------------------------------------------------------------


def test_seasonal_decompose_reconstructs(spark):
    for r in _run(spark, "seasonal_dow_decompose").collect():
        assert 0 <= r.dow <= 6
        assert math.isclose(
            r.dow_mean + r.residual, r.revenue, rel_tol=0, abs_tol=2e-6
        )


# ---------------------------------------------------------------------------
# Benford audit: shares sum to one, expectation formula pinned
# ---------------------------------------------------------------------------


def test_benford_shares(spark):
    rows = _run(spark, "benford_first_digit").collect()
    assert abs(sum(r.observed_pct for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 1 <= r.digit <= 9
        assert math.isclose(
            r.benford_pct, round(math.log10(1 + 1 / r.digit), 6), abs_tol=1e-9
        )


# ---------------------------------------------------------------------------
# PSI: smoothed shares are proper distributions
# ---------------------------------------------------------------------------


def test_psi_shares_proper(spark):
    rows = _run(spark, "psi_price_drift").collect()
    assert abs(sum(r.p_ref for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.p_cur for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.p_ref > 0 and r.p_cur > 0
        assert math.isfinite(r.psi_contrib)


# ---------------------------------------------------------------------------
# Correlation matrix vs pandas
# ---------------------------------------------------------------------------


def test_corr_matrix_matches_pandas(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    got = {(r.col_a, r.col_b): r.corr for r in _run(spark, "corr_matrix_lineitem").collect()}
    pdf = (
        read_table(spark, SF_SMOKE, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .toPandas()
    )
    for (a, b), c in got.items():
        assert abs(c) <= 1.0
        assert math.isclose(c, pdf[a].corr(pdf[b]), abs_tol=1e-6)


# ---------------------------------------------------------------------------
# Welch t-test vs a numpy recomputation
# ---------------------------------------------------------------------------


def test_welch_ttest_matches_numpy(spark):
    import numpy as np

    from ucl_data_pipeline_spark.sources.io import read_table

    (r,) = _run(spark, "welch_ttest_promo").collect()
    li = read_table(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    p = read_table(spark, SF_SMOKE, "part").select("p_partkey", "p_type")
    pdf = li.join(p, li.l_partkey == p.p_partkey).toPandas()
    promo = pdf.loc[
        pdf.p_type.str.startswith("PROMO"), "l_extendedprice"
    ].to_numpy()
    other = pdf.loc[
        ~pdf.p_type.str.startswith("PROMO"), "l_extendedprice"
    ].to_numpy()
    assert (r.n_promo, r.n_other) == (len(promo), len(other))
    v1 = promo.var(ddof=1) / len(promo)
    v0 = other.var(ddof=1) / len(other)
    t = (promo.mean() - other.mean()) / np.sqrt(v1 + v0)
    df = (v1 + v0) ** 2 / (v1**2 / (len(promo) - 1) + v0**2 / (len(other) - 1))
    assert math.isclose(r.t_stat, t, abs_tol=1e-4)
    assert math.isclose(r.welch_df, df, rel_tol=1e-6)


# ---------------------------------------------------------------------------
# MinHash error gate: columns are internally consistent
# ---------------------------------------------------------------------------


def test_minhash_error_gate_consistency(spark):
    rows = _run(spark, "minhash_jaccard_error").collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.exact_jaccard <= 1.0
        assert math.isclose(
            r.abs_err, round(abs(r.est_jaccard - r.exact_jaccard), 6), abs_tol=2e-6
        )
        assert r.doc_a < r.doc_b


# ---------------------------------------------------------------------------
# Language-ID F1: confusion identities
# ---------------------------------------------------------------------------


def test_langid_f1_identities(spark):
    rows = _run(spark, "langid_confusion_f1").collect()
    preds = _run(spark, "lang_id_heuristic").collect()
    labeled = {}
    detected = {}
    for p in preds:
        labeled[p.labeled_lang] = labeled.get(p.labeled_lang, 0) + 1
        detected[p.detected_lang] = detected.get(p.detected_lang, 0) + 1
    for r in rows:
        assert r.tp + r.fn == labeled.get(r.cls, 0)
        assert r.tp + r.fp == detected.get(r.cls, 0)
        if r.precision_ is not None and r.recall_ is not None and (
            r.precision_ + r.recall_
        ) > 0:
            harm = 2 * r.precision_ * r.recall_ / (r.precision_ + r.recall_)
            assert math.isclose(r.f1, harm, abs_tol=1e-5)


# ---------------------------------------------------------------------------
# Bigram LM: probabilities are proper, bigram counts match token counts
# ---------------------------------------------------------------------------


def test_bigram_likelihood_proper(spark):
    from ucl_data_pipeline_spark.functions import text as TX
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = {r.doc_id: r for r in _run(spark, "doc_bigram_likelihood").collect()}
    toks = {
        r.doc_id: r.n
        for r in read_table(spark, SF_SMOKE, "documents")
        .select("doc_id", F.size(TX.tokens("text")).alias("n"))
        .collect()
    }
    assert rows
    for doc_id, r in rows.items():
        assert 0.0 < r.avg_bigram_prob < 1.0
        assert r.n_bigrams == toks[doc_id] - 1


# ---------------------------------------------------------------------------
# NDCG gate: bounds and ideal-ranking consistency
# ---------------------------------------------------------------------------


def test_ndcg_bounds(spark):
    rows = _run(spark, "ann_ndcg_at_10").collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_rel <= 10
        if r.n_rel == 0:
            assert r.ndcg_at_10 is None
        else:
            assert 0.0 < r.ndcg_at_10 <= 1.0 + 1e-9
            if r.n_rel == 10:  # all relevant → any order is ideal
                assert math.isclose(r.ndcg_at_10, 1.0, abs_tol=1e-6)


# ---------------------------------------------------------------------------
# Association rules: metric identities vs raw counts
# ---------------------------------------------------------------------------


def test_assoc_rules_identities(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = _run(spark, "assoc_rules_lift").collect()
    assert rows
    basket = (
        read_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = basket.select("l_orderkey").distinct().count()
    item = {
        r.l_partkey: r.c
        for r in basket.groupBy("l_partkey").agg(F.count("*").alias("c")).collect()
    }
    for r in rows:
        assert math.isclose(r.support, round(r.n_ab / n, 6), abs_tol=1e-9)
        assert math.isclose(
            r.conf_a_to_b, round(r.n_ab / item[r.part_a], 6), abs_tol=1e-9
        )
        assert math.isclose(
            r.lift,
            round(r.n_ab * n / (item[r.part_a] * item[r.part_b]), 6),
            abs_tol=1e-9,
        )


# ---------------------------------------------------------------------------
# IQR fences vs pandas quantiles
# ---------------------------------------------------------------------------


def test_iqr_fences_match_pandas(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = {r.event_type: r for r in _run(spark, "iqr_outlier_fences").collect()}
    pdf = (
        read_table(spark, SF_SMOKE, "events")
        .select("event_type", "value")
        .toPandas()
    )
    for et, grp in pdf.groupby("event_type"):
        r = rows[et]
        q1 = grp["value"].quantile(0.25)
        q3 = grp["value"].quantile(0.75)
        assert math.isclose(r.q1, q1, abs_tol=1e-5)
        assert math.isclose(r.q3, q3, abs_tol=1e-5)
        assert r.fence_lo < r.q1 <= r.q3 < r.fence_hi
        n_out = ((grp["value"] < r.fence_lo) | (grp["value"] > r.fence_hi)).sum()
        assert r.n_outliers == n_out
        assert r.n_events == len(grp)


# ---------------------------------------------------------------------------
# RFM: score ranges and monotonicity vs raw metrics
# ---------------------------------------------------------------------------


def test_rfm_scores_consistent(spark):
    rows = _run(spark, "rfm_segmentation").collect()
    assert rows
    for r in rows:
        assert 1 <= r.r_score <= 4
        assert 1 <= r.f_score <= 4
        assert 1 <= r.m_score <= 4
    # monotone: a strictly larger metric can never get a lower score
    by_f = sorted(rows, key=lambda r: r.frequency)
    for a, b in zip(by_f, by_f[1:]):
        if b.frequency > a.frequency:
            assert b.f_score >= a.f_score
    by_r = sorted(rows, key=lambda r: r.recency_days)
    for a, b in zip(by_r, by_r[1:]):
        if b.recency_days > a.recency_days:
            assert b.r_score <= a.r_score  # recency inverts


# ---------------------------------------------------------------------------
# Latency quantiles are ordered
# ---------------------------------------------------------------------------


def test_latency_quantiles_ordered(spark):
    rows = _run(spark, "ship_latency_quantiles").collect()
    assert rows
    for r in rows:
        assert r.p50 <= r.p90 <= r.p99 <= r.p100
        assert r.n_lines > 0


# ---------------------------------------------------------------------------
# Centroid shift: nonnegative, all dims, even/odd symmetry
# ---------------------------------------------------------------------------


def test_centroid_shift_basic(spark):
    rows = _run(spark, "embedding_centroid_shift").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_dims == 64
        assert r.l2_shift >= 0.0


# ---------------------------------------------------------------------------
# Sliding 7-day distinct users: window bounds vs daily distinct counts
# ---------------------------------------------------------------------------


def test_sliding_dau_bounds(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = {r.obs_day: r.users_7d for r in _run(spark, "sliding_distinct_users_7d").collect()}
    assert rows
    daily = {
        r.day: r.n
        for r in read_table(spark, SF_SMOKE, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(rows) == set(daily)
    for day, wau in rows.items():
        # trailing-window distinct is at least the day's own distinct count
        # and at most the sum of the 7 contributing days' counts
        lo = daily[day]
        hi = sum(
            daily.get(d, 0)
            for d in (day - __import__("datetime").timedelta(i) for i in range(7))
        )
        assert lo <= wau <= hi


# ---------------------------------------------------------------------------
# Largest-remainder apportionment: quotas sum to budget, within-1 of floor
# ---------------------------------------------------------------------------


def test_apportion_exact_budget(spark):
    from ucl_data_pipeline_spark.plans.text import _APPORTION_BUDGET

    rows = _run(spark, "largest_remainder_apportion").collect()
    assert rows
    assert sum(r.quota for r in rows) == _APPORTION_BUDGET
    total = sum(r.n_docs for r in rows)
    for r in rows:
        floor = r.n_docs * _APPORTION_BUDGET // total
        assert r.quota in (floor, floor + 1)


# ---------------------------------------------------------------------------
# Count-min sketch: never underestimates; estimate bounded by row total
# ---------------------------------------------------------------------------


def test_cms_never_underestimates(spark):
    rows = _run(spark, "count_min_estimate_error").collect()
    assert len(rows) == 20
    for r in rows:
        assert r.overestimate >= 0
        assert r.cms_est == r.exact_cnt + r.overestimate


# ---------------------------------------------------------------------------
# Z-order layout: tight bounding boxes vs single-key split
# ---------------------------------------------------------------------------


def test_zorder_bbox_tight(spark):
    rows = _run(spark, "zorder_layout_stats").collect()
    assert rows
    for r in rows:
        # 16 z-keys per file cover a 4x4 tile of the 16x16 grid
        assert r.bbox_area <= 16
        assert 0 <= r.px_min <= r.px_max <= 15
        assert 0 <= r.sx_min <= r.sx_max <= 15
    assert sum(r.n_rows for r in rows) > 0


# ---------------------------------------------------------------------------
# SCD2 point-in-time: version-2 customers resolve the uprated balance
# ---------------------------------------------------------------------------


def test_scd2_pit_resolves_versions(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = _run(spark, "scd2_point_in_time_join").collect()
    assert rows
    bal = {
        r.c_custkey: r.c_acctbal
        for r in read_table(spark, SF_SMOKE, "customer").collect()
    }
    for r in rows[:500]:
        v1_bal = bal[r.o_custkey]
        if r.as_of_version == 1 or r.o_custkey % 3 != 0:
            assert math.isclose(r.acctbal_as_of, v1_bal, abs_tol=1e-9)
        else:
            # v2 delta is +100.0 in pure IEEE double (r9: the old
            # round(bal*1.1, 2) hit cross-engine halfway cases at sf0.1)
            assert math.isclose(r.acctbal_as_of, v1_bal + 100.0, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# Holt forecast: literal-weight unrolling equals the direct recursion
# ---------------------------------------------------------------------------


def test_holt_matches_direct_recursion(spark):
    from ucl_data_pipeline_spark.plans.temporal import _HOLT_ALPHA, _HOLT_BETA, _HOLT_N
    from ucl_data_pipeline_spark.sources.io import read_table

    row = _run(spark, "holt_linear_forecast").collect()[0]
    daily = (
        read_table(spark, SF_SMOKE, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("rev"))
        .orderBy("day")
        .collect()
    )
    ys = [r.rev for r in daily][-_HOLT_N:]
    lvl, trd = ys[0], ys[1] - ys[0]
    for t in range(1, _HOLT_N):
        prev = lvl
        lvl = _HOLT_ALPHA * ys[t] + (1 - _HOLT_ALPHA) * (lvl + trd)
        trd = _HOLT_BETA * (lvl - prev) + (1 - _HOLT_BETA) * trd
    # per-term 6dp rounding in the registered query introduces <= n*5e-7
    assert math.isclose(row.forecast_next_revenue, lvl + trd, rel_tol=1e-6)
    assert row.last_day == daily[-1].day


# ---------------------------------------------------------------------------
# Bellman-Ford: matches a driver-side reference relaxation
# ---------------------------------------------------------------------------


def test_cheapest_route_matches_reference(spark):
    from ucl_data_pipeline_spark.plans.graph import _BF_ITER, _BF_SOURCE

    rows = {r.node: r.cost for r in _run(spark, "cheapest_route_nations").collect()}
    # rebuild the edge list with the same integer weights
    from ucl_data_pipeline_spark.sources.io import read_table

    l = read_table(spark, SF_SMOKE, "lineitem")
    o = read_table(spark, SF_SMOKE, "orders")
    c = read_table(spark, SF_SMOKE, "customer")
    s = read_table(spark, SF_SMOKE, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy("s_nationkey", "c_nationkey")
        .agg(
            F.floor(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / F.count("l_extendedprice")
            ).alias("w")
        )
        .collect()
    )
    dist = {_BF_SOURCE: 0}
    for _ in range(_BF_ITER):
        nxt = dict(dist)
        for e in edges:
            if e.s_nationkey in dist:
                cand = dist[e.s_nationkey] + e.w
                if e.c_nationkey not in nxt or cand < nxt[e.c_nationkey]:
                    nxt[e.c_nationkey] = cand
        dist = nxt
    for node, cost in rows.items():
        assert cost == dist.get(node), (node, cost, dist.get(node))


# ---------------------------------------------------------------------------
# Prefix filtering: pair set identical to brute-force theta-Jaccard
# ---------------------------------------------------------------------------


def test_prefix_filter_complete(spark):
    from ucl_data_pipeline_spark.plans.similarity import _rep_features

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _run(spark, "jaccard_prefix_filter_pairs").collect()
    }
    feats = {
        r.doc_id: set(r.feats) for r in _rep_features(spark, SF_SMOKE).collect()
    }
    ids = sorted(feats)
    want = {}
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            A, B = feats[da], feats[db]
            if not A or not B:
                continue
            inter = len(A & B)
            union = len(A) + len(B) - inter
            if union and 2 * inter >= union:
                want[(da, db)] = inter / union
    assert got == want


# ---------------------------------------------------------------------------
# Range partition planning: complete, balanced, ordered, disjoint
# ---------------------------------------------------------------------------


def test_range_partitions_balanced_ordered(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = sorted(
        _run(spark, "range_partition_boundaries").collect(),
        key=lambda r: r.partition_id,
    )
    n = read_table(spark, SF_SMOKE, "orders").count()
    assert [r.partition_id for r in rows] == list(range(8))
    assert sum(r.n_rows for r in rows) == n
    for r in rows:
        # discrete eighth-quantile split: within rounding of the ideal
        assert abs(r.n_rows - n / 8) <= 1 + n * 0.01
        assert r.price_lo <= r.price_hi
    for a, b in zip(rows, rows[1:]):
        assert a.price_hi <= b.price_lo


# ---------------------------------------------------------------------------
# HLL gate: exact counts match a direct distinct, all rows gated
# ---------------------------------------------------------------------------


def test_hll_gate_exact_and_passing(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = _run(spark, "hll_distinct_error_gate").collect()
    assert len(rows) == 25
    exact = {
        r.c_nationkey: r.n
        for r in read_table(spark, SF_SMOKE, "customer")
        .groupBy("c_nationkey")
        .agg(F.count_distinct("c_custkey").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.exact_cnt == exact[r.c_nationkey]
        assert r.within_10pct  # HLL at these cardinalities is ~2% worst-case


# ---------------------------------------------------------------------------
# Modularity: bounded, and matches a driver-side recomputation
# ---------------------------------------------------------------------------


def test_modularity_matches_reference(spark):
    row = _run(spark, "trade_modularity_score").collect()[0]
    assert -1.0 <= row.q_modularity <= 1.0
    from ucl_data_pipeline_spark.sources.io import read_table

    l = read_table(spark, SF_SMOKE, "lineitem")
    o = read_table(spark, SF_SMOKE, "orders")
    c = read_table(spark, SF_SMOKE, "customer")
    s = read_table(spark, SF_SMOKE, "supplier")
    n = {r.n_nationkey: r.n_regionkey
         for r in read_table(spark, SF_SMOKE, "nation").collect()}
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "c_nationkey")
        .agg(F.count("*").alias("w"))
        .collect()
    )
    m = sum(e.w for e in edges)
    w_in = sum(e.w for e in edges if n[e.s_nationkey] == n[e.c_nationkey])
    douts, dins = {}, {}
    for e in edges:
        douts[n[e.s_nationkey]] = douts.get(n[e.s_nationkey], 0) + e.w
        dins[n[e.c_nationkey]] = dins.get(n[e.c_nationkey], 0) + e.w
    dd = sum(douts.get(comm, 0) * dins.get(comm, 0)
             for comm in set(douts) | set(dins))
    assert row.m_edges == m
    assert math.isclose(row.q_modularity, w_in / m - dd / (m * m), abs_tol=1e-6)


# ---------------------------------------------------------------------------
# Readability: counts consistent with Python recomputation on a sample
# ---------------------------------------------------------------------------


def test_readability_counts(spark):
    import re

    from ucl_data_pipeline_spark.sources.io import read_table

    rows = {r.doc_id: r for r in _run(spark, "readability_scores").collect()}
    docs = read_table(spark, SF_SMOKE, "documents").limit(50).collect()
    for d in docs:
        r = rows[d.doc_id]
        assert r.n_words == len(re.split(r"\s+", d.text.strip().lower()))
        assert r.n_syllables == len(re.findall(r"[aeiouy]+", d.text.lower()))
        assert r.n_sentences == max(len(re.findall(r"[.!?]+", d.text)), 1)
        flesch = (206.835 - 1.015 * (r.n_words / r.n_sentences)
                  - 84.6 * (r.n_syllables / r.n_words))
        assert math.isclose(r.flesch_ease, round(flesch, 6), abs_tol=1e-6)


# ---------------------------------------------------------------------------
# Cross-correlation: lag 0 equals pandas corr of the two series
# ---------------------------------------------------------------------------


def test_crosscorr_lag0_matches_pandas(spark):
    import pandas as pd

    from ucl_data_pipeline_spark.sources.io import read_table

    rows = {r.lag: r for r in _run(spark, "crosscorr_event_series").collect()}
    assert set(rows) == set(range(-3, 4))
    pdf = read_table(spark, SF_SMOKE, "events").toPandas()
    pdf["day"] = pdf["ts"].dt.date
    x = pdf[pdf.event_type == "view"].groupby("day").size()
    y = pdf[pdf.event_type == "purchase"].groupby("day")["value"].sum()
    both = pd.concat([x.rename("x"), y.rename("y")], axis=1).fillna(0.0)
    r0 = both["x"].corr(both["y"])
    assert math.isclose(rows[0].r, r0, abs_tol=1e-4)
    for r in rows.values():
        assert -1.0 <= r.r <= 1.0


# ---------------------------------------------------------------------------
# Null-semantics surfaces
# ---------------------------------------------------------------------------


def test_null_safe_join_includes_null_group(spark):
    rows = _run(spark, "null_safe_join_surface").collect()
    assert len(rows) == 5  # groups 0..3 plus the NULL<=>NULL row
    null_rows = [r for r in rows if r.grp is None]
    assert len(null_rows) == 1
    assert null_rows[0].cust_cnt > 0 and null_rows[0].supp_cnt > 0


def test_not_in_null_trap(spark):
    row = _run(spark, "not_in_null_semantics").collect()[0]
    assert row.n_not_in == 0  # one NULL in the subquery poisons NOT IN
    assert row.n_not_exists > 0  # NOT EXISTS counts real orphans


# ---------------------------------------------------------------------------
# Constraint audit: clean synthetic data passes the domain rules
# ---------------------------------------------------------------------------


def test_constraint_audit_shape(spark):
    rows = {r.constraint_name: r for r in _run(spark, "constraint_violation_audit").collect()}
    assert set(rows) == {
        "quantity_positive", "discount_in_range", "price_positive",
        "lineitem_order_fk", "ship_after_order",
    }
    for r in rows.values():
        assert 0 <= r.n_violations <= r.n_checked


# ---------------------------------------------------------------------------
# Trending: exactly top-3 per hour, deltas consistent across hours
# ---------------------------------------------------------------------------


def test_trending_top3_consistent(spark):
    rows = _run(spark, "trending_event_types_hourly").collect()
    by_hr = {}
    for r in rows:
        by_hr.setdefault(r.hr, []).append(r)
    for hr, grp in by_hr.items():
        ranks = sorted(g.rnk for g in grp)
        assert ranks == list(range(1, len(grp) + 1)) and len(grp) <= 3
        counts = sorted((g.cnt for g in grp), reverse=True)
        assert [g.cnt for g in sorted(grp, key=lambda g: g.rnk)] == counts


# ---------------------------------------------------------------------------
# Recursive CTE reachability agrees with the iterative BFS engine op
# ---------------------------------------------------------------------------


def test_recursive_matches_reference_bfs(spark):
    from ucl_data_pipeline_spark.plans.tpch import _REC_DEPTH, _REC_SOURCE
    from ucl_data_pipeline_spark.sources.io import read_table

    got = {r.node: r.min_depth
           for r in _run(spark, "recursive_reachability_sql").collect()}
    assert got[_REC_SOURCE] == 0
    # reference: python BFS over the same distinct edge list
    l = read_table(spark, SF_SMOKE, "lineitem")
    o = read_table(spark, SF_SMOKE, "orders")
    c = read_table(spark, SF_SMOKE, "customer")
    s = read_table(spark, SF_SMOKE, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select("s_nationkey", "c_nationkey")
        .distinct()
        .collect()
    )
    adj = {}
    for e in edges:
        adj.setdefault(e.s_nationkey, []).append(e.c_nationkey)
    dist = {_REC_SOURCE: 0}
    frontier = [_REC_SOURCE]
    for d in range(1, _REC_DEPTH + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    assert got == dist


# ---------------------------------------------------------------------------
# Skew profile: shares and factors consistent
# ---------------------------------------------------------------------------


def test_skew_profile_consistent(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = _run(spark, "skew_key_profile").collect()
    assert len(rows) == 10
    li = read_table(spark, SF_SMOKE, "lineitem")
    total = li.count()
    n_keys = li.select("l_partkey").distinct().count()
    counts = sorted((r.cnt for r in rows), reverse=True)
    assert [r.cnt for r in rows] == counts  # descending
    for r in rows:
        assert math.isclose(r.pct_of_rows, round(r.cnt / total, 6), abs_tol=1e-9)
        assert math.isclose(
            r.skew_factor, round(r.cnt * n_keys / total, 6), abs_tol=1e-9
        )


# ---------------------------------------------------------------------------
# Pattern matches are a subset of full-funnel users, strictly consecutive
# ---------------------------------------------------------------------------


def test_pattern_vvp_consecutive(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    got = {r.user_id: r.n_matches for r in _run(spark, "event_pattern_vvp").collect()}
    assert got and all(v >= 1 for v in got.values())
    # recompute for the matched users
    ev = (
        read_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id").isin(*list(got)[:20]))
        .orderBy("user_id", "ts", "event_id")
        .collect()
    )
    seqs = {}
    for r in ev:
        seqs.setdefault(r.user_id, []).append(r.event_type)
    for uid, types in seqs.items():
        if uid not in got:
            continue
        n = sum(
            1
            for i in range(len(types) - 2)
            if types[i] == "view" and types[i + 1] == "view"
            and types[i + 2] == "purchase"
        )
        assert got[uid] == n


# ---------------------------------------------------------------------------
# argmax surface: returned names actually hold the extreme balances
# ---------------------------------------------------------------------------


def test_argmax_surface_extremes(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = _run(spark, "argmax_surface").collect()
    cust = read_table(spark, SF_SMOKE, "customer").collect()
    by_nation = {}
    for c in cust:
        by_nation.setdefault(c.c_nationkey, []).append(c)
    for r in rows:
        grp = by_nation[r.c_nationkey]
        key = lambda c: (round(c.c_acctbal * 100), c.c_custkey)  # noqa: E731
        assert r.richest_customer == max(grp, key=key).c_name
        assert r.poorest_customer == min(grp, key=key).c_name
        assert math.isclose(r.max_bal, max(c.c_acctbal for c in grp))
        assert math.isclose(r.min_bal, min(c.c_acctbal for c in grp))


# ---------------------------------------------------------------------------
# Bayesian smoothing: shrinks toward the prior, bounded by raw mean
# ---------------------------------------------------------------------------


def test_bayes_shrinks_toward_prior(spark):
    rows = _run(spark, "bayesian_smoothed_rating").collect()
    assert rows
    # global prior ~ weighted mean of raw means
    total_n = sum(r.n_parts for r in rows)
    prior = sum(r.raw_mean * r.n_parts for r in rows) / total_n
    for r in rows:
        lo, hi = sorted((r.raw_mean, prior))
        assert lo - 1e-6 <= r.smoothed_mean <= hi + 1e-6


# ---------------------------------------------------------------------------
# Session histogram: totals match event count via length-weighted sum
# ---------------------------------------------------------------------------


def test_session_histogram_totals(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = _run(spark, "session_length_histogram").collect()
    assert rows
    n_events = read_table(spark, SF_SMOKE, "events").count()
    # capped lengths: buckets < 10 contribute len*count exactly
    uncapped = sum(
        r.session_len_capped * r.n_sessions
        for r in rows
        if r.session_len_capped < 10
    )
    capped_sessions = sum(r.n_sessions for r in rows if r.session_len_capped == 10)
    assert uncapped + 10 * capped_sessions <= n_events
    assert uncapped + 10 * capped_sessions > 0


# ---------------------------------------------------------------------------
# Chi-square + MI vs scipy-free reference on the contingency table
# ---------------------------------------------------------------------------


def _contingency(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = (
        read_table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("o"))
        .collect()
    )
    return {(r.l_returnflag, r.l_linestatus): r.o for r in rows}


def test_chi_square_matches_reference(spark):
    row = _run(spark, "chi_square_independence").collect()[0]
    obs = _contingency(spark)
    n = sum(obs.values())
    rt = {}
    ct = {}
    for (rf, ls), o in obs.items():
        rt[rf] = rt.get(rf, 0) + o
        ct[ls] = ct.get(ls, 0) + o
    chi2 = sum(
        round((o - rt[rf] * ct[ls] / n) ** 2 / (rt[rf] * ct[ls] / n), 6)
        for (rf, ls), o in obs.items()
    )
    assert row.n_rows == n
    assert row.dof == (len(rt) - 1) * (len(ct) - 1)
    assert math.isclose(row.chi2, chi2, abs_tol=1e-5)
    v = math.sqrt(row.chi2 / (n * min(len(rt) - 1, len(ct) - 1)))
    assert math.isclose(row.cramers_v, v, abs_tol=1e-5)
    assert 0.0 <= row.cramers_v <= 1.0


def test_mutual_information_nonneg_reference(spark):
    row = _run(spark, "mutual_information_flags").collect()[0]
    obs = _contingency(spark)
    n = sum(obs.values())
    rt = {}
    ct = {}
    for (rf, ls), o in obs.items():
        rt[rf] = rt.get(rf, 0) + o
        ct[ls] = ct.get(ls, 0) + o
    mi = sum(
        round((o / n) * math.log(o * n / (rt[rf] * ct[ls])), 6)
        for (rf, ls), o in obs.items()
    )
    assert math.isclose(row.mutual_info_nats, mi, abs_tol=1e-5)
    # MI of the empirical joint is >= 0 up to per-term rounding
    assert row.mutual_info_nats >= -1e-5


# ---------------------------------------------------------------------------
# Churn flags vs direct recomputation
# ---------------------------------------------------------------------------


def test_churn_flags_reference(spark):
    import datetime

    from ucl_data_pipeline_spark.sources.io import read_table

    rows = {r.user_id: r for r in _run(spark, "churn_resurrection_stats").collect()}
    ev = read_table(spark, SF_SMOKE, "events").select("user_id", "ts").collect()
    last = {}
    cnt = {}
    for r in ev:
        cnt[r.user_id] = cnt.get(r.user_id, 0) + 1
        if r.user_id not in last or r.ts > last[r.user_id]:
            last[r.user_id] = r.ts
    max_ts = max(last.values())
    for uid, r in rows.items():
        assert r.n_events == cnt[uid]
        assert r.churned == (last[uid] < max_ts - datetime.timedelta(days=14))
        assert 0 <= r.n_resurrections < r.n_events


# ---------------------------------------------------------------------------
# l-diversity never passes below l distinct and vice versa
# ---------------------------------------------------------------------------


def test_l_diversity_consistent(spark):
    rows = _run(spark, "l_diversity_check").collect()
    assert rows
    for r in rows:
        assert r.l_diverse == (r.n_sensitive >= 3)
        assert 1 <= r.n_sensitive <= min(r.group_size, 5)  # 5 segments exist


# ---------------------------------------------------------------------------
# Out-of-order stats: late fraction sane, high-water monotone logic
# ---------------------------------------------------------------------------


def test_out_of_order_stats(spark):
    rows = _run(spark, "out_of_order_stats").collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.n_late <= r.n_events
        assert r.max_late_seconds >= 0
        if r.n_late == 0:
            assert r.max_late_seconds == 0


# ---------------------------------------------------------------------------
# Epoch shuffle: reproducible, epoch-varying, all docs dealt each epoch
# ---------------------------------------------------------------------------


def test_epoch_shuffle_deals_all_docs(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = _run(spark, "epoch_shuffle_shards").collect()
    n_docs = read_table(spark, SF_SMOKE, "documents").count()
    sum_ids = (
        read_table(spark, SF_SMOKE, "documents")
        .agg(F.sum("doc_id"))
        .collect()[0][0]
    )
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == {0, 1, 2}
    fingerprints = set()
    for epoch, grp in by_epoch.items():
        assert sum(g.n_docs for g in grp) == n_docs
        assert sum(g.sum_doc_ids for g in grp) == sum_ids
        fingerprints.add(tuple(sorted((g.shard, g.n_docs, g.sum_doc_ids) for g in grp)))
    # different epochs produce different deals
    assert len(fingerprints) == 3


# ---------------------------------------------------------------------------
# Language mix: shares sum to ~1 per source, entropy bounds
# ---------------------------------------------------------------------------


def test_language_mix_shares_and_entropy(spark):
    rows = _run(spark, "doc_language_mix").collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, grp in by_source.items():
        assert abs(sum(g.share for g in grp) - 1.0) < 1e-4
        n_langs = len(grp)
        ent = grp[0].lang_entropy
        assert all(abs(g.lang_entropy - ent) < 1e-9 for g in grp)
        assert -1e-6 <= ent <= math.log(n_langs) + 1e-6


# ---------------------------------------------------------------------------
# Norm quantiles ordered and within data range
# ---------------------------------------------------------------------------


def test_norm_quantiles_ordered(spark):
    rows = _run(spark, "embedding_norm_quantiles").collect()
    assert rows
    for r in rows:
        assert 0 < r.norm_p25 <= r.norm_p50 <= r.norm_p75


# ---------------------------------------------------------------------------
# Export rotation invariants (mechanized so the prefix can't rot)
# ---------------------------------------------------------------------------


def test_export_rotation_invariants():
    from ucl_data_pipeline_spark.plans import REGISTRY, registry

    assert len(registry.EXPORT_FIRST) <= 50
    assert len(set(registry.EXPORT_FIRST)) == len(registry.EXPORT_FIRST)
    missing = [n for n in registry.EXPORT_FIRST if n not in REGISTRY]
    assert not missing, f"EXPORT_FIRST names not registered: {missing}"
    order = list(registry.all_queries())
    assert order[: len(registry.EXPORT_FIRST)] == [
        n for n in registry.EXPORT_FIRST
    ]


# ---------------------------------------------------------------------------
# Join-size prediction is exact on full histograms
# ---------------------------------------------------------------------------


def test_join_size_prediction_exact(spark):
    row = _run(spark, "join_size_from_histograms").collect()[0]
    assert row.histogram_exact
    assert row.predicted_rows == row.actual_rows > 0


# ---------------------------------------------------------------------------
# HHI/CR4 bounds and reference recomputation
# ---------------------------------------------------------------------------


def test_hhi_cr4_reference(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    row = _run(spark, "market_concentration_hhi").collect()[0]
    rev = (
        read_table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double").alias("r"))
        .collect()
    )
    total = sum(r.r for r in rev)
    shares = sorted((round(r.r / total, 6) for r in rev), reverse=True)
    assert row.n_suppliers == len(shares)
    assert math.isclose(row.hhi, sum(round(s * s, 6) for s in shares), abs_tol=1e-5)
    assert math.isclose(row.cr4, sum(shares[:4]), abs_tol=1e-5)
    assert 1.0 / len(shares) - 1e-6 <= row.hhi <= 1.0
    assert 0.0 < row.cr4 <= 1.0


# ---------------------------------------------------------------------------
# Calendar spine: contiguous span, weekend counts plausible
# ---------------------------------------------------------------------------


def test_calendar_spine_contiguous(spark):
    import datetime

    from ucl_data_pipeline_spark.sources.io import read_table

    rows = _run(spark, "calendar_dim_coverage").collect()
    o = read_table(spark, SF_SMOKE, "orders").agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    ).collect()[0]
    span_days = (o.d1 - o.d0).days + 1
    assert sum(r.n_days for r in rows) == span_days
    for r in rows:
        assert 1 <= r.n_days <= 31
        assert 0 <= r.n_weekend_days <= 10
        assert 0 <= r.n_days_with_orders <= r.n_days


# ---------------------------------------------------------------------------
# Share-of-parent: shares sum to 1 within region and overall
# ---------------------------------------------------------------------------


def test_share_of_parent_sums(spark):
    rows = _run(spark, "share_of_parent_rollup").collect()
    by_region = {}
    for r in rows:
        by_region.setdefault(r.region, []).append(r)
    for region, grp in by_region.items():
        assert abs(sum(g.pct_of_region for g in grp) - 1.0) < 1e-4
    assert abs(sum(g.pct_of_total for g in rows) - 1.0) < 1e-4


# ---------------------------------------------------------------------------
# Modern SQL surfaces (extras15)
# ---------------------------------------------------------------------------


def test_variant_extract_matches_from_json(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = {r.event_id: r for r in _run(spark, "variant_extract_surface").collect()}
    ref = (
        read_table(spark, SF_SMOKE, "events")
        .filter(F.col("props").isNotNull())
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .collect()
    )
    assert len(rows) == len(ref) > 0
    for r in ref:
        assert rows[r.event_id].prop_k == r.k
        assert rows[r.event_id].prop_missing is None


def test_listagg_sorted_distinct(spark):
    rows = _run(spark, "listagg_surface").collect()
    assert len(rows) == 25
    for r in rows:
        segs = r.segments_csv.split(",")
        assert segs == sorted(set(segs))
        assert r.n_segments == len(segs)


def test_bag_set_ops_multiplicities(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    from collections import Counter

    o = read_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_orderpriority").collect()
    a = Counter(r.o_orderpriority for r in o if r.o_orderkey % 2 == 0)
    b = Counter(r.o_orderpriority for r in o if r.o_orderkey % 2 == 1)
    got = Counter()
    for r in _run(spark, "bag_set_ops_surface").collect():
        got[(r.op, r.pri)] += 1
    for pri in set(a) | set(b):
        assert got.get(("except_all", pri), 0) == max(a[pri] - b[pri], 0)
        assert got.get(("intersect_all", pri), 0) == min(a[pri], b[pri])


def test_bitmap_distinct_exact(spark):
    rows = _run(spark, "bitmap_distinct_counts").collect()
    assert len(rows) == 25
    for r in rows:
        assert r.bitmap_exact
        assert r.n_distinct_bitmap == r.n_distinct_exact > 0


# ---------------------------------------------------------------------------
# Corpus intake profile ops (extras15 tail)
# ---------------------------------------------------------------------------


def test_dedup_rate_consistent(spark):
    rows = _run(spark, "doc_dedup_rate_by_source").collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_unique_texts <= r.n_docs
        assert math.isclose(
            r.dup_rate, round(1.0 - r.n_unique_texts / r.n_docs, 6), abs_tol=1e-9
        )


def test_token_budget_histogram_mass(spark):
    from ucl_data_pipeline_spark.sources.io import read_table

    rows = _run(spark, "token_budget_histogram").collect()
    n_docs = read_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert 0 <= r.bucket_25 <= 8
        lo = r.bucket_25 * 25
        assert r.total_tokens >= lo * r.n_docs
