"""Round-8 batch 6 depth tests: k-core fixpoint, attribution
accounting identity, and pure-Python third-engine references for the
t-closeness TVD and the binned one-vs-rest AUC (both engines share the
SQL-ish spelling; the numpy/pandas reference shares neither engine's
code path, so agreement rules out a common-mode spelling error)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_kcore_six_rounds_is_a_fixpoint(spark):
    """kcore_copurchase freezes the superstep count at 6; the claim
    that 6 is PAST the fixpoint (so the output is the true 2-core, not
    a truncation) must hold at sf0.01 where peeling is non-trivial
    (3 measured peel rounds): round 5 and round 6 outputs are
    identical, and peeling actually removed nodes vs round 0."""
    from ucl_data_pipeline_spark.plans.graph import kcore_peel

    sf = "/root/testdata/sf0.01"
    r5 = {tuple(r) for r in kcore_peel(spark, sf, 5).collect()}
    r6 = {tuple(r) for r in kcore_peel(spark, sf, 6).collect()}
    r0 = {tuple(r) for r in kcore_peel(spark, sf, 0).collect()}
    assert r5 == r6, "superstep 6 is not a fixpoint at sf0.01"
    assert len(r0) > len(r6), "peeling removed nothing — k/support too low"


def test_attribution_columns_sum_to_total_conversion_value(spark, sf_dir):
    """Every attribution model is an ALLOCATION of conversion value:
    with the '(unattributed)' bucket included, each of the four model
    columns must sum (across channels) to the total purchase value.
    Tolerance covers only the per-term ROUND(...,12)/ROUND(...,6)
    quantization."""
    from ucl_data_pipeline_spark.plans.tpch import attribution_multi_touch
    from ucl_data_pipeline_spark.sources.io import read_table

    total = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"))
        .collect()[0][0]
    )
    rows = attribution_multi_touch(spark, sf_dir).collect()
    for col in ("td_value", "linear_value", "first_value", "last_value"):
        got = sum(r[col] for r in rows)
        assert abs(got - total) < 1e-4, (col, got, total)


def test_t_closeness_matches_pandas_reference(spark, sf_dir):
    """TVD per QI group recomputed straight from the parquet with
    pandas (float formula, no integer restatement) must agree with the
    exact-integer Spark spelling to the rounding the query emits."""
    from ucl_data_pipeline_spark.plans.aggregates import t_closeness_check

    df = pd.read_parquet(f"{sf_dir}/customer.parquet")
    df["bal_band"] = np.floor(df.c_acctbal / 2000).astype(int)
    n = len(df)
    glob = df.c_mktsegment.value_counts() / n
    got = {
        (r.c_nationkey, r.bal_band): (r.group_size, r.tvd)
        for r in t_closeness_check(spark, sf_dir).collect()
    }
    groups = df.groupby(["c_nationkey", "bal_band"])
    assert len(got) == groups.ngroups
    for (nat, band), sub in groups:
        p = sub.c_mktsegment.value_counts() / len(sub)
        tvd = 0.5 * sum(
            abs(p.get(s, 0.0) - glob[s]) for s in glob.index
        )
        size, got_tvd = got[(int(nat), int(band))]
        assert size == len(sub)
        assert abs(got_tvd - tvd) < 1e-6, (nat, band, got_tvd, tvd)


def test_auc_matches_bruteforce_pairwise(spark, sf_dir):
    """The grain-count AUC must equal the textbook pairwise
    definition P(b_pos > b_neg) + ½P(=) computed by brute force over
    the quantized buckets (numpy outer comparison — viable at
    sf0.001's doc count, independent of both engines' window/agg
    spellings)."""
    from ucl_data_pipeline_spark.plans.stats import _AUC_BUCKETS, auc_quality_langid
    from ucl_data_pipeline_spark.plans.text import text_quality_score

    q = {
        r.doc_id: r.quality_score
        for r in text_quality_score(spark, sf_dir)
        .select("doc_id", "quality_score")
        .collect()
        if r.quality_score is not None
    }
    lang = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "lang"]]
    lang = lang[lang.doc_id.isin(q)]
    b = np.floor(np.array([q[d] for d in lang.doc_id]) * _AUC_BUCKETS).astype(
        int
    )
    langs = lang.lang.to_numpy()
    for r in auc_quality_langid(spark, sf_dir).collect():
        pos = b[langs == r.lang]
        neg = b[langs != r.lang]
        assert r.n_pos == len(pos) and r.n_neg == len(neg)
        cmp = pos[:, None] - neg[None, :]
        auc = ((cmp > 0).sum() + 0.5 * (cmp == 0).sum()) / (
            len(pos) * len(neg)
        )
        assert abs(r.auc - auc) < 1e-6, (r.lang, r.auc, auc)
        assert abs(r.gini - (2 * auc - 1)) < 1e-6


def test_clustering_coeff_matches_bruteforce(spark, sf_dir):
    """Per-node triangles and coefficients recomputed by brute-force
    set intersection over the same support>=2 edge list (pure Python,
    no degree ordering, no SQL) — agreement proves the compact-forward
    orientation counts every triangle exactly once."""
    from ucl_data_pipeline_spark.plans.graph import clustering_coeff_copurchase

    df = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    from collections import Counter, defaultdict
    from itertools import combinations

    pair_count: Counter = Counter()
    for _, grp in df.groupby("l_orderkey"):
        for a, b in combinations(sorted(grp.l_partkey), 2):
            pair_count[(a, b)] += 1
    adj = defaultdict(set)
    for (a, b), w in pair_count.items():
        if w >= 2:
            adj[a].add(b)
            adj[b].add(a)
    rows = clustering_coeff_copurchase(spark, sf_dir).collect()
    assert len(rows) == len(adj)
    for r in rows:
        nbrs = adj[r.part]
        d = len(nbrs)
        tri = sum(len(adj[u] & nbrs) for u in nbrs) // 2
        cc = 2.0 * tri / (d * (d - 1)) if d >= 2 else 0.0
        assert r.degree == d and r.n_triangles == tri, (r.part, r, d, tri)
        assert abs(r.clustering_coeff - cc) < 1e-6


def test_markov_stationary_converged_and_matches_numpy(spark, sf_dir):
    """The 8-step power iterate must (a) carry a last-step residual
    ~0 (the convergence witness the abs_delta column exists for),
    (b) sum to ~1, and (c) match an independent numpy power iteration
    from the same registered transition matrix."""
    from ucl_data_pipeline_spark.plans.temporal import event_transition_matrix
    from ucl_data_pipeline_spark.plans.temporal import (
        _MARKOV_ITERS,
        markov_stationary_events,
    )

    tm = event_transition_matrix(spark, sf_dir).collect()
    states = sorted({r.from_type for r in tm})
    idx = {s: i for i, s in enumerate(states)}
    P = np.zeros((len(states), len(states)))
    for r in tm:
        P[idx[r.from_type], idx[r.to_type]] = r.p_transition
    pi = np.full(len(states), 1.0 / len(states))
    for _ in range(_MARKOV_ITERS):
        pi = pi @ P
    rows = markov_stationary_events(spark, sf_dir).collect()
    assert len(rows) == len(states)
    assert abs(sum(r.stationary_p for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.abs_delta < 1e-9, "power method did not converge"
        assert abs(r.stationary_p - pi[idx[r.event_type]]) < 1e-5


def test_reciprocal_best_match_properties_and_reconstruction(spark, sf_dir):
    """RBM output must (a) be reconstructible from the scored
    candidate list by an independent python argmax+mutuality pass and
    (b) be a PARTIAL MATCHING: mutual-best pairs are disjoint — no
    document appears in two output pairs."""
    from ucl_data_pipeline_spark.plans.similarity import reciprocal_best_match
    from ucl_data_pipeline_spark.plans.similarity import (
        _rep_features,
        lsh_candidate_pairs,
    )

    feats = _rep_features(spark, sf_dir)
    cand = lsh_candidate_pairs(feats)
    fa = feats.select(F.col("doc_id").alias("doc_a"), F.col("feats").alias("fa"))
    fb = feats.select(F.col("doc_id").alias("doc_b"), F.col("feats").alias("fb"))
    inter = F.size(F.array_intersect("fa", "fb"))
    union = F.size("fa") + F.size("fb") - inter
    scored = (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("j"),
        )
        .collect()
    )
    best: dict = {}
    for r in scored:
        for doc, partner in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            cur = best.get(doc)
            if cur is None or (-r.j, partner) < (-cur[1], cur[0]):
                best[doc] = (partner, r.j)
    expect = {
        (d, p[0], round(p[1], 6))
        for d, p in best.items()
        if d < p[0] and best.get(p[0], (None,))[0] == d
    }
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in reciprocal_best_match(spark, sf_dir).collect()
    }
    assert got == expect
    seen: set = set()
    for a, b, _ in got:
        assert a not in seen and b not in seen, "RBM pairs must be disjoint"
        seen.update((a, b))


def test_bag_jaccard_matches_python_token_bags(spark, sf_dir):
    """Bag and set Jaccard recomputed from raw python token COUNTERS
    (str.lower().split() — the python twin of TX.tokens) over the same
    candidate pairs; also asserts bag_jaccard <= set_jaccard is NOT
    required (repetition can push either way) but both are in [0,1]."""
    from collections import Counter

    from ucl_data_pipeline_spark.plans.similarity import bag_jaccard_pairs

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    rep = docs.loc[docs.groupby("text").doc_id.idxmin()]
    bags = {
        r.doc_id: Counter(str(r.text).lower().strip().split())
        for r in rep.itertuples()
    }
    for r in bag_jaccard_pairs(spark, sf_dir).collect():
        ca, cb = bags[r.doc_a], bags[r.doc_b]
        smin = sum(min(ca[t], cb[t]) for t in ca.keys() & cb.keys())
        bag = smin / (sum(ca.values()) + sum(cb.values()) - smin)
        inter = len(ca.keys() & cb.keys())
        st = inter / (len(ca) + len(cb) - inter)
        assert abs(r.bag_jaccard - bag) < 1e-6, (r.doc_a, r.doc_b)
        assert abs(r.set_jaccard - st) < 1e-6
        assert 0.0 <= r.bag_jaccard <= 1.0 and 0.0 <= r.set_jaccard <= 1.0


def test_quality_gate_disparity_structure_and_pandas_rates(spark, sf_dir):
    """Per threshold: exactly one language carries impact_ratio 1.0,
    all ratios are in (0, 1], the flag equals ratio < 0.8, and the
    pass counts match a pandas recount from the registered quality
    scores."""
    from ucl_data_pipeline_spark.plans.text import quality_gate_disparity
    from ucl_data_pipeline_spark.plans.text import text_quality_score

    q = {
        r.doc_id: r.quality_score
        for r in text_quality_score(spark, sf_dir).collect()
        if r.quality_score is not None
    }
    lang = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "lang"]]
    lang = lang[lang.doc_id.isin(q)]
    rows = quality_gate_disparity(spark, sf_dir).collect()
    by_thresh: dict = {}
    for r in rows:
        by_thresh.setdefault(r.threshold, []).append(r)
        sub = lang[lang.lang == r.lang]
        n_pass = sum(q[d] >= r.threshold for d in sub.doc_id)
        assert r.n_docs == len(sub) and r.n_pass == n_pass, r
        assert 0.0 < r.impact_ratio <= 1.0
        assert r.below_four_fifths == (r.impact_ratio < 0.8)
    assert len(by_thresh) == 2
    for t, grp in by_thresh.items():
        assert sum(1 for r in grp if r.impact_ratio == 1.0) == 1, t
