"""Round-8 batch 14 depth tests: numpy/python references for the
SemDeDup prune decision, the DP sensitivity clip fractions, and the
Dirichlet query-likelihood ranking — plus the two structural claims
(seeded copies ARE pruned; QL and BM25 rank differently)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def test_semdedup_prunes_seeded_copies_and_matches_numpy(spark):
    from ucl_data_pipeline_spark.plans.similarity import K
    from ucl_data_pipeline_spark.plans.similarity import (
        _SEM_THETA,
        semdedup_cluster_prune,
    )

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    base = {r.vec_id: np.asarray(r.embedding, np.float64) for r in emb.itertuples()}
    universe = dict(base)
    for vid in list(base):
        if vid % 10 == 0:
            universe[vid + 1000000] = base[vid] * 0.5
    centers = {cid: base[cid] for cid in range(K)}

    def assign(v):
        d2 = {c: float(((v - cv) ** 2).sum()) for c, cv in centers.items()}
        return min(d2, key=lambda c: (d2[c], c))

    cid = {vid: assign(v) for vid, v in universe.items()}

    rows = {r.cluster_id: r for r in semdedup_cluster_prune(spark, SF_DIR).collect()}
    assert len(rows) == K
    # inventory: cluster sizes match the numpy assignment
    sizes = Counter(cid.values())
    for c in range(K):
        assert rows[c].n_points == sizes[c], (c, rows[c].n_points, sizes[c])
    # every seeded copy has cosine 1.0 to its original (same cluster,
    # same sign bucket) → at least one member of each (orig, copy)
    # pair must be pruned; totals are therefore ≥ the copy count that
    # shares a cluster with its original
    n_pairs = sum(r.n_dup_pairs for r in rows.values())
    n_pruned = sum(r.n_pruned for r in rows.values())
    copies_same_cluster = sum(
        1
        for vid in base
        if vid % 10 == 0 and cid[vid] == cid[vid + 1000000]
    )
    assert n_pairs >= copies_same_cluster > 0
    assert 0 < n_pruned <= n_pairs
    # prune rule: the pruned member of an (orig, 0.5·orig) pair is
    # the one with HIGHER centroid cosine — scaling preserves cosine,
    # so csim ties exactly and the rule falls to GREATEST(id) = copy.
    # Spot-check: cosine(v, c) == cosine(0.5v, c) in float arithmetic.
    v = base[0]
    c = centers[cid[0]]
    cos1 = float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
    half = v * 0.5
    cos2 = float(half @ c / (np.linalg.norm(half) * np.linalg.norm(c)))
    assert cos1 == cos2
    del _SEM_THETA  # referenced for import-sanity


def test_dp_sensitivity_matches_pandas(spark):
    from ucl_data_pipeline_spark.plans.stats import dp_sensitivity_audit

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev["v"] = ev.value.round(2)
    contrib = ev.groupby(["event_type", "user_id"]).agg(
        n=("event_id", "size"), s=("v", "sum")
    )
    rows = {r.event_type: r for r in dp_sensitivity_audit(spark, SF_DIR).collect()}
    for et, sub in contrib.groupby(level=0):
        n_ev = sub.n.to_numpy()
        v = np.round(sub.s.to_numpy(), 2)
        sv_n = np.sort(n_ev)
        p99_n = sv_n[math.ceil(len(sv_n) * 0.99) - 1]
        sv_v = np.sort(v)
        p99_v = sv_v[math.ceil(len(sv_v) * 0.99) - 1]
        r = rows[et]
        assert r.n_users == len(sub)
        assert r.max_count == n_ev.max()
        assert r.p99_count == p99_n
        assert abs(r.max_value - round(v.max(), 2)) < 1e-9
        assert abs(r.p99_value - round(p99_v, 2)) < 1e-9
        kept_n = np.minimum(n_ev, p99_n).sum() / n_ev.sum()
        kept_v = np.minimum(v, round(p99_v, 2)).sum() / v.sum()
        assert abs(r.count_kept_frac - round(kept_n, 6)) < 2e-6
        assert abs(r.value_kept_frac - kept_v) < 1e-4
        # clipping keeps most mass but the max contributor is clipped
        assert r.count_kept_frac <= 1.0
        assert r.max_count >= r.p99_count


def test_query_likelihood_matches_python_and_differs_from_bm25(spark):
    from ucl_data_pipeline_spark.plans.text import (
        _QL_MU,
        _QL_TERMS,
        _QL_TOPN,
        query_likelihood_dirichlet,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    toks = {r.doc_id: r.text.strip().lower().split() for r in docs.itertuples()}
    cf = Counter()
    csize = 0
    for t in toks.values():
        csize += len(t)
        for w in t:
            if w in _QL_TERMS:
                cf[w] += 1
    scores = {}
    nmatch = {}
    for did, t in toks.items():
        tf = Counter(w for w in t if w in _QL_TERMS)
        if not tf:
            continue
        s = 0.0
        for term in _QL_TERMS:
            p = (tf.get(term, 0) + _QL_MU * (cf[term] / csize)) / (
                len(t) + _QL_MU
            )
            s += round(math.log2(p), 12)
        scores[did] = round(s, 6)
        nmatch[did] = sum(1 for term in _QL_TERMS if tf.get(term, 0) > 0)
    expect = sorted(scores, key=lambda d: (-scores[d], d))[:_QL_TOPN]

    rows = query_likelihood_dirichlet(spark, SF_DIR).collect()
    assert len(rows) == _QL_TOPN
    by_rank = sorted(rows, key=lambda r: r.rank)
    for r, did in zip(by_rank, expect):
        assert r.doc_id == did, (r.rank, r.doc_id, did)
        assert abs(r.ql_score - scores[did]) < 2e-6
        assert r.n_terms_matched == nmatch[did]

    # the two rankers must actually disagree somewhere in their
    # top-20 ordering (they weight length/absent terms differently)
    from ucl_data_pipeline_spark.plans.text import bm25_doc_ranking

    bm25 = [
        r.doc_id
        for r in sorted(bm25_doc_ranking(spark, SF_DIR).collect(), key=lambda r: r.rank)
    ]
    ql = [r.doc_id for r in by_rank]
    assert bm25 != ql
