"""Round-8 batch 27 depth tests: numpy/python references for SMART
ltc VSM ranking, Rocchio PRF re-ranking, and ERR@10 — plus the
cross-metric laws (ERR <= MRR term-by-term; PRF keeps the feedback
set near the top; VSM/BM25 rank the same corpus sensibly)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _docs():
    d = pd.read_parquet(f"{SF_DIR}/documents.parquet").sort_values("doc_id")
    return [(r.doc_id, r.text.strip().lower().split()) for r in d.itertuples()]


def test_vsm_matches_reference(spark):
    from ucl_data_pipeline_spark.plans.text import (
        _VSM_TERMS,
        _VSM_TOPN,
        vsm_tfidf_ranking,
    )

    docs = _docs()
    n = len(docs)
    df = Counter()
    tfs = {}
    for doc_id, toks in docs:
        tf = Counter(toks)
        tfs[doc_id] = tf
        for t in tf:
            df[t] += 1
    qw = {t: math.log(n / df[t]) for t in _VSM_TERMS if t in df}
    qn = math.sqrt(sum(round(w * w, 12) for w in qw.values()))
    scored = {}
    for doc_id, tf in tfs.items():
        wd = {
            t: round((1 + math.log(c)) * math.log(n / df[t]), 12)
            for t, c in tf.items()
        }
        nrm = math.sqrt(sum(round(w * w, 12) for w in wd.values()))
        dp = sum(round(wd[t] * round(qw[t], 12), 12) for t in qw if t in wd)
        if dp > 0:
            scored[doc_id] = round(dp / (nrm * qn), 6)
    expect = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:_VSM_TOPN]

    rows = vsm_tfidf_ranking(spark, SF_DIR).collect()
    assert len(rows) == _VSM_TOPN
    for r, (doc_id, sc) in zip(rows, expect):
        assert r.doc_id == doc_id
        assert abs(r.vsm_score - sc) < 2e-6
    # cosine-normalized scores live in [0, 1]
    assert all(0.0 <= r.vsm_score <= 1.0 + 1e-9 for r in rows)


def _emb():
    e = pd.read_parquet(f"{SF_DIR}/embeddings.parquet").sort_values("vec_id")
    return e.vec_id.to_numpy(), np.stack(e.embedding.to_numpy()).astype(float), e.label.to_numpy()


def test_rocchio_matches_numpy(spark):
    from ucl_data_pipeline_spark.plans.similarity import (
        _PRF_FB,
        _PRF_QUERY_ID,
        _PRF_TOPN,
        rocchio_prf_rerank,
    )

    ids, X, _ = _emb()
    qi = int(np.where(ids == _PRF_QUERY_ID)[0][0])
    mask = ids != _PRF_QUERY_ID

    def ranks(qv):
        Xs, idss = X[mask], ids[mask]
        cos = (Xs @ qv) / (
            np.linalg.norm(Xs, axis=1) * np.linalg.norm(qv)
        )
        order = sorted(range(len(idss)), key=lambda i: (-cos[i], idss[i]))
        return {idss[i]: r + 1 for r, i in enumerate(order)}

    r0 = ranks(X[qi])
    fb_ids = sorted(r0, key=r0.get)[:_PRF_FB]
    fb_rows = np.stack([X[np.where(ids == v)[0][0]] for v in fb_ids])
    centroid = np.round(fb_rows.mean(axis=0), 6)
    r1 = ranks(centroid)

    rows = rocchio_prf_rerank(spark, SF_DIR).collect()
    assert len(rows) == _PRF_TOPN
    for r in rows:
        assert r.rank_after == r1[r.vec_id]
        assert r.rank_before == r0[r.vec_id]
    # the feedback docs themselves should remain highly ranked: the
    # centroid is literally their mean
    after = {r.vec_id for r in rows}
    assert len(set(fb_ids) & after) >= _PRF_FB - 2


def test_err_matches_reference_and_bounds(spark):
    from ucl_data_pipeline_spark.plans.stats import mann_whitney_u
    from ucl_data_pipeline_spark.plans.similarity import retrieval_map_mrr
    from ucl_data_pipeline_spark.plans.similarity import (
        _ERR_K,
        _ERR_QUERIES,
        err_cascade_metric,
    )

    ids, X, labels = _emb()
    got = {r.query_id: r for r in err_cascade_metric(spark, SF_DIR).collect()}
    assert len(got) == _ERR_QUERIES
    for qv in range(0, 100 * _ERR_QUERIES, 100):
        qi = int(np.where(ids == qv)[0][0])
        mask = ids != qv
        Xs, idss, labs = X[mask], ids[mask], labels[mask]
        cos = (Xs @ X[qi]) / (
            np.linalg.norm(Xs, axis=1) * np.linalg.norm(X[qi])
        )
        order = sorted(range(len(idss)), key=lambda i: (-cos[i], idss[i]))[
            :_ERR_K
        ]
        err, p_look, hits = 0.0, 1.0, 0
        for r, i in enumerate(order, start=1):
            if labs[i] == labels[qi]:
                err += round(0.5 ** (hits + 1) / r, 9)
                hits += 1
        g = got[qv]
        assert g.n_rel10 == hits
        assert abs(g.err_at_10 - err) < 2e-6
        assert 0.0 <= g.err_at_10 <= 1.0

    # cascade law: ERR <= RR (the first hit dominates; later hits are
    # discounted below their reciprocal ranks), checked per query
    mrr = {r.query_id: r for r in retrieval_map_mrr(spark, SF_DIR).collect()}
    for qv, g in got.items():
        if g.n_rel10 > 0:
            assert g.err_at_10 <= mrr[qv].rr_at_10 + 1e-6
