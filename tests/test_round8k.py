"""Round-8 batch 17 depth tests: python references for TextTiling
(explicit block/cosine/depth loop), NMI/purity (sklearn-free Counter
replay + the NMI bounds), and RBO (direct definition replay + the
convergence property of the truncated prefix)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _toks(text: str) -> list[str]:
    return text.strip().lower().split()


def test_texttiling_matches_python_loop(spark):
    from ucl_data_pipeline_spark.plans.text import (
        _TT_BLOCK,
        _TT_RADIUS,
        texttiling_boundaries,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    per_doc = {}
    all_depths = []
    for r in docs.itertuples():
        t = _toks(r.text)
        blocks = [
            Counter(t[i : i + _TT_BLOCK]) for i in range(0, len(t), _TT_BLOCK)
        ]
        sims = []
        for i in range(len(blocks) - 1):
            a, b = blocks[i], blocks[i + 1]
            dot = sum(a[w] * b[w] for w in a)
            na = math.sqrt(sum(c * c for c in a.values()))
            nb = math.sqrt(sum(c * c for c in b.values()))
            sims.append(round(dot / (na * nb), 6) if dot else 0.0)
        depths = []
        for i, s in enumerate(sims):
            left = max([s] + sims[max(0, i - _TT_RADIUS) : i])
            right = max([s] + sims[i + 1 : i + 1 + _TT_RADIUS])
            depths.append(round(left + right - 2 * s, 6))
        per_doc[r.doc_id] = (sims, depths)
        all_depths.extend(depths)

    n = len(all_depths)
    mu = sum(all_depths) / n
    sd = math.sqrt(sum(d * d for d in all_depths) / n - mu * mu)
    cut = mu + sd / 2

    rows = {r.doc_id: r for r in texttiling_boundaries(spark, SF_DIR).collect()}
    # docs shorter than 2 blocks have no gaps and emit no row
    expect_docs = {d for d, (s, _) in per_doc.items() if s}
    assert rows.keys() == expect_docs
    for did in expect_docs:
        sims, depths = per_doc[did]
        r = rows[did]
        assert r.n_gaps == len(sims)
        assert r.n_boundaries == sum(1 for d in depths if d > cut), did
        assert abs(r.sum_sim - round(sum(sims), 6)) < 2e-6
        assert abs(r.max_depth - max(depths)) < 2e-6


def test_nmi_purity_matches_counter_replay(spark):
    from ucl_data_pipeline_spark.plans.similarity import K
    from ucl_data_pipeline_spark.plans.similarity import cluster_nmi_purity

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {r.vec_id: np.asarray(r.embedding, np.float64) for r in emb.itertuples()}
    labels = dict(zip(emb.vec_id, emb.label))
    centers = {c: vecs[c] for c in range(K)}

    cell = Counter()
    for vid, v in vecs.items():
        d2 = {c: float(((v - cv) ** 2).sum()) for c, cv in centers.items()}
        cid = min(d2, key=lambda c: (d2[c], c))
        cell[(cid, labels[vid])] += 1
    n = sum(cell.values())
    n_c = Counter()
    n_l = Counter()
    for (c, l), m in cell.items():
        n_c[c] += m
        n_l[l] += m
    purity = sum(
        max(m for (c2, _), m in cell.items() if c2 == c) for c in n_c
    ) / n
    mi = sum(
        round((m / n) * math.log2(n * m / (n_c[c] * n_l[l])), 6)
        for (c, l), m in cell.items()
    )
    hc = sum(round(-(m / n) * math.log2(m / n), 6) for m in n_c.values())
    hl = sum(round(-(m / n) * math.log2(m / n), 6) for m in n_l.values())
    nmi = round(2 * mi / (hc + hl), 6)

    r = cluster_nmi_purity(spark, SF_DIR).collect()[0]
    assert r.n_points == n
    assert r.n_clusters == len(n_c)
    assert r.n_labels == len(n_l)
    assert abs(r.purity - round(purity, 6)) < 2e-6
    assert abs(r.mi_bits - round(mi, 6)) < 2e-6
    assert abs(r.nmi - nmi) < 2e-6
    # information-theoretic bounds
    assert 0.0 <= r.nmi <= 1.0 + 1e-9
    assert r.mi_bits <= min(r.h_cluster, r.h_label) + 1e-6
    assert r.purity >= max(n_l.values()) / n - 1e-9  # ≥ majority baseline


def test_rbo_matches_definition_replay(spark):
    from ucl_data_pipeline_spark.plans.text import bm25_doc_ranking
    from ucl_data_pipeline_spark.plans.text import query_likelihood_dirichlet
    from ucl_data_pipeline_spark.plans.text import (
        _RBO_DEPTH,
        _RBO_P,
        rbo_ranker_agreement,
    )

    a = [
        r.doc_id
        for r in sorted(bm25_doc_ranking(spark, SF_DIR).collect(), key=lambda r: r.rank)
    ]
    b = [
        r.doc_id
        for r in sorted(
            query_likelihood_dirichlet(spark, SF_DIR).collect(), key=lambda r: r.rank
        )
    ]
    rows = {r.d: r for r in rbo_ranker_agreement(spark, SF_DIR).collect()}
    assert set(rows) == set(range(1, _RBO_DEPTH + 1))
    rbo = 0.0
    for d in range(1, _RBO_DEPTH + 1):
        x_d = len(set(a[:d]) & set(b[:d]))
        rbo += round((1 - _RBO_P) * _RBO_P ** (d - 1) * (x_d / d), 6)
        r = rows[d]
        assert r.x_d == x_d, (d, r.x_d, x_d)
        assert abs(r.agreement - round(x_d / d, 6)) < 2e-6
        assert abs(r.rbo_prefix - round(rbo, 6)) < 5e-6
    # prefix RBO is non-decreasing and bounded by the geometric mass
    vals = [rows[d].rbo_prefix for d in range(1, _RBO_DEPTH + 1)]
    assert vals == sorted(vals)
    assert vals[-1] <= 1 - _RBO_P ** _RBO_DEPTH + 1e-6
