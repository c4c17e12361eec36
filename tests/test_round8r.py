"""Round-8 batch 24 depth tests: numpy/python references for TextRank
(dense damped power iteration on the co-occurrence matrix), Hurst R/S
(block-by-block replay), and Heaps' law (first-occurrence replay)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _doc_tokens():
    d = pd.read_parquet(f"{SF_DIR}/documents.parquet").sort_values("doc_id")
    return [(r.doc_id, r.text.strip().lower().split()) for r in d.itertuples()]


def test_textrank_matches_numpy(spark):
    from ucl_data_pipeline_spark.plans.text import (
        _TR_DAMP,
        _TR_ITER,
        _TR_TOPN,
        textrank_keywords,
    )

    w = Counter()
    for _, toks in _doc_tokens():
        for a, b in zip(toks, toks[1:]):
            w[(a, b)] += 1
            w[(b, a)] += 1
    vocab = sorted({a for a, _ in w})
    idx = {t: i for i, t in enumerate(vocab)}
    n = len(vocab)
    W = np.zeros((n, n))
    for (a, b), c in w.items():
        W[idx[a], idx[b]] = c
    ow = W.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(_TR_ITER):
        r = (1 - _TR_DAMP) / n + _TR_DAMP * (W / ow[:, None]).T @ r

    rows = textrank_keywords(spark, SF_DIR).collect()
    assert len(rows) == min(_TR_TOPN, n)
    expect = sorted(
        ((vocab[i], r[i]) for i in range(n)), key=lambda kv: (-kv[1], kv[0])
    )[: len(rows)]
    for got, (tok, rank) in zip(rows, expect):
        assert got.token == tok, (got.token, tok)
        assert abs(got.textrank - rank) < 1e-5
    # ranks are a (damped) distribution over the vocab: all positive
    assert all(g.textrank > 0 for g in rows)


def test_hurst_matches_replay(spark):
    from ucl_data_pipeline_spark.plans.temporal import _HURST_SIZES, hurst_rs_exponent

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    x = (
        o.assign(day=o.o_orderdate.dt.floor("D"))
        .groupby("day")
        .o_totalprice.sum()
        .round(2)
        .sort_index()
        .to_numpy()
    )
    pts = []
    nb_total = 0
    for m in _HURST_SIZES:
        rss = []
        for b in range(len(x) // m):
            seg = x[b * m : (b + 1) * m]
            z = np.cumsum(seg - seg.mean())
            r = z.max() - z.min()
            s = seg.std(ddof=0)
            if s > 0:
                rss.append(round(r / s, 6))
        nb_total += len(rss)
        pts.append((math.log(m), math.log(sum(rss) / len(rss))))
    k = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] ** 2 for p in pts)
    h = (k * sxy - sx * sy) / (k * sxx - sx * sx)

    row = hurst_rs_exponent(spark, SF_DIR).collect()[0]
    assert row.n_block_sizes == k
    assert row.n_blocks_total == nb_total
    assert abs(row.hurst_exponent - h) < 1e-4
    assert abs(row.log_c_intercept - (sy - h * sx) / k) < 1e-4
    # R/S Hurst lives in (0, 1) for any real series
    assert 0.0 < row.hurst_exponent < 1.0


def test_heaps_matches_replay(spark):
    from ucl_data_pipeline_spark.plans.text import _HEAPS_STEP, heaps_law_exponent

    docs = _doc_tokens()
    first = {}
    inst = []
    for rk, (_, toks) in enumerate(docs, start=1):
        inst.append(max(len(toks) - 2, 0))
        for i in range(len(toks) - 2):
            g = " ".join(toks[i : i + 3])
            first.setdefault(g, rk)
    pts = []
    for c in range(_HEAPS_STEP, len(docs) + 1, _HEAPS_STEP):
        v = sum(1 for r in first.values() if r <= c)
        t = sum(inst[:c])
        pts.append((math.log(t), math.log(v), v, t))
    k = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] ** 2 for p in pts)
    beta = (k * sxy - sx * sy) / (k * sxx - sx * sx)

    r = heaps_law_exponent(spark, SF_DIR).collect()[0]
    assert r.n_checkpoints == k
    assert r.total_types == pts[-1][2] == len(first)
    assert r.total_instances == pts[-1][3] == sum(inst)
    assert abs(r.heaps_beta - beta) < 1e-4
    assert abs(r.heaps_k - math.exp((sy - beta * sx) / k)) < 1e-3
    # sub-linear growth: 0 < beta < 1 on any natural-ish corpus
    assert 0.0 < r.heaps_beta < 1.0
