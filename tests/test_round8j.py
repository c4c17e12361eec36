"""Round-8 batch 16 depth tests: numpy/python references for Otsu
(exhaustive-search replay + the within/between variance decomposition
identity), Chao1/Good-Turing (Counter replay), and the JM frontier
(dict-LM replay + the λ-monotonicity sanity on self-evaluation)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _toks(text: str) -> list[str]:
    return text.strip().lower().split()


def test_otsu_matches_numpy_exhaustive(spark):
    from ucl_data_pipeline_spark.plans.stats import _OTSU_B, otsu_quality_threshold
    from ucl_data_pipeline_spark.plans.text import text_quality_score

    q = (
        text_quality_score(spark, SF_DIR)
        .select("quality_score")
        .toPandas()
        .quality_score.dropna()
    )
    bins = np.floor(q.to_numpy() * _OTSU_B).astype(int)
    occupied = sorted(set(bins))
    counts = Counter(bins)
    n = len(bins)
    s = sum(b * c for b, c in counts.items())

    expect = {}
    for b in occupied:
        t = b + 1
        w0 = sum(c for bb, c in counts.items() if bb <= b)
        sw = sum(bb * c for bb, c in counts.items() if bb <= b)
        w1 = n - w0
        if w0 > 0 and w1 > 0:
            mu0, mu1 = sw / w0, (s - sw) / w1
            sig = (w0 / n) * (w1 / n) * (mu0 - mu1) ** 2
        else:
            sig = 0.0
        expect[t] = (w0, w1, round(sig, 6))

    rows = {r.t: r for r in otsu_quality_threshold(spark, SF_DIR).collect()}
    assert rows.keys() == expect.keys()
    for t, (w0, w1, sig) in expect.items():
        r = rows[t]
        assert (r.w0, r.w1) == (w0, w1), t
        assert abs(r.sigma_b - sig) < 2e-6, (t, r.sigma_b, sig)
    best = max(expect, key=lambda t: (expect[t][2], -t))
    flagged = [t for t, r in rows.items() if r.is_best == 1]
    assert flagged == [best], (flagged, best)
    # Otsu identity: σ²_b(t*) ≤ total variance of the binned variable
    mu = s / n
    tot_var = sum(c * (b - mu) ** 2 for b, c in counts.items()) / n
    assert expect[best][2] <= tot_var + 1e-9


def test_chao1_matches_counter_replay(spark):
    from ucl_data_pipeline_spark.plans.text import chao1_vocab_estimate

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    per_src = defaultdict(Counter)
    for r in docs.itertuples():
        per_src[r.source].update(_toks(r.text))

    rows = {r.source: r for r in chao1_vocab_estimate(spark, SF_DIR).collect()}
    assert rows.keys() == per_src.keys()
    for src, cnt in per_src.items():
        f1 = sum(1 for c in cnt.values() if c == 1)
        f2 = sum(1 for c in cnt.values() if c == 2)
        v, ntok = len(cnt), sum(cnt.values())
        chao1 = round(v + f1 * (f1 - 1) / (2 * (f2 + 1)), 6)
        cov = round(1 - f1 / ntok, 6)
        r = rows[src]
        assert (r.vocab, r.n_tokens, r.f1, r.f2) == (v, ntok, f1, f2), src
        assert abs(r.chao1_vocab - chao1) < 2e-6
        assert abs(r.gt_coverage - cov) < 2e-6
        # estimator sanity: chao1 ≥ observed vocabulary
        assert r.chao1_vocab >= r.vocab


def test_jm_frontier_matches_dict_lm_and_is_monotone(spark):
    from ucl_data_pipeline_spark.plans.text import _JM_LAMBDAS, jm_smoothing_frontier

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cvw = Counter()
    for text in docs.text:
        t = _toks(text)
        for v, w in zip(t, t[1:]):
            cvw[(v, w)] += 1
    c_v, c_w = Counter(), Counter()
    for (v, w), c in cvw.items():
        c_v[v] += c
        c_w[w] += c
    m = sum(cvw.values())

    expect = {}
    for lam in _JM_LAMBDAS:
        s = 0.0
        for (v, w), c in cvw.items():
            p = lam * (c / c_v[v]) + (1 - lam) * (c_w[w] / m)
            s += round(c * math.log2(p), 6)
        h = round(-s / m, 6)
        expect[lam] = h

    rows = {r.lam: r for r in jm_smoothing_frontier(spark, SF_DIR).collect()}
    assert set(rows) == set(_JM_LAMBDAS)
    for lam, h in expect.items():
        r = rows[lam]
        assert r.n_bigrams == m
        assert abs(r.cross_entropy_bits - h) < 2e-6, (lam, r.cross_entropy_bits, h)
        assert abs(r.perplexity - 2**h) < 1e-4 * 2**h
    # on TRAINING counts the ML bigram fits best, so self-evaluated
    # cross-entropy is monotone DECREASING in λ (more weight on the
    # per-context ML estimate)
    hs = [rows[lam].cross_entropy_bits for lam in sorted(_JM_LAMBDAS)]
    assert hs == sorted(hs, reverse=True), hs
