"""Round-8 batch 12 depth tests: the audit→fix invariant (component
split leaks ZERO where the doc split leaks), a numpy DSIR replay, and
a python KN-perplexity replay of the Tukey gate."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _toks(text: str) -> list[str]:
    return text.strip().lower().split()


def _kbucket(key: int, m: int) -> int:
    k = key % 2**32
    h = ((k >> 16) * 2654435761 % 2**32 * 65536 + (k & 0xFFFF) * 2654435761) % 2**32
    return h % m


def test_component_split_closes_the_leak_the_doc_split_has(spark):
    """The audit→fix pair on the same duplicate-pair set: the
    doc-keyed split (split_leakage_audit) must show leakage on this
    fixture, the component-keyed split must show exactly zero, and
    the component split's inventory must cover every document."""
    from ucl_data_pipeline_spark.plans.text import split_leakage_audit
    from ucl_data_pipeline_spark.plans.text import component_split_assign

    audit = split_leakage_audit(spark, SF_DIR).collect()
    doc_leaks = sum(r.n_dup_pairs for r in audit if r.is_leak == 1)
    assert doc_leaks > 0, "fixture has no doc-split leakage to fix"

    rows = component_split_assign(spark, SF_DIR).collect()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    for r in rows:
        assert r.n_leak_pairs == 0, r
    n_docs = pd.read_parquet(f"{SF_DIR}/documents.parquet").shape[0]
    assert sum(r.n_docs for r in rows) == n_docs
    # components never split across rows: Σ n_components is the true
    # distinct component count
    assert sum(r.n_components for r in rows) <= n_docs


def test_dsir_matches_numpy_replay(spark):
    """Replay DSIR end-to-end in plain Python: md5-prefix bucket
    hash, Laplace bucket models, per-doc summed log-ratios, P75
    selection — counts and sums must match exactly."""
    from ucl_data_pipeline_spark.plans.text import (
        _DSIR_B,
        _DSIR_TARGET_LANG,
        dsir_importance_weights,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % _DSIR_B

    raw, tgt = Counter(), Counter()
    doc_buckets = {}
    for r in docs.itertuples():
        bs = [bucket(t) for t in _toks(r.text)]
        doc_buckets[r.doc_id] = bs
        for b in bs:
            raw[b] += 1
            if r.lang == _DSIR_TARGET_LANG:
                tgt[b] += 1
    nr, nt = sum(raw.values()), sum(tgt.values())
    lw = {
        b: round(
            math.log2((tgt.get(b, 0) + 1) / (nt + _DSIR_B))
            - math.log2((raw[b] + 1) / (nr + _DSIR_B)),
            6,
        )
        for b in raw
    }
    logw = {
        did: round(sum(lw[b] for b in bs), 6)
        for did, bs in doc_buckets.items()
    }
    sv = sorted(logw.values())
    q75 = sv[math.ceil(len(sv) * 0.75) - 1]  # percentile_disc(0.75)

    expect = defaultdict(lambda: [0, 0, 0.0])
    src = dict(zip(docs.doc_id, docs.source))
    for did, w in logw.items():
        e = expect[src[did]]
        e[0] += 1
        e[1] += 1 if w >= q75 else 0
        e[2] += w

    rows = {r.source: r for r in dsir_importance_weights(spark, SF_DIR).collect()}
    assert rows.keys() == set(expect)
    for s, (n, nsel, sw) in expect.items():
        r = rows[s]
        assert r.n_docs == n
        assert r.n_selected == nsel, (s, r.n_selected, nsel)
        assert abs(r.sum_logw - sw) < 1e-4, (s, r.sum_logw, sw)


def test_perplexity_gate_matches_python_replay(spark):
    """Recompute per-doc KN cross-entropy and the Tukey fence in
    plain Python; flag counts per source must match."""
    from ucl_data_pipeline_spark.plans.text import _KN_D
    from ucl_data_pipeline_spark.plans.text import perplexity_outlier_gate

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cd = Counter()
    for r in docs.itertuples():
        t = _toks(r.text)
        for v, w in zip(t, t[1:]):
            cd[(r.doc_id, v, w)] += 1
    cvw = Counter()
    for (_, v, w), c in cd.items():
        cvw[(v, w)] += c
    c_v, n1p_v, n1p_w = Counter(), Counter(), Counter()
    for (v, w), c in cvw.items():
        c_v[v] += c
        n1p_v[v] += 1
        n1p_w[w] += 1
    T = len(cvw)

    def p(v, w):
        return (cvw[(v, w)] - _KN_D) / c_v[v] + (
            (_KN_D * n1p_v[v]) / c_v[v]
        ) * (n1p_w[w] / T)

    acc = defaultdict(lambda: [0, 0.0])
    for (did, v, w), c in cd.items():
        acc[did][0] += c
        acc[did][1] += round(c * math.log2(p(v, w)), 6)
    h = {did: -s / m for did, (m, s) in acc.items()}
    sv = sorted(h.values())
    q1 = sv[math.ceil(len(sv) * 0.25) - 1]
    q3 = sv[math.ceil(len(sv) * 0.75) - 1]
    hi = q3 + 1.5 * (q3 - q1)

    src = dict(zip(docs.doc_id, docs.source))
    expect = defaultdict(lambda: [0, 0])
    for did, hv in h.items():
        e = expect[src[did]]
        e[0] += 1
        e[1] += 1 if hv > hi else 0

    rows = {r.source: r for r in perplexity_outlier_gate(spark, SF_DIR).collect()}
    assert rows.keys() == set(expect)
    total_flagged = 0
    for s, (n, nf) in expect.items():
        r = rows[s]
        assert r.n_docs == n
        assert r.n_flagged == nf, (s, r.n_flagged, nf)
        assert abs(r.fence_hi - round(hi, 6)) < 2e-6
        total_flagged += nf
    # the Tukey fence on a unimodal H distribution flags a small tail
    n_total = sum(n for n, _ in expect.values())
    assert total_flagged < 0.1 * n_total
