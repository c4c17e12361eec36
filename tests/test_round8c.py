"""Round-8 batch 9 depth tests: pure-Python third-engine references
for winnowing, BPE merge training, and RAKE. Spark and DuckDB share
the SQL-ish spelling (both fold/window over the same index algebra);
these references share neither engine's code path — list/dict Python
straight from the papers' pseudocode — so agreement rules out a
common-mode spelling error. Plus the winnowing density guarantee."""

from __future__ import annotations

import hashlib
from collections import Counter

import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _toks(text: str) -> list[str]:
    return text.strip().lower().split()


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_winnowing_matches_python_reference(spark):
    """Winnowing recomputed per the SIGMOD'03 pseudocode (explicit
    window loop, rightmost-min tie rule) must reproduce the engine's
    n_fps / n_fp_hashes / density for every document."""
    from ucl_data_pipeline_spark.plans.text import (
        _WIN_K,
        _WIN_W,
        winnowing_fingerprints,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    expect = {}
    for doc_id, text in zip(docs.doc_id, docs.text):
        t = _toks(text)
        grams = [
            _md5(" ".join(t[i : i + _WIN_K]))
            for i in range(len(t) - _WIN_K + 1)
        ]
        sel = set()
        for i in range(len(grams) - _WIN_W + 1):
            win = grams[i : i + _WIN_W]
            m = min(win)
            # rightmost occurrence of the window minimum
            pos = i + max(j for j in range(_WIN_W) if win[j] == m) + 1
            sel.add((pos, m))
        n_windows = max(len(grams) - _WIN_W + 1, 0)
        expect[doc_id] = (
            len(grams),
            n_windows,
            len(sel),
            len({h for _, h in sel}),
        )

    rows = winnowing_fingerprints(spark, SF_DIR).collect()
    assert len(rows) == len(expect)
    for r in rows:
        e = expect[r.doc_id]
        got = (r.n_grams, r.n_windows, r.n_fps, r.n_fp_hashes)
        assert got == e, (r.doc_id, got, e)
        # density never exceeds 1 selection per window and the corpus
        # should sit near the 2/(w+1) expectation — loose band, the
        # exact value is oracle-checked
        assert 0 < r.fp_density <= 1.0


def test_winnowing_density_near_guarantee(spark):
    """Corpus-mean selected density should sit near the paper's
    2/(w+1) expectation for random hashes (w=4 → 0.4). md5 over the
    31-word vocabulary's 4-grams is random enough for a wide band."""
    from ucl_data_pipeline_spark.plans.text import winnowing_fingerprints

    rows = winnowing_fingerprints(spark, SF_DIR).collect()
    dens = [r.fp_density for r in rows if r.n_windows > 0]
    mean = sum(dens) / len(dens)
    assert 0.30 < mean < 0.50, mean


def test_bpe_merges_match_python_reference(spark):
    """BPE training re-run in plain Python (dict-of-tuples vocab,
    greedy left-to-right merge exactly as in the Sennrich et al.
    reference implementation) must learn the same 3 merges with the
    same weighted counts."""
    from ucl_data_pipeline_spark.plans.text import _BPE_STEPS, bpe_merge_training

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    wfreq = Counter(w for text in docs.text for w in _toks(text))
    vocab = {w: tuple(w) for w in wfreq}

    def pair_counts():
        c = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                c[(a, b)] += wfreq[w]
        return c

    def merge_word(syms, pa, pb):
        out = []
        for s in syms:
            if out and out[-1] == pa and s == pb:
                out[-1] = pa + pb
            else:
                out.append(s)
        return tuple(out)

    expect = []
    for _ in range(_BPE_STEPS):
        pc = pair_counts()
        # argmax: count DESC, then lexicographic (l, r)
        (pa, pb), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expect.append((pa, pb, pa + pb, cnt))
        vocab = {w: merge_word(s, pa, pb) for w, s in vocab.items()}

    rows = sorted(bpe_merge_training(spark, SF_DIR).collect())
    assert len(rows) == _BPE_STEPS
    for r, (pa, pb, merged, cnt) in zip(rows, expect):
        got = (r.left_sym, r.right_sym, r.merged_sym, r.pair_count)
        assert got == (pa, pb, merged, cnt), (r.step, got, (pa, pb, merged, cnt))


def test_rake_matches_python_reference(spark):
    """RAKE recomputed from the Rose et al. pseudocode — phrase split
    at stopwords, degree/freq word scores, phrase score = Σ member
    scores — must rank the same top phrases with matching scores (to
    the engines' 6-dp term rounding)."""
    from ucl_data_pipeline_spark.plans.text import _RAKE_TOPN, rake_keywords
    from ucl_data_pipeline_spark.plans.stats import _STOPWORDS

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    stops = set(_STOPWORDS)
    phrases: list[list[str]] = []
    for text in docs.text:
        cur: list[str] = []
        for w in _toks(text):
            if w in stops:
                if cur:
                    phrases.append(cur)
                cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append(cur)

    freq = Counter()
    degree = Counter()
    for p in phrases:
        for w in p:
            freq[w] += 1
            degree[w] += len(p)
    wscore = {w: round(degree[w] / freq[w], 6) for w in freq}

    n_occ = Counter(" ".join(p) for p in phrases)
    scored = {
        ph: (round(sum(wscore[w] for w in ph.split()), 6), cnt)
        for ph, cnt in n_occ.items()
    }
    expect = sorted(scored.items(), key=lambda kv: (-kv[1][0], kv[0]))[
        :_RAKE_TOPN
    ]

    rows = rake_keywords(spark, SF_DIR).collect()
    assert len(rows) == _RAKE_TOPN
    for r, (ph, (score, cnt)) in zip(rows, expect):
        assert r.phrase == ph, (r.phrase, ph)
        assert r.n_occ == cnt
        assert r.n_words == len(ph.split())
        assert abs(r.score - score) < 5e-6, (ph, r.score, score)
