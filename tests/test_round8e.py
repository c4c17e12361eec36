"""Round-8 batch 11 depth tests: pure-Python references for the
Kneser-Ney LM (dict-based estimation straight from Chen & Goodman's
equations), the Fellegi-Sunter weight table (set-based m/u counting),
and the split-leakage audit (brute-force pair classification). Each
reference recomputes the LSH/banding or LM pipeline from raw parquet
with none of the engines' relational spellings."""

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


def _shingles(toks: list[str], k: int = 3) -> list[str]:
    if len(toks) < k:
        return []
    out, seen = [], set()
    for i in range(len(toks) - k + 1):
        g = " ".join(toks[i : i + k])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def _lsh_pairs(docs: pd.DataFrame):
    """Replicate the 3-band × 2-row md5-MinHash banding on rep docs;
    returns (candidate pairs, feats dict, rep doc_ids)."""
    reps = docs.groupby("text", as_index=False).agg(doc_id=("doc_id", "min"))
    feats = {
        r.doc_id: _shingles(_toks(r.text)) for r in reps.itertuples()
    }

    def mh(fs, seed):
        return min(
            hashlib.md5(f"{seed}:{t}".encode()).hexdigest() for t in fs
        ) if fs else None

    buckets = defaultdict(list)
    for did, fs in feats.items():
        if not fs:
            continue
        hs = [mh(fs, s) for s in range(6)]
        for bi in range(3):
            key = hashlib.md5(
                (hs[2 * bi] + hs[2 * bi + 1]).encode()
            ).hexdigest()
            buckets[(bi, key)].append(did)
    cand = set()
    for mem in buckets.values():
        mem = sorted(mem)
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                cand.add((mem[i], mem[j]))
    return cand, feats, set(feats)


def test_kneser_ney_matches_python_reference(spark):
    from ucl_data_pipeline_spark.plans.text import _KN_D, kneser_ney_bigram_lm

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cs = Counter()
    for src, text in zip(docs.source, docs.text):
        t = _toks(text)
        for v, w in zip(t, t[1:]):
            cs[(src, v, w)] += 1
    cvw = Counter()
    for (src, v, w), c in cs.items():
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

    per_src = defaultdict(lambda: [0, 0.0])
    for (src, v, w), c in cs.items():
        per_src[src][0] += c
        per_src[src][1] += round(c * math.log2(p(v, w)), 6)

    rows = {r.source: r for r in kneser_ney_bigram_lm(spark, SF_DIR).collect()}
    assert len(rows) == len(per_src)
    for src, (m, s) in per_src.items():
        r = rows[src]
        h = round(-s / m, 6)
        assert r.n_bigrams == m
        assert abs(r.cross_entropy_bits - h) < 2e-6, (src, r.cross_entropy_bits, h)
        assert abs(r.perplexity - 2**h) < 1e-4 * 2**h

    # KN model must be a proper conditional distribution: for every
    # context v, sum_w P(w|v) over OBSERVED continuations plus the
    # reserved mass D·N1+(v,·)/c(v)·(1 - sum of observed p_cont) == 1
    # when p_cont sums to 1 over the full vocab — check the observed
    # identity: sum_w p(v,w) <= 1 + 1e-9 for each v.
    for v in list(c_v)[:10]:
        tot = sum(p(v, w) for (vv, w) in cvw if vv == v)
        assert tot <= 1.0 + 1e-9, (v, tot)


def test_fellegi_sunter_matches_python_reference(spark):
    from ucl_data_pipeline_spark.plans.similarity import fellegi_sunter_patterns

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cand, feats, _ = _lsh_pairs(docs)
    attrs = {
        r.doc_id: (r.lang, r.source, r.n_chars // 100)
        for r in docs.itertuples()
    }

    pairs = []
    for a, b in cand:
        fa, fb = set(feats[a]), set(feats[b])
        i_n = len(fa & fb)
        u_n = len(fa | fb)
        mt = 1 if i_n * 2 >= u_n else 0
        ag = tuple(
            1 if attrs[a][f] == attrs[b][f] else 0 for f in range(3)
        )
        pairs.append((mt, ag))

    n_m = sum(mt for mt, _ in pairs)
    n_u = len(pairs) - n_m
    am = [sum(mt * ag[f] for mt, ag in pairs) for f in range(3)]
    au = [sum((1 - mt) * ag[f] for mt, ag in pairs) for f in range(3)]

    def w_field(agree, f):
        m = (am[f] + 1) / (n_m + 2)
        u = (au[f] + 1) / (n_u + 2)
        return round(math.log2((m if agree else 1 - m) / (u if agree else 1 - u)), 6)

    expect = {}
    pat_counts = Counter((ag, mt) for mt, ag in pairs)
    for ag in {ag for _, ag in pairs}:
        w = sum(w_field(ag[f], f) for f in range(3))
        expect["".join("A" if x else "D" for x in ag)] = (
            pat_counts[(ag, 1)],
            pat_counts[(ag, 0)],
            round(w, 6),
        )

    rows = {r.pattern: r for r in fellegi_sunter_patterns(spark, SF_DIR).collect()}
    assert rows.keys() == expect.keys()
    for pat, (nm, nu, w) in expect.items():
        r = rows[pat]
        assert (r.n_match, r.n_nonmatch) == (nm, nu), pat
        assert abs(r.fs_weight - w) < 5e-6, (pat, r.fs_weight, w)
    # per-field structure: switching one field from D to A moves the
    # total weight by exactly (w_f(A) − w_f(D)) — i.e. weights are
    # ADDITIVE over fields (the conditional-independence premise of
    # the FS model). Check additivity on any two patterns differing
    # in one field. (A global "all-agree beats all-disagree" claim is
    # NOT a theorem: on this fixture lang agreement is likelier among
    # LSH-candidate non-matches than matches, so its agreement weight
    # is legitimately negative.)
    for pat_a in expect:
        for f in range(3):
            flipped = pat_a[:f] + ("D" if pat_a[f] == "A" else "A") + pat_a[f + 1 :]
            if flipped in expect:
                delta_engine = rows[pat_a].fs_weight - rows[flipped].fs_weight
                delta_ref = (
                    w_field(pat_a[f] == "A", f) - w_field(flipped[f] == "A", f)
                )
                assert abs(delta_engine - delta_ref) < 1e-5, (pat_a, flipped)


def test_split_leakage_matches_python_reference(spark):
    from ucl_data_pipeline_spark.plans.text import split_leakage_audit

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cand, feats, _ = _lsh_pairs(docs)
    near = []
    for a, b in cand:
        fa, fb = set(feats[a]), set(feats[b])
        if len(fa & fb) * 2 >= len(fa | fb):
            near.append((a, b))
    reps = docs.groupby("text", as_index=False).agg(rep=("doc_id", "min"))
    exact = [
        (r2.rep, r1.doc_id)
        for r1, r2 in zip(
            docs.sort_values("doc_id").itertuples(),
            docs.sort_values("doc_id").merge(reps, on="text").sort_values(
                "doc_id"
            ).itertuples(),
        )
        if r1.doc_id != r2.rep
    ]
    splits = {
        d: (0 if _kbucket(d, 100) < 80 else 1 if _kbucket(d, 100) < 90 else 2)
        for d in docs.doc_id
    }
    combos = Counter()
    for a, b in near + exact:
        ra, rb = splits[a], splits[b]
        combos[(min(ra, rb), max(ra, rb))] += 1
    total = sum(combos.values())
    names = {0: "train", 1: "val", 2: "test"}

    rows = {(r.split_a, r.split_b): r for r in split_leakage_audit(spark, SF_DIR).collect()}
    assert len(rows) == len(combos)
    for (lo, hi), n in combos.items():
        r = rows[(names[lo], names[hi])]
        assert r.n_dup_pairs == n, ((lo, hi), r.n_dup_pairs, n)
        assert r.is_leak == (1 if lo != hi else 0)
        assert abs(r.share - round(n / total, 6)) < 2e-6
