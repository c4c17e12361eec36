"""Round-8 batch 10 depth tests: third-engine references for the
calibration/evaluation batch. The minimax isotonic fit is checked
against an actual pool-adjacent-violators LOOP (different algorithm,
same mathematical object); conformal coverage against a numpy replay
of the split protocol; MAP/MRR against a brute-force python ranking.
Plus the two structural guarantees: isotonic monotonicity and the
finite-sample conformal coverage bound."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _quality_frame(spark):
    from ucl_data_pipeline_spark.plans.text import text_quality_score

    q = text_quality_score(spark, SF_DIR).select("doc_id", "quality_score")
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")[["doc_id", "lang"]]
    qp = q.toPandas()
    return qp.merge(docs, on="doc_id")


def test_isotonic_minimax_equals_pav_loop(spark):
    """The engine computes isotonic regression via the closed minimax
    formula; this reference runs the classic PAV pooling LOOP on the
    same binned data. They are provably the same fit — agreement
    checks the relational restatement, not a shared spelling."""
    from ucl_data_pipeline_spark.plans.stats import _ISO_BINS, isotonic_calibration_bins

    df = _quality_frame(spark)
    df["b"] = np.floor(df.quality_score * _ISO_BINS).astype(int)
    df["y"] = (df.lang == "en").astype(int)
    g = df.groupby("b").agg(n=("y", "size"), sum_y=("y", "sum")).sort_index()

    # pool-adjacent-violators: blocks of [weight, mean, n_bins],
    # merge while a block's mean does not exceed its predecessor's
    out = []
    for n, sy in zip(g.n, g.sum_y):
        out.append([float(n), sy / n, 1])
        while len(out) > 1 and out[-2][1] >= out[-1][1]:
            w2, m2, c2 = out.pop()
            w1, m1, c1 = out.pop()
            out.append([w1 + w2, (w1 * m1 + w2 * m2) / (w1 + w2), c1 + c2])
    fit = []
    for w_, m_, c_ in out:
        fit.extend([m_] * c_)
    expect = dict(zip(g.index, [round(v, 6) for v in fit]))

    rows = isotonic_calibration_bins(spark, SF_DIR).collect()
    assert len(rows) == len(expect)
    got = {r.b: r.iso_rate for r in rows}
    for b in expect:
        assert abs(got[b] - expect[b]) < 2e-6, (b, got[b], expect[b])

    # monotone non-decreasing in score bin
    seq = [got[b] for b in sorted(got)]
    assert all(a <= b + 1e-12 for a, b in zip(seq, seq[1:])), seq


def test_conformal_matches_numpy_replay_and_coverage_bound(spark):
    """Replay the exact split protocol in numpy (same Knuth buckets,
    same median/rank selections) and require identical counts; then
    check the aggregate empirical coverage is consistent with the
    1-α guarantee (wide tolerance — finite-sample, per-lang n is
    small at sf0.01)."""
    from ucl_data_pipeline_spark.functions.scalar import knuth_bucket  # noqa: F401
    from ucl_data_pipeline_spark.plans.stats import (
        _CONF_ALPHA,
        _CONF_M,
        conformal_split_coverage,
    )

    df = _quality_frame(spark)

    def kbucket(key: int, m: int) -> int:
        k = key % 2**32
        h = ((k >> 16) * 2654435761 % 2**32 * 65536 + (k & 0xFFFF) * 2654435761) % 2**32
        return h % m

    df["bkt"] = [kbucket(i, _CONF_M) for i in df.doc_id]
    rows = {r.lang: r for r in conformal_split_coverage(spark, SF_DIR).collect()}

    tot_cov, tot_n = 0, 0
    for lang, sub in df.groupby("lang"):
        train = sub[sub.bkt <= 3].quality_score.to_numpy()
        cal = sub[(sub.bkt >= 4) & (sub.bkt <= 6)]
        test = sub[sub.bkt >= 7]
        if lang not in rows:
            continue
        # percentile_disc(0.5): first value with cume_dist >= 0.5
        sv = np.sort(train)
        mu = sv[math.ceil(len(sv) * 0.5) - 1]
        r = np.sort(np.abs(cal.quality_score.to_numpy() - mu))
        k = min(math.ceil((len(r) + 1) * (1 - _CONF_ALPHA)), len(r))
        qhat = r[k - 1]
        covered = int((np.abs(test.quality_score.to_numpy() - mu) <= qhat).sum())
        row = rows[lang]
        assert row.n_train == len(train)
        assert row.n_cal == len(r)
        assert row.k_rank == k
        assert abs(row.qhat_r - round(qhat, 6)) < 2e-6
        assert row.n_test == len(test)
        assert row.n_covered == covered, (lang, row.n_covered, covered)
        tot_cov += covered
        tot_n += len(test)

    # marginal coverage near or above 1-α (slack for small n)
    assert tot_cov / tot_n > (1 - _CONF_ALPHA) - 0.12, (tot_cov, tot_n)


def test_map_mrr_matches_python_ranking(spark):
    """Brute-force the 5 query rankings in numpy (cosine, same
    tie-break), then AP@10/MRR@10 straight from the definitions."""
    from ucl_data_pipeline_spark.plans.similarity import _MAP_K, retrieval_map_mrr

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    ids = emb.vec_id.to_numpy()
    labels = dict(zip(emb.vec_id, emb.label))
    lab_counts = emb.label.value_counts().to_dict()

    rows = {r.query_id: r for r in retrieval_map_mrr(spark, SF_DIR).collect()}
    assert len(rows) == 5

    for qid, row in rows.items():
        qi = int(np.where(ids == qid)[0][0])
        sims = vecs @ vecs[qi] / (norms * norms[qi])
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != qid),
            key=lambda i: (-sims[i], ids[i]),
        )[:_MAP_K]
        qlab = labels[qid]
        rel = [1 if labels[ids[i]] == qlab else 0 for i in order]
        r_total = lab_counts[qlab] - 1
        hits, ap_terms = 0, []
        first = None
        for r_i, flag in enumerate(rel, start=1):
            if flag:
                hits += 1
                ap_terms.append(round(hits / r_i, 6))
                if first is None:
                    first = r_i
        ap = round(sum(ap_terms) / min(r_total, _MAP_K), 6)
        rr = round(1.0 / first, 6) if first else 0.0
        assert row.r_total == r_total
        assert row.n_rel10 == sum(rel), (qid, row.n_rel10, sum(rel))
        assert abs(row.ap_at_10 - ap) < 2e-6, (qid, row.ap_at_10, ap)
        assert abs(row.rr_at_10 - rr) < 2e-6, (qid, row.rr_at_10, rr)
