"""Round-8 batch 15 depth tests: numpy references for Matryoshka
truncation recall, the stratified-ATE standardization identity, and a
pandas replay of the Merkle bucket diff (including the level-1/level-2
consistency contract)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _kbucket(key: int, m: int) -> int:
    k = key % 2**32
    h = ((k >> 16) * 2654435761 % 2**32 * 65536 + (k & 0xFFFF) * 2654435761) % 2**32
    return h % m


def test_matryoshka_recall_matches_numpy(spark):
    from ucl_data_pipeline_spark.plans.similarity import (
        _MRL_DIMS,
        _MRL_K,
        matryoshka_truncation_recall,
    )

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {r.vec_id: np.asarray(r.embedding, np.float64) for r in emb.itertuples()}
    queries = sorted(v for v in vecs if v % 100 == 0 and v < 500)[:5]

    def topk(qid, dim):
        qv = vecs[qid][:dim]
        scored = []
        for vid, v in vecs.items():
            if vid == qid:
                continue
            d = v[:dim]
            scored.append(
                (
                    -float(qv @ d / (np.linalg.norm(qv) * np.linalg.norm(d))),
                    vid,
                )
            )
        return {vid for _, vid in sorted(scored)[:_MRL_K]}

    expect = {}
    for d in _MRL_DIMS:
        hits = 0
        for qid in queries:
            truth = topk(qid, 64)
            hits += len(topk(qid, d) & truth)
        expect[d] = (hits, round(hits / (_MRL_K * len(queries)), 6))

    rows = {r.trunc_dim: r for r in matryoshka_truncation_recall(spark, SF_DIR).collect()}
    assert rows.keys() == set(_MRL_DIMS)
    for d, (hits, rec) in expect.items():
        assert rows[d].n_hits == hits, (d, rows[d].n_hits, hits)
        assert abs(rows[d].recall_at_3 - rec) < 2e-6
    # the fixture embeddings are NOT Matryoshka-trained, so truncation
    # recall is low and need not be monotone in dims (measured:
    # 0.13 / 0.07 / 0.13 at 8/16/32) — which is precisely the audit's
    # value: it correctly reports that prefix truncation is UNSAFE for
    # this embedding space. Assert the bounds and that the audit
    # distinguishes truncations from the (implicitly perfect) full dim.
    for d in _MRL_DIMS:
        assert 0.0 <= rows[d].recall_at_3 < 1.0, (d, rows[d].recall_at_3)


def test_stratified_ate_matches_pandas_and_identity(spark):
    from ucl_data_pipeline_spark.plans.stats import stratified_ate_adjustment

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    part = pd.read_parquet(f"{SF_DIR}/part.parquet")
    df = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    df["treat"] = df.p_type.str.startswith("PROMO").astype(int)
    df["y"] = (df.l_extendedprice.round(2) * (1 - df.l_discount.round(2))).round(4)

    cells = {}
    for (s, t), sub in df.groupby(["l_returnflag", "treat"]):
        cells[(s, t)] = (len(sub), sub.y.sum())
    strata = sorted({s for s, _ in cells})
    ok = [s for s in strata if (s, 1) in cells and (s, 0) in cells]
    nt_all = sum(cells[(s, 1)][0] for s in ok)
    nc_all = sum(cells[(s, 0)][0] for s in ok)
    naive = sum(cells[(s, 1)][1] for s in ok) / nt_all - sum(
        cells[(s, 0)][1] for s in ok
    ) / nc_all
    wsum = sum(
        round(
            (cells[(s, 1)][0] + cells[(s, 0)][0])
            * (
                cells[(s, 1)][1] / cells[(s, 1)][0]
                - cells[(s, 0)][1] / cells[(s, 0)][0]
            ),
            6,
        )
        for s in ok
    )
    adjusted = wsum / (nt_all + nc_all)

    rows = {r.stratum: r for r in stratified_ate_adjustment(spark, SF_DIR).collect()}
    assert set(rows) == set(ok)
    for s in ok:
        r = rows[s]
        assert r.n_t == cells[(s, 1)][0]
        assert r.n_c == cells[(s, 0)][0]
        assert abs(r.stratum_diff - round(
            cells[(s, 1)][1] / r.n_t - cells[(s, 0)][1] / r.n_c, 6
        )) < 1e-4
        assert abs(r.naive_ate - naive) < 1e-4
        assert abs(r.adjusted_ate - adjusted) < 1e-4
    # standardization identity: adjusted == Σ w_h · diff_h with
    # w_h = (n_t,h + n_c,h)/N — recompute from the emitted rows
    N = sum(rows[s].n_t + rows[s].n_c for s in ok)
    recon = sum(
        (rows[s].n_t + rows[s].n_c) / N * rows[s].stratum_diff for s in ok
    )
    assert abs(recon - rows[ok[0]].adjusted_ate) < 1e-5


def test_merkle_diff_matches_pandas_and_is_consistent(spark):
    from ucl_data_pipeline_spark.plans.aggregates import _MERKLE_B, merkle_bucket_diff

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")[["o_orderkey", "o_totalprice"]]
    o["cents"] = (o.o_totalprice.round(2) * 100).round().astype(np.int64)

    def digest(key, cents):
        return int(
            hashlib.md5(f"{key}:{cents}".encode()).hexdigest()[:15], 16
        )

    a = {r.o_orderkey: digest(r.o_orderkey, r.cents) for r in o.itertuples()}
    b = {}
    for r in o.itertuples():
        if r.o_orderkey % 7 == 0:
            continue
        cents = r.cents + 100 if r.o_orderkey % 11 == 0 else r.cents
        b[r.o_orderkey] = digest(r.o_orderkey, cents)

    def bsum(d):
        out = {}
        for k, dg in d.items():
            bk = _kbucket(k, _MERKLE_B)
            s, n = out.get(bk, (0, 0))
            out[bk] = (s + dg, n + 1)
        return out

    la, lb = bsum(a), bsum(b)
    changed = {
        bk
        for bk in set(la) | set(lb)
        if la.get(bk, (0, 0))[0] != lb.get(bk, (0, 0))[0]
    }
    diff_rows = {}
    for k in set(a) | set(b):
        if a.get(k) != b.get(k):
            bk = _kbucket(k, _MERKLE_B)
            diff_rows[bk] = diff_rows.get(bk, 0) + 1

    rows = {r.bucket: r for r in merkle_bucket_diff(spark, SF_DIR).collect()}
    assert set(rows) == changed
    for bk, r in rows.items():
        assert r.n_a == la.get(bk, (0, 0))[1]
        assert r.n_b == lb.get(bk, (0, 0))[1]
        assert r.checksum_match == 0
        assert r.n_diff_rows == diff_rows.get(bk, 0), (bk, r.n_diff_rows)
        # level-1/level-2 consistency: a changed checksum implies at
        # least one differing key in that bucket
        assert r.n_diff_rows > 0
    # and the mutation actually exercised both deletes and updates
    total_diff = sum(r.n_diff_rows for r in rows.values())
    n_deleted = sum(1 for k in a if k % 7 == 0)
    n_updated = sum(1 for k in b if k % 11 == 0)
    assert total_diff >= max(n_deleted, n_updated) > 0
