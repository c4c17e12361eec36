"""Round-8 batch 13 depth tests: numpy references for Neyman
allocation (textbook formula + Hamilton rounding), the JL distortion
audit (matrix algebra replay + the lemma's concentration band), and
the MASE evaluation (pandas shift replay)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def test_neyman_matches_numpy_and_optimality(spark):
    from ucl_data_pipeline_spark.plans.stats import (
        _NEYMAN_BUDGET,
        neyman_allocation_sample,
    )

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    o["x"] = o.o_totalprice.round(2)
    g = o.groupby("o_orderpriority").x
    stats = {}
    for s, xs in g:
        n = len(xs)
        sx = xs.sum()
        sxx = (xs * xs).sum()
        sd = round(math.sqrt((sxx - sx * sx / n) / (n - 1)), 6)
        stats[s] = (n, round(sx / n, 6), sd, round(n * sd, 6))
    W = sum(w for _, _, _, w in stats.values())
    shares = {
        s: _NEYMAN_BUDGET * w / W for s, (_, _, _, w) in stats.items()
    }
    fl = {s: math.floor(v) for s, v in shares.items()}
    top = _NEYMAN_BUDGET - sum(fl.values())
    order = sorted(shares, key=lambda s: (-(shares[s] - fl[s]), s))
    alloc = {
        s: fl[s] + (1 if i < top else 0) for i, s in enumerate(order)
    }

    rows = {r.stratum: r for r in neyman_allocation_sample(spark, SF_DIR).collect()}
    assert rows.keys() == stats.keys()
    assert sum(r.alloc_n for r in rows.values()) == _NEYMAN_BUDGET
    for s, (n, mean, sd, _) in stats.items():
        r = rows[s]
        assert r.n_rows == n
        assert abs(r.mean_price - mean) < 1e-4
        assert abs(r.sd_price - sd) < 1e-4
        assert r.alloc_n == alloc[s], (s, r.alloc_n, alloc[s])

    # optimality direction: the highest-N·S stratum never gets fewer
    # samples than the lowest-N·S stratum
    by_w = sorted(stats, key=lambda s: stats[s][3])
    assert rows[by_w[-1]].alloc_n >= rows[by_w[0]].alloc_n


def test_jl_distortion_matches_numpy_and_concentrates(spark):
    from ucl_data_pipeline_spark.plans.similarity import (
        _JL_K,
        _JL_ROWS,
        jl_projection_distortion,
    )

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.itertuples()}
    S = np.asarray(_JL_ROWS)  # (k, d) of ±1
    assert S.shape[1] == 64 and set(np.unique(S)) == {-1.0, 1.0}

    rows = jl_projection_distortion(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_pairs == 10
        # the ±1/√k JL map is unbiased: E[ratio] = 1; with k=16 the
        # per-pair sd is ~√(2/k) ≈ 0.35, so means land well inside
        # (0.5, 1.6) and extremes stay positive and finite
        assert 0.4 < r.mean_ratio < 1.7, r
        assert 0.0 < r.min_ratio <= r.max_ratio < 4.0, r

    # replay one query's pairs in numpy (exact cosine ranking)
    q = rows[0].query_id
    qv = vecs[q]
    sims = {}
    for vid, v in vecs.items():
        if vid == q:
            continue
        sims[vid] = float(
            v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv))
        )
    top = sorted(sims, key=lambda i: (-sims[i], i))[:10]
    ratios = []
    for nb in top:
        diff = qv - vecs[nb]
        d2 = float(diff @ diff)
        p = (S @ diff) / math.sqrt(_JL_K)
        ratios.append(round(float(p @ p) / d2, 6))
    expect_mean = sum(ratios) / len(ratios)
    got = {r.query_id: r for r in rows}[q]
    assert abs(got.mean_ratio - expect_mean) < 1e-4
    assert abs(got.min_ratio - min(ratios)) < 1e-4
    assert abs(got.max_ratio - max(ratios)) < 1e-4


def test_mase_matches_pandas_shift_replay(spark):
    from ucl_data_pipeline_spark.plans.temporal import forecast_mase_seasonal

    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    daily = (
        o.assign(rev=o.o_totalprice.round(2))
        .groupby("o_orderdate").rev.sum()
        .sort_index()
    )
    l1, l7 = daily.shift(1), daily.shift(7)
    mask = l7.notna()
    e1 = (daily - l1)[mask].abs()
    e7 = (daily - l7)[mask].abs()
    mae1, mae7 = e1.mean(), e7.mean()

    r = forecast_mase_seasonal(spark, SF_DIR).collect()[0]
    assert r.n_days == len(daily)
    assert r.n_eval == int(mask.sum())
    assert abs(r.mae_naive - mae1) < 1e-3
    assert abs(r.mae_seasonal - mae7) < 1e-3
    assert abs(r.mase_seasonal - mae7 / mae1) < 1e-6
