"""Round-8 batch 20 depth tests: numpy/python references for HITS
(L1-normalized power iteration on the dense weight matrix), the
Adamic-Adar/RA/PA link-prediction scores (set-algebra replay on the
major-lane graph), and the dyad census identities."""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _directed_weighted_edges():
    l = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")[
        ["l_orderkey", "l_suppkey"]
    ]
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")[
        ["o_orderkey", "o_custkey"]
    ]
    c = pd.read_parquet(f"{SF_DIR}/customer.parquet")[
        ["c_custkey", "c_nationkey"]
    ]
    s = pd.read_parquet(f"{SF_DIR}/supplier.parquet")[
        ["s_suppkey", "s_nationkey"]
    ]
    m = (
        l.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(s, left_on="l_suppkey", right_on="s_suppkey")
    )
    m = m[m.s_nationkey != m.c_nationkey]
    return (
        m.groupby(["s_nationkey", "c_nationkey"])
        .size()
        .rename("w")
        .reset_index()
    )


def _major_lanes(edges: pd.DataFrame, k: int = 5) -> set[tuple[int, int]]:
    lanes = set()
    for src, sub in edges.groupby("s_nationkey"):
        top = sub.sort_values(
            ["w", "c_nationkey"], ascending=[False, True]
        ).head(k)
        lanes.update(zip(top.s_nationkey, top.c_nationkey))
    return lanes


def test_hits_matches_numpy_power_iteration(spark):
    from ucl_data_pipeline_spark.plans.graph import (
        _HITS_ITER,
        _N_NODES,
        hits_hub_authority,
    )

    e = _directed_weighted_edges()
    W = np.zeros((_N_NODES, _N_NODES))
    for r in e.itertuples():
        W[r.s_nationkey, r.c_nationkey] = r.w
    h = np.full(_N_NODES, 1.0 / _N_NODES)
    for _ in range(_HITS_ITER):
        a = W.T @ h
        a = a / a.sum()
        h = W @ a
        h = h / h.sum()

    rows = {r.node: r for r in hits_hub_authority(spark, SF_DIR).collect()}
    assert len(rows) == _N_NODES
    for node in range(_N_NODES):
        assert abs(rows[node].authority - a[node]) < 1e-5, node
        assert abs(rows[node].hub - h[node]) < 1e-5, node
    # L1 normalization: both vectors sum to 1
    assert abs(sum(r.authority for r in rows.values()) - 1.0) < 1e-4
    assert abs(sum(r.hub for r in rows.values()) - 1.0) < 1e-4


def test_adamic_adar_matches_set_replay(spark):
    from ucl_data_pipeline_spark.plans.graph import adamic_adar_linkpred

    lanes = _major_lanes(_directed_weighted_edges())
    und = {(min(a, b), max(a, b)) for a, b in lanes}
    nbrs = defaultdict(set)
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)

    expect = {}
    nodes = sorted(nbrs)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if (u, v) in und:
                continue
            common = nbrs[u] & nbrs[v]
            if not common:
                continue
            aa = sum(1.0 / math.log(len(nbrs[z])) for z in sorted(common))
            ra = sum(1.0 / len(nbrs[z]) for z in sorted(common))
            expect[(u, v)] = (len(common), aa, ra, len(nbrs[u]) * len(nbrs[v]))

    rows = adamic_adar_linkpred(spark, SF_DIR).collect()
    assert len(rows) == len(expect)
    for r in rows:
        nc, aa, ra, pa = expect[(r.u, r.v)]
        assert r.n_common == nc
        assert abs(r.adamic_adar - aa) < 1e-5
        assert abs(r.resource_alloc - ra) < 1e-5
        assert r.pref_attach == pa


def test_dyad_census_identities(spark):
    from ucl_data_pipeline_spark.plans.graph import (
        _N_NODES,
        _TOP_LANES,
        dyad_census_trade,
    )

    lanes = _major_lanes(_directed_weighted_edges())
    mutual = sum(
        1 for a, b in lanes if a < b and (b, a) in lanes
    )
    r = dyad_census_trade(spark, SF_DIR).collect()[0]
    assert r.directed_edges == len(lanes) == _N_NODES * _TOP_LANES
    assert r.mutual_dyads == mutual
    assert r.asym_dyads == len(lanes) - 2 * mutual
    # census partition: mutual + asym + null = V(V-1)/2
    assert (
        r.mutual_dyads + r.asym_dyads + r.null_dyads
        == _N_NODES * (_N_NODES - 1) // 2
    )
    assert abs(r.density - len(lanes) / (_N_NODES * (_N_NODES - 1))) < 2e-6
    assert abs(r.reciprocity - 2 * mutual / len(lanes)) < 2e-6
