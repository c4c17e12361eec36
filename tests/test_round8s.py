"""Round-8 batch 25 depth tests: numpy/python references for the
centroid-distance outliers, the simplified silhouette, and the Markov
absorption probabilities (dense matrix-power replay) — plus the
structural facts (absorption monotone in horizon; purchase pinned at
1; silhouette in [0, 1] for the centroid variant)."""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"


def _emb():
    e = pd.read_parquet(f"{SF_DIR}/embeddings.parquet").sort_values("vec_id")
    X = np.stack(e.embedding.to_numpy()).astype(float)
    return e.vec_id.to_numpy(), X


def test_centroid_outliers_match_numpy(spark):
    from ucl_data_pipeline_spark.plans.similarity import K
    from ucl_data_pipeline_spark.plans.similarity import (
        _OUT_TOPN,
        centroid_distance_outliers,
    )

    ids, X = _emb()
    C = X[:K]
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a2 = d2.min(axis=1)
    cid = d2.argmin(axis=1)
    order = sorted(range(len(ids)), key=lambda i: (-a2[i], ids[i]))[
        :_OUT_TOPN
    ]

    rows = centroid_distance_outliers(spark, SF_DIR).collect()
    assert len(rows) == _OUT_TOPN
    for r, i in zip(rows, order):
        assert r.vec_id == ids[i]
        assert r.cluster_id == cid[i]
        assert abs(r.centroid_dist - np.sqrt(a2[i])) < 1e-5


def test_simplified_silhouette_matches_numpy(spark):
    from ucl_data_pipeline_spark.plans.similarity import K
    from ucl_data_pipeline_spark.plans.similarity import simplified_silhouette

    _, X = _emb()
    C = X[:K]
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    part = np.sort(d2, axis=1)
    a = np.sqrt(part[:, 0])
    b = np.sqrt(part[:, 1])
    s = np.round((b - a) / np.maximum(a, b), 6)
    cid = d2.argmin(axis=1)

    rows = {r.cluster_id: r for r in simplified_silhouette(spark, SF_DIR).collect()}
    for k in range(K):
        mask = cid == k
        if not mask.any():
            assert k not in rows
            continue
        r = rows[k]
        assert r.n_points == int(mask.sum())
        assert abs(r.mean_silhouette - s[mask].mean()) < 1e-5
        # centroid variant: b >= a by construction, so s in [0, 1]
        assert -1e-9 <= r.mean_silhouette <= 1.0 + 1e-9
    assert sum(r.n_points for r in rows.values()) == len(X)


def test_markov_absorption_matches_matrix_power(spark):
    from ucl_data_pipeline_spark.plans.temporal import (
        _ABS_TARGET,
        markov_absorption_funnel,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    counts = defaultdict(lambda: defaultdict(int))
    for _, sub in ev.groupby("user_id"):
        ts = sub.event_type.tolist()
        for a, b in zip(ts, ts[1:]):
            counts[a][b] += 1
    states = sorted(counts)
    idx = {s: i for i, s in enumerate(states)}
    P = np.zeros((len(states), len(states)))
    for a, row in counts.items():
        tot = sum(row.values())
        for b, c in row.items():
            P[idx[a], idx[b]] = c / tot
    tgt = idx[_ABS_TARGET]

    a = np.zeros(len(states))
    a[tgt] = 1.0
    got = {r.start_state: r for r in markov_absorption_funnel(spark, SF_DIR).collect()}
    want = {}
    for step in range(1, 9):
        a = P @ a
        a[tgt] = 1.0
        if step in (2, 4, 8):
            want[step] = a.copy()
    assert set(got) == set(states)
    for s_name, i in idx.items():
        r = got[s_name]
        assert abs(r.p_absorb_2 - want[2][i]) < 1e-5, s_name
        assert abs(r.p_absorb_4 - want[4][i]) < 1e-5, s_name
        assert abs(r.p_absorb_8 - want[8][i]) < 1e-5, s_name
        # absorption probability is monotone in the horizon
        assert r.p_absorb_2 <= r.p_absorb_4 + 1e-9 <= r.p_absorb_8 + 2e-9
    # the absorbing state is pinned at 1 for every horizon
    assert got[_ABS_TARGET].p_absorb_2 == 1.0
    assert got[_ABS_TARGET].p_absorb_8 == 1.0


def _absorb_loop(trans, states, target, k):
    """The explicit superstep spelling: join + group-by + left join back
    onto the states, once per step. Returns [{state: a_i}] for i in 0..k."""
    from pyspark.sql import functions as F

    a = states.select(
        "s", F.when(F.col("s") == target, 1.0).otherwise(0.0).alias("a")
    )
    out = [{r.s: r.a for r in a.collect()}]
    for _ in range(k):
        step = (
            trans.join(a, a["s"] == trans["dst"])
            .select(
                F.col("src").alias("cs"),
                F.round(F.col("p") * F.col("a"), 12).alias("term"),
            )
            .groupBy("cs")
            .agg(F.sum(F.col("term").cast("decimal(38,12)")).cast("double").alias("v"))
        )
        a = states.join(step, states["s"] == step["cs"], "left").select(
            "s",
            F.when(F.col("s") == target, 1.0)
            .otherwise(F.round(F.coalesce("v", F.lit(0.0)), 12))
            .alias("a"),
        )
        out.append({r.s: r.a for r in a.collect()})
    return out


def _absorb_fold(trans, target, k):
    """The same supersteps as one fold over the gathered matrix, by the
    query's own absorption_history."""
    from ucl_data_pipeline_spark.plans.temporal import absorption_history

    row = absorption_history(trans, target, k).collect()[0]
    return [dict(zip(row.ns, x)) for x in row.h]


def test_fold_steps_matches_explicit_supersteps(spark):
    # The hand-built matrix has a dst that is never a src ('x'), a state
    # whose only out-edge leads there, so it has none inside the states
    # ('c'), a self-loop, and probabilities whose products need the
    # ROUND-12 + exact decimal sum.
    from pyspark.sql import functions as F

    edges = [
        ("a", "b", 0.1), ("a", "t", 0.2), ("a", "a", 0.7),
        ("b", "a", 1 / 3), ("b", "x", 2 / 3),
        ("t", "t", 1.0), ("b", "c", 0.0), ("c", "x", 1.0),
    ]
    schema = "src string, dst string, p double"
    trans = spark.createDataFrame(edges, schema)
    empty = spark.createDataFrame([], schema)
    cases = [
        (trans, "t"),
        (trans, "z"),  # absorbing target absent
        (empty, "t"),  # empty matrix
    ]
    for tr, target in cases:
        states = tr.select(F.col("src").alias("s")).distinct()
        want = _absorb_loop(tr, states, target, 5)
        got = _absorb_fold(tr, target, 5)
        assert got == want, (target, got, want)
    # the absent target absorbs nothing; 'c' (no out-edges) stays 0
    got = _absorb_fold(trans, "z", 3)
    assert all(v == 0.0 for x in got for v in x.values())
    assert all(x["c"] == 0.0 for x in _absorb_fold(trans, "t", 5))


def _write_events(path, streams):
    """events.parquet with one user per stream, events in stream order."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    ev, eid = [], 0
    t0 = dt.datetime(2024, 1, 1)
    for u, stream in enumerate(streams):
        for j, t in enumerate(stream):
            ev.append((eid, t0 + dt.timedelta(minutes=j), u, t))
            eid += 1
    eid_, ts, uid, et = zip(*ev)
    pq.write_table(
        pa.table({
            "event_id": pa.array(eid_, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(uid, pa.int64()),
            "event_type": pa.array(et, pa.string()),
            "value": pa.array([1.0] * len(ev), pa.float64()),
            "props": pa.array(["{}"] * len(ev), pa.string()),
        }),
        f"{path}/events.parquet",
    )


def test_markov_queries_count_transitions_into_to_only_types(spark, tmp_path):
    # 'x' only ever ends a stream, so it is a to-only type, and 'c''s
    # one transition goes into it: the fold drops edges into 'x', but
    # n_from, the total and empirical_p count them, as the oracle does.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.plans.temporal import (
        _MARKOV_ITERS,
        markov_stationary_events,
    )
    from ucl_data_pipeline_spark.plans.temporal import (
        _ABS_STEPS,
        _ABS_TARGET,
        markov_absorption_funnel,
    )

    streams = [
        ["a", "b", _ABS_TARGET, "x"],
        ["a", "a", "b", "x"],
        ["b", _ABS_TARGET, _ABS_TARGET, "a"],
        ["a", "c", "x"],
        ["a"],
    ]
    _write_events(tmp_path, streams)
    pairs = defaultdict(lambda: defaultdict(int))
    for stream in streams:
        for a, b in zip(stream, stream[1:]):
            pairs[a][b] += 1
    n_from = {a: sum(row.values()) for a, row in pairs.items()}
    total = sum(n_from.values())
    assert "x" not in n_from and n_from["c"] == 1

    # power iteration on the from-types; mass into 'x' leaves the chain
    states = sorted(n_from)
    P = {a: {b: round(c / n_from[a], 6) for b, c in row.items()} for a, row in pairs.items()}
    pi = [{s: 1.0 / len(states) for s in states}]
    for _ in range(_MARKOV_ITERS):
        nxt = defaultdict(float)
        for a, p in pi[-1].items():
            for b, q in P[a].items():
                if b in n_from:
                    nxt[b] += p * q
        pi.append(dict(nxt))
    got = {r.event_type: r for r in markov_stationary_events(spark, str(tmp_path)).collect()}
    assert set(got) == set(pi[-1]) == set(states)
    for s in states:
        assert got[s].empirical_p == round(n_from[s] / total, 6), s
        assert abs(got[s].stationary_p - pi[-1][s]) < 2e-6, s
        assert abs(got[s].abs_delta - abs(pi[-1][s] - pi[-2][s])) < 1e-9, s

    # the registered absorption query against the explicit superstep loop
    ev = spark.read.parquet(f"{tmp_path}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cnt = (
        ev.select(F.col("event_type").alias("src"), F.lead("event_type").over(w).alias("dst"))
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("c"))
    )
    trans = cnt.select(
        "src", "dst", (F.col("c") / F.sum("c").over(Window.partitionBy("src"))).alias("p")
    )
    loop = _absorb_loop(
        trans, trans.select(F.col("src").alias("s")).distinct(), _ABS_TARGET, _ABS_STEPS
    )
    got = markov_absorption_funnel(spark, str(tmp_path)).collect()
    assert [r.start_state for r in got] == states
    for r in got:
        for k in (2, 4, 8):
            assert r[f"p_absorb_{k}"] == round(loop[k][r.start_state], 6), (k, r)


def test_array_dsum_is_sql_sum(spark):
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.plans.registry import array_dsum

    vals = [0.1, 0.2, 0.3, 123456.789012345678, 1e-12, None]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, v double")
    want = df.agg(F.sum(F.col("v").cast("decimal(38,12)")).cast("double")).first()[0]
    got = df.agg(F.collect_list("v").alias("a")).select(
        array_dsum(F.col("a")).cast("double"),
        array_dsum(F.array().cast("array<double>")),
        array_dsum(F.array(F.lit(None).cast("double"))),
    ).first()
    assert got[0] == want
    assert got[1] is None and got[2] is None  # SQL SUM of no values


FOLDED_QUERIES = (
    "markov_absorption_funnel",
    "markov_stationary_events",
    "pagerank_trade_network",
    "pagerank_residual_audit",
    "bfs_reach_hops",
    "cheapest_route_nations",
    "hits_hub_authority",
)


def test_folded_queries_build_without_jobs_or_persists(spark):
    # Building a folded query's frame runs no Spark action: the only jobs
    # are the parquet schema reads of read_table (one per table), and it
    # leaves no persisted RDD behind.
    from ucl_data_pipeline_spark.plans import REGISTRY

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    for name in FOLDED_QUERIES:
        jobs = set(tracker.getJobIdsForGroup())
        persisted = sc._jsc.getPersistentRDDs().size()
        REGISTRY[name].fn(spark, SF_DIR)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        names = [
            store.job(int(j)).name()
            for j in set(tracker.getJobIdsForGroup()) - jobs
        ]
        assert all(n.startswith("parquet at ") for n in names), (name, names)
        assert sc._jsc.getPersistentRDDs().size() == persisted, name
