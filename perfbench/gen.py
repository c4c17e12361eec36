"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow only (no Spark), so generating inputs
never touches the JVM and never counts toward ``setup_s``. Each
generator writes into a directory it is given and leaves a ``.done``
marker; ``ensure`` skips the work when the marker is present, so inputs
are built once per (kind, size, seed) in a checkout.

- ``write_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the query registry reads, with
  the column shapes and value domains of the engine's synthetic test
  data (uniform keys, four suppliers per part, Poisson-ish lines per
  order, 5% near-duplicate documents, unit-norm 64-d embeddings in 10
  weak clusters); the seed sets the row order.
- ``write_tables_x10``: ten copies of one base set with per-copy key
  offsets, per-copy document tags and per-copy embedding reflections
  (the ``tools/scale_smoke.py`` construction), written as 32-file
  multi-split parquet whose row order across files is set by the seed.
- ``write_reference_csvs``: the reference batch's CSV inputs (matches,
  fixtures and seven side tables) with unique dimension keys, so every
  left join preserves fact cardinality.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Per-copy key offsets for the x10 construction (tools/scale_smoke.py).
X10_KEYS = {
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
X10_OFFSET = 10_000_000
X10_FILES = 32

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def ensure(path: str, build) -> str:
    """Run ``build(tmp_dir)`` once and publish it at ``path``."""
    if os.path.exists(os.path.join(path, ".done")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(np.int64))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(_VOCAB[w] for w in ws) for ws in np.split(words, cuts)]
    # 5% near-duplicates: an earlier document plus one or two "dup" tokens
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            src = int(rng.integers(0, i))
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0, 1, (10, dim))
    vecs = 0.15 * centroids[labels] + rng.normal(0, 1, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels,
    }


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """One synthetic data set at scale factor ``sf`` (sf0.1 ≈ 600k
    lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(1, round(50_000 * sf))
    n_vec = max(500, round(20_000 * sf))

    def keys(n):
        return np.arange(n, dtype=np.int64)

    def fmt(prefix, n):
        return [f"{prefix}#{i:09d}" for i in range(n)]

    pk = keys(n_part)
    # Each part is supplied by four suppliers, as in TPC-H's partsupp,
    # so that a supplier's share of a part's volume stays near a quarter
    # at every scale and the excess-share query has rows to check.
    l_part = rng.integers(0, n_part, n_line)
    l_supp = (l_part + rng.integers(0, 4, n_line) * (n_supp // 4 + l_part // n_supp)) % n_supp
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    cols = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": _REGIONS,
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
        "customer": {
            "c_custkey": keys(n_cust),
            "c_name": fmt("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": keys(n_supp),
            "s_name": fmt("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.array(_NOUN)[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add(
                "Brand#", rng.integers(1, 26, n_part).astype(str)
            ),
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        },
        "orders": {
            "o_orderkey": keys(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": l_part.astype(np.int64),
            "l_suppkey": l_supp.astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        },
        "events": {
            "event_id": keys(n_ev),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vec),
    }
    out = {}
    for name, c in cols.items():
        arrays = {
            k: pa.array(v, type=pa.list_(pa.float32()))
            if k == "embedding" else pa.array(v)
            for k, v in c.items()
        }
        out[name] = pa.table(arrays)
    return out


def write_tables(out_dir: str, sf: float, base_seed: int, seed: int) -> None:
    """One single-file parquet per table, like the engine's test data:
    the ``base_seed`` data set with its fact rows in an order set by
    ``seed``."""
    rng = np.random.default_rng(seed)
    for name, table in make_tables(sf, base_seed).items():
        if name in X10_KEYS:
            table = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _copy(name: str, table: pa.Table, c: int) -> pa.Table:
    if c == 0:
        return table
    for k in X10_KEYS.get(name, ()):
        i = table.schema.get_field_index(k)
        table = table.set_column(
            i, k, pa.array(table[k].to_numpy() + c * X10_OFFSET)
        )
    if name == "documents":
        # tag every token, so copies are mutually dissimilar but keep
        # each copy's internal near-duplicate structure
        tag = f"c{c}"
        texts = [
            " ".join(w + tag for w in t.split())
            for t in table["text"].to_pylist()
        ]
        table = table.set_column(
            table.schema.get_field_index("text"), "text", pa.array(texts)
        )
        table = table.set_column(
            table.schema.get_field_index("n_chars"),
            "n_chars",
            pa.array([len(t) for t in texts], type=pa.int64()),
        )
    if name == "embeddings":
        # a per-copy sign reflection: within-copy cosines are preserved
        signs = np.random.default_rng(c).choice([-1.0, 1.0], 64).astype(np.float32)
        vecs = np.stack(table["embedding"].to_numpy(zero_copy_only=False)) * signs
        table = table.set_column(
            table.schema.get_field_index("embedding"),
            "embedding",
            pa.array(list(vecs), type=pa.list_(pa.float32())),
        )
    return table


def write_tables_x10(out_dir: str, base_sf: float, base_seed: int, seed: int) -> None:
    """Ten offset copies of the ``base_sf`` set as 32-file parquet; the
    row order across files comes from ``seed``."""
    rng = np.random.default_rng(seed)
    for name, table in make_tables(base_sf, base_seed).items():
        if name not in X10_KEYS:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
            continue
        big = pa.concat_tables([_copy(name, table, c) for c in range(10)])
        big = big.take(pa.array(rng.permutation(big.num_rows)))
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        for i, part in enumerate(np.array_split(np.arange(big.num_rows), X10_FILES)):
            pq.write_table(
                big.slice(int(part[0]), len(part)),
                os.path.join(d, f"part-{i:05d}.parquet"),
            )


# ---------------------------------------------------------------------------
# Reference batch CSVs
# ---------------------------------------------------------------------------

def write_reference_csvs(out_dir: str, n_matches: int, n_fix: int, seed: int) -> None:
    """Matches, fixtures and the seven side tables.

    About ``n_matches / 500`` teams. One team in eight appears in the
    fact under a raw alias that the name map resolves; one dimension row
    in ten is left out of each side table, so the enrich defaults fire.
    Dimension keys, including ``(date, team)``, are unique.
    """
    import pyarrow.csv as pcsv

    rng = np.random.default_rng(seed)
    n_teams = max(8, n_matches // 500)
    teams = np.array([f"Team {i:05d}" for i in range(n_teams)])
    aliased = rng.random(n_teams) < 0.125
    raw_names = np.where(aliased, np.char.add("FC ", teams), teams)

    def pairs(n):
        home = rng.integers(0, n_teams, n)
        away = (home + rng.integers(1, n_teams, n)) % n_teams
        return home, away

    def odds(n):
        return [np.round(rng.uniform(lo, hi, n), 2)
                for lo, hi in ((1.1, 8.0), (2.5, 5.0), (1.1, 12.0))]

    def write(name, cols):
        pcsv.write_csv(pa.table(cols), os.path.join(out_dir, f"{name}.csv"))

    def keep(n):
        return rng.random(n) >= 0.1

    h, a = pairs(n_matches)
    match_days = _days(rng, n_matches, "2000-01-01", "2025-06-30").astype("datetime64[D]")
    ho, do, ao = odds(n_matches)
    n_refs = 40
    write("raw_football_data", {
        "date": match_days.astype(str),
        "home_team": raw_names[h],
        "away_team": raw_names[a],
        "home_goals": rng.poisson(1.5, n_matches),
        "away_goals": rng.poisson(1.1, n_matches),
        "home_odds_dec": ho,
        "draw_odds_dec": do,
        "away_odds_dec": ao,
        "ref_name": np.char.add("Referee ", rng.integers(0, n_refs, n_matches).astype(str)),
    })
    h, a = pairs(n_fix)
    fix_ts = (
        np.datetime64("2025-07-01T00:00:00", "s")
        + rng.integers(0, 300 * 86_400, n_fix).astype("timedelta64[s]")
    )
    ho, do, ao = odds(n_fix)
    write("raw_theodds_fixtures", {
        "date": np.char.add(np.datetime_as_string(fix_ts, unit="s"), "Z"),
        "home_team": raw_names[h],
        "away_team": raw_names[a],
        "home_odds_dec": ho,
        "draw_odds_dec": do,
        "away_odds_dec": ao,
    })
    write("team_name_map", {"raw": raw_names[aliased], "canonical": teams[aliased]})
    k = keep(n_teams)
    write("teams_master", {
        "team": teams[k],
        "gk_rating": np.round(rng.uniform(0.55, 0.90, k.sum()), 3),
        "setpiece_rating": np.round(rng.uniform(0.50, 0.85, k.sum()), 3),
        "crowd_index": np.round(rng.uniform(0.0, 1.0, k.sum()), 3),
    })
    k = keep(n_teams)
    write("stadiums", {
        "team": teams[k],
        "stadium": np.char.add("Ground ", np.flatnonzero(k).astype(str)),
        "lat": np.round(rng.uniform(35.0, 60.0, k.sum()), 4),
        "lon": np.round(rng.uniform(-10.0, 30.0, k.sum()), 4),
    })
    refs = np.arange(n_refs)[keep(n_refs)]
    write("ref_baselines", {
        "ref_name": np.char.add("Referee ", refs.astype(str)),
        "ref_pen_rate": np.round(rng.uniform(0.1, 0.5, len(refs)), 3),
    })
    k = keep(n_teams)
    write("xg_metrics_hybrid", {
        "team": teams[k],
        "league_id": rng.integers(1, 20, k.sum()),
        "xg_hybrid": np.round(rng.uniform(0.5, 2.5, k.sum()), 3),
        "xga_hybrid": np.round(rng.uniform(0.5, 2.5, k.sum()), 3),
        "xgd_hybrid": np.round(rng.uniform(-1.5, 1.5, k.sum()), 3),
        "xgd90_hybrid": np.round(rng.uniform(-1.5, 1.5, k.sum()), 3),
    })
    # time-varying dims: distinct (date, team) keys sampled from the
    # fact's own match days so the joins actually hit
    n_dim = max(1, n_matches // 2)
    d_day = match_days[rng.integers(0, n_matches, n_dim)]
    d_team = rng.integers(0, n_teams, n_dim)
    key = d_day.astype(np.int64) * n_teams + d_team
    _, first = np.unique(key, return_index=True)
    d_day, d_team = d_day[first], teams[d_team[first]]
    write("injuries", {
        "date": d_day.astype(str),
        "team": d_team,
        "injury_index": np.round(rng.uniform(0.0, 1.0, len(first)), 3),
    })
    write("lineups", {
        "date": d_day.astype(str),
        "team": d_team,
        "key_att_out": rng.integers(0, 2, len(first)),
        "key_def_out": rng.integers(0, 2, len(first)),
        "keeper_changed": rng.integers(0, 2, len(first)),
    })
