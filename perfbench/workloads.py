"""The benchmark's workloads: what each runs, on which inputs.

``run.py`` builds the inputs here before the measured process starts
and hands ``worker.py`` their location and the operation list.
"""

from __future__ import annotations

import hashlib
import os
import pathlib

import gen

# Part of every input cache name, so that a changed generator never
# reuses inputs built by an older one.
GEN_HASH = hashlib.sha256(pathlib.Path(gen.__file__).read_bytes()).hexdigest()[:12]

# Stage-bound: wall time follows stage count and driver-stepped loops
# (eager collect/count/localCheckpoint inside the query build), not
# data volume. Two iterative queries, the persist-leak query, and two
# rank/range queries whose time is mostly in execution, as controls.
LATENCY_CHAIN = (
    "cc_canonical_selection",
    "markov_absorption_funnel",
    "split_leakage_audit",
    "spearman_rank_via_grain",
    "range_partition_boundaries",
)

# Row-scaled: per-row scan, join, text and shuffle work. At the full
# size a bit under half of the pass grows with rows; the rest is a
# fixed cost per query (README.md has the size sweep).
VOLUME_X10 = (
    "pricing_summary",
    "excess_share_suppliers",
    "product_profit_by_nation",
    "tfidf_top_terms",
    "sessionize_gaps_islands",
    "dedup_minhash_lsh",
)

WORKLOADS = ("latency_chain", "volume_x10", "reference_etl")

# The full sizes are what the benchmark measures; "tiny" is for the
# benchmark's own smoke test. volume_base_sf stops at 0.02: the run
# budget, and pricing_summary's DuckDB oracle, whose DECIMAL to DOUBLE
# cast can be one ulp off once the unscaled sums pass 2**53 (it is at
# sf0.04).
SIZES = {
    "full": {"latency_sf": 0.001, "volume_base_sf": 0.02, "etl_matches": 50_000},
    "tiny": {"latency_sf": 0.001, "volume_base_sf": 0.001, "etl_matches": 4_000},
}

# The query workloads read one fixed data set, like the engine's own
# test data; their seed sets the order of its rows across and within
# files, not its content.
BASE_SEED = 42


def _oracle_dir(cache_dir: str, data_set: str) -> str:
    """Where the oracle results of one query data set are kept. The
    seed is not part of the name: it orders the rows, and the oracle's
    result is a multiset."""
    return os.path.join(cache_dir, f"oracle-{data_set}-g{GEN_HASH}-b{BASE_SEED}")


def prepare(workload: str, seed: int, size: str, cache_dir: str) -> dict:
    """Build (or reuse) the inputs of one run; returns what the worker
    needs to find them."""
    s = SIZES[size]
    tag = f"g{GEN_HASH}-b{BASE_SEED}-s{seed}"
    if workload == "latency_chain":
        sf = s["latency_sf"]
        path = os.path.join(cache_dir, f"tables-sf{sf}-{tag}")
        gen.ensure(path, lambda d: gen.write_tables(d, sf, BASE_SEED, seed))
        return {"data_dir": path, "queries": list(LATENCY_CHAIN),
                "oracle_dir": _oracle_dir(cache_dir, f"tables-sf{sf}")}
    if workload == "volume_x10":
        sf = s["volume_base_sf"]
        path = os.path.join(cache_dir, f"x10-sf{sf}-{tag}")
        gen.ensure(path, lambda d: gen.write_tables_x10(d, sf, BASE_SEED, seed))
        return {"data_dir": path, "queries": list(VOLUME_X10),
                "oracle_dir": _oracle_dir(cache_dir, f"x10-sf{sf}")}
    if workload == "reference_etl":
        n, n_fix = s["etl_matches"], s["etl_matches"] // 4
        path = os.path.join(cache_dir, f"etl-{n}-{tag}")
        gen.ensure(path, lambda d: gen.write_reference_csvs(d, n, n_fix, seed))
        return {"data_dir": path, "n_matches": n, "n_fixtures": n_fix}
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
