"""Query registry: name → (Spark callable, DuckDB oracle SQL).

Every operator the engine claims (SURVEY.md §2 inventory + the
training-data operators) registers here; the driver harness compares
each Spark result against its oracle SQL on the same parquet tables
(row count + schema + order-insensitive value hash).

Cross-engine float determinism convention (critical for value-hash
equality — Spark and DuckDB sum doubles in different orders):

- Aggregates over money/ratio doubles are computed EXACTLY by casting
  inputs to DECIMAL before SUM and casting the final result to DOUBLE.
  Decimal addition is exact, so both engines produce bit-identical
  doubles regardless of partitioning. Helper: ``dsum``/``davg`` below,
  mirrored in oracle SQL as
  ``CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)``.
- Per-row transcendental math (haversine, cosine) differs in the last
  ulp between libm and the JVM; such outputs are wrapped in
  ``ROUND(x, 6)`` on both sides.
- **Atomic output columns only**: a registered query's result schema
  must contain no ArrayType / MapType / StructType column. The driver
  canonicalizes results with pandas ``sort_values``/``factorize``,
  which cannot hash list cells (``TypeError: unhashable type``), so an
  array column makes the hard correctness signal blind even when the
  values match. Serialize collections deterministically instead:
  ``concat_ws``/``to_json`` after ``array_sort`` on the Spark side,
  ``array_to_string(list_sort(...))``/``to_json`` in the oracle.
  Enforced by tests/test_plans.py::test_registered_outputs_atomic.
- **Oracle aggregate outputs must be CAST to BIGINT/DOUBLE/VARCHAR —
  never HUGEINT or wide DECIMAL.** DuckDB types a bare ``SUM(BIGINT)``
  as HUGEINT, which pandas converts to float64, while Spark returns
  int64; the driver's dtype-sensitive canonicalizer then hashes
  ``60000 != 60000.0`` even though every value matches. Write
  ``CAST(SUM(x) AS BIGINT)``. Values wider than 15-16 significant
  digits (e.g. a DECIMAL(38,0) checksum) must be emitted as strings on
  BOTH sides — float64 transport silently truncates them. Enforced by
  tests/test_queries_oracle.py::test_query_matches_oracle's dtype
  check (compares ``duckdb .df()`` vs ``toPandas()`` dtypes — the
  driver's view).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions.text import _let

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a query and its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name, fn, oracle, fn.__doc__ or "", tuple(tags))
        return fn

    return deco


# ---------------------------------------------------------------------------
# Export ordering
# ---------------------------------------------------------------------------
# The verification driver checks a bounded prefix (first 50) of the
# exported query dict each round, so export order is rotated per round
# to maximize cumulative driver-verified coverage: queries that have
# never been driver-checked come first; queries with a green
# CORRECTNESS row from a prior round come last (they stay registered
# and locally verified -- tools/verify_local.py covers the full
# inventory).
#
# Round-14 rotation. After r13 the never-witnessed count is 0 and the
# oldest vintage is r5 with 40 rows left (computed from
# CORRECTNESS_r01-r13). The 50-slot prefix:
#   (1) the 7 REWITNESS_CHANGED rows below -- every query whose
#       supersteps became one fold_steps column over a gathered
#       bounded-domain matrix (registry.gather_graph): the two Markov
#       chains, PageRank (pagerank_residual_audit reads the same fold),
#       BFS, Bellman-Ford and HITS;
#   (2) the 39 remaining r5-vintage rows (chi_square_independence ..
#       zorder_layout_stats; cheapest_route_nations, also r5, is in (1));
#   (3) the 4 alphabetically-first r6-vintage rows (ann_recall_ivf2_at_3 ..
#       bayesian_smoothed_rating), leaving the r6+ tail for round 15.
# Everything later in the dict has a green row from rounds 6-13 and
# stays locally verified by tools/verify_local.py / the parametrized
# pytest oracle suite over the FULL registry.
# Queries whose plans were changed/rewritten THIS round and are
# re-witnessed while changed even though they have a recent green row.
# tests/test_registry_rotation.py uses this to verify that every other
# prefix slot goes to the witnessing backlog (never-witnessed or
# oldest-vintage rows) -- the rotation can no longer silently drift
# from its comment (the round-8 failure mode, fixed manually in r9,
# now gated).
REWITNESS_CHANGED: tuple[str, ...] = (
    "bfs_reach_hops",
    "cheapest_route_nations",
    "hits_hub_authority",
    "markov_absorption_funnel",
    "markov_stationary_events",
    "pagerank_residual_audit",
    "pagerank_trade_network",
)

EXPORT_FIRST: tuple[str, ...] = (
    # (1) the 7 changed-plan rows, re-witnessed while changed
    "bfs_reach_hops",
    "cheapest_route_nations",
    "hits_hub_authority",
    "markov_absorption_funnel",
    "markov_stationary_events",
    "pagerank_residual_audit",
    "pagerank_trade_network",
    # (2) the 39 remaining r5-vintage rows
    "chi_square_independence",
    "churn_resurrection_stats",
    "constraint_violation_audit",
    "corr_matrix_lineitem",
    "count_min_estimate_error",
    "crosscorr_event_series",
    "doc_language_mix",
    "embedding_centroid_shift",
    "embedding_norm_quantiles",
    "epoch_shuffle_shards",
    "event_pattern_vvp",
    "group_by_all_surface",
    "hll_distinct_error_gate",
    "holt_linear_forecast",
    "iqr_outlier_fences",
    "join_size_from_histograms",
    "kmeans_lloyd5",
    "largest_remainder_apportion",
    "listagg_surface",
    "market_concentration_hhi",
    "mutual_information_flags",
    "ols_slope_per_nation",
    "out_of_order_stats",
    "psi_price_drift",
    "recursive_reachability_sql",
    "rfm_segmentation",
    "robust_zscore_outliers_approx",
    "scd2_point_in_time_join",
    "seasonal_dow_decompose",
    "session_length_histogram",
    "share_of_parent_rollup",
    "ship_latency_quantiles",
    "sliding_distinct_users_7d",
    "top_supplier_revenue",
    "trade_modularity_score",
    "trending_event_types_hourly",
    "variant_extract_surface",
    "weighted_median_price",
    "zorder_layout_stats",
    # (3) the 4 alphabetically-first r6-vintage rows
    "ann_recall_ivf2_at_3",
    "argmax_surface",
    "autocorr_daily_revenue",
    "bayesian_smoothed_rating",
)


def _export_order() -> list[str]:
    first = [n for n in EXPORT_FIRST if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in EXPORT_FIRST]
    return first + rest


def all_queries() -> dict[str, QueryFn]:
    return {name: REGISTRY[name].fn for name in _export_order()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _export_order()
        if REGISTRY[name].oracle is not None
    }


# ---------------------------------------------------------------------------
# Cross-engine deterministic aggregate helpers (see module docstring)
# ---------------------------------------------------------------------------

DEC = "decimal(18,6)"


def dsum(c: Column | str) -> Column:
    """Order-independent exact sum of a (≤6-decimal) double column."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(c.cast(DEC)).cast("double")


def davg(c: Column | str) -> Column:
    """Order-independent mean: exact decimal sum ÷ count, in double."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def r6(c: Column) -> Column:
    """Round transcendental-math output to 6 dp (cross-libm safety)."""
    return F.round(c, 6)


# ---------------------------------------------------------------------------
# Bounded-domain supersteps as ONE expression
# ---------------------------------------------------------------------------
# An iteration whose state lives on a dimension's domain (event types,
# 25 nations) gathers its matrix into one row and runs every superstep
# inside that row: no per-step join, shuffle, checkpoint or Spark job.

# Below 38: Spark widens decimal(p,s) + decimal(p,s) to (p+1,s), and at
# p=38 it drops a fractional digit instead.
FOLD_DEC = "decimal(30,12)"


def gather_graph(edges: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """The one row a bounded-domain fold runs on. ``ns`` holds the sorted
    keys of ``nodes``' first column; each further ``nodes`` column
    becomes an array aligned with ns. ``es`` holds the rows of ``edges``
    (``src``, ``dst`` and any payload) as structs with ``s`` and ``d``
    added, the 1-based positions of src and dst in ns. An edge with an
    endpoint outside ns is dropped, as a superstep's inner join to the
    node states drops it. Callers gather a dimension-sized matrix, never
    a row-count-sized one.

    Without ``nodes``, ns is the distinct ``src`` of the gathered edges,
    read inside the row. A node frame derived from ``edges`` instead
    (``edges.select("src").distinct()``) is a second reference to their
    fact-sized stage, and Catalyst prunes the two references apart, so
    that stage runs twice."""
    es = F.collect_list(F.struct(*edges.columns)).alias("es")
    if nodes is None:
        ns = F.array_sort(F.array_distinct("es.src"))
        g = edges.agg(es).select(ns.alias("ns"), "es")
    else:
        key, *vals = nodes.columns
        n = F.array_sort(F.collect_list(F.struct(*nodes.columns))).alias("n")
        g = nodes.agg(n).crossJoin(edges.agg(es)).select(
            F.col(f"n.{key}").alias("ns"), *(F.col(f"n.{v}").alias(v) for v in vals), "es"
        )

    def pos(k: Column) -> Column:
        return F.array_position("ns", k).cast("int")

    at = F.transform(
        "es", lambda e: e.withField("s", pos(e["src"])).withField("d", pos(e["dst"]))
    )
    return g.withColumn("es", F.filter(at, lambda e: (e["s"] > 0) & (e["d"] > 0)))


def fold_steps(
    init: Column | str, step: Callable[[Column, Column], Column], k: int
) -> Column:
    """The iterates [x0, x1, ..., xk] of x_{i+1} = step(x_i, es) over a
    ``gather_graph`` row, as one array column: a single ``aggregate``
    over ``sequence(1, k)``. ``step`` must return init's type. The edges
    ``es`` are let-bound once per row (``_let``), so no superstep
    re-derives their node positions."""
    return _let(F.col("es"), lambda es: F.aggregate(
        F.sequence(F.lit(1), F.lit(k)),
        F.array(init),
        lambda acc, _: F.concat(acc, F.array(step(F.element_at(acc, -1), es))),
    ))


def edge_terms(
    es: Column, i: Column, side: str, term: Callable[[Column], Column]
) -> Column:
    """``term(e)`` for every gathered edge ``e`` whose ``side`` endpoint
    ("s" or "d") is the node at 0-based position ``i`` of ns."""
    return F.transform(F.filter(es, lambda e: e[side] == i + 1), term)


def array_dsum(terms: Column) -> Column:
    """Exact decimal SUM of an array's elements (at 12 dp) inside a
    lambda: NULLs skipped, NULL on an empty array, as SQL ``SUM``. Exact
    decimal addition does not depend on order, so it gives the same
    value as the distributed ``SUM(CAST(x AS DECIMAL(.., 12)))``."""
    return F.aggregate(
        terms,
        F.lit(None).cast(FOLD_DEC),
        lambda acc, t: F.coalesce(
            (F.coalesce(acc, F.lit(0).cast(FOLD_DEC)) + t.cast(FOLD_DEC)).cast(
                FOLD_DEC
            ),
            acc,
        ),
    )


# Oracle-SQL spellings of the same helpers
def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / COUNT({expr})"


def sql_knuth_bucket(expr: str, m: int) -> str:
    """DuckDB spelling of functions.scalar.knuth_bucket (width-safe
    Knuth multiplicative hash bucket — see its docstring).

    The first modulo is pmod-wrapped: DuckDB ``%`` keeps the dividend's
    sign while Spark ``pmod`` is always non-negative, so a bare ``%``
    diverges for negative keys (key -7: DuckDB -3 vs Spark 13 at m=20).
    After the wrap every intermediate is non-negative, so the remaining
    plain ``%`` are identical on both engines over the full 64-bit
    signed domain.
    """
    k = f"((({expr}) % 4294967296 + 4294967296) % 4294967296)"
    return (
        f"((((({k} // 65536) * 2654435761) % 4294967296) * 65536"
        f" + ({k} % 65536) * 2654435761) % 4294967296) % {m}"
    )


# ---------------------------------------------------------------------------
# Exact global ranks / prefix sums WITHOUT a single-partition sort
# ---------------------------------------------------------------------------
# The scale-correct spelling of "ROW_NUMBER()/cumulative SUM over a
# total order of a fact-sized table": split the key domain into range
# buckets from approx_percentile split points (the same statistic the
# sampling RangePartitioner estimates — range_partition_boundaries
# is the standalone demo), rank/accumulate WITHIN
# each bucket (a Window partitioned by bucket — every task sorts only
# its bucket), and add each bucket's exclusive prefix total computed on
# the BOUNDED bucket grain. The result is bit-identical to the global
# window because bucket assignment is a monotone pure-column function
# of the sort key (equal keys share a bucket) and the prefix totals are
# exact — no dependence on where the split points land, so lazy
# re-computation across plan branches is safe (unlike
# spark_partition_id() tricks).


# Auto-sizing targets for range_bucket: one bucket's rows are sorted by
# ONE task, so the target is "a comfortable single-task sort"
# (~quarter-million rows ≈ tens of MB); the floor keeps small inputs at
# 16 buckets, and the cap bounds the collected split-point literals and
# the per-row assignment fold. Beyond the cap (~268M rows at the default
# target) the literal-fold spelling stops being the right tool and
# _range_bucket_shuffled (repartitionByRange + spark_partition_id,
# below) takes over — at that scale the sort key census itself is
# cluster work. The fallback is EXECUTABLE and gated
# (tests/test_round11.py forces the cap on a small frame and asserts
# bit-identical running sums / row numbers against the literal path).
# Tests pin an exact bucket count by setting _BUCKET_MIN = _BUCKET_MAX.
_BUCKET_TARGET_ROWS = 250_000
_BUCKET_MIN = 16
_BUCKET_MAX = 1024


def _range_bucket_shuffled(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    """Beyond-cap ``__bkt`` assignment: ``repartitionByRange(n, key)``
    + ``spark_partition_id()`` instead of collected split-point
    literals.

    Same bit-identical-results argument as the literal fold: the
    RangePartitioner's boundaries are ascending and assignment is a
    deterministic binary search on ``key`` alone, so ``__bkt`` is
    monotone non-decreasing in ``key`` and equal keys always share a
    bucket — ranks/offsets downstream are computed from actual bucket
    CONTENTS, so boundary placement (and therefore bucket count)
    affects balance only, never results. No collected literals: the
    driver never sees the boundaries, so the ≤1024-literal cap no
    longer binds.

    The one hazard the literal path doesn't have: RangePartitioning
    SAMPLES its input, and a lazily-recomputed exchange in a second
    plan branch could sample differently, splitting equal keys across
    branch-inconsistent buckets (the spark_partition_id() trick the
    module comment warns about). The eager ``localCheckpoint()`` pins
    the assignment: every consumer reads the SAME materialized
    bucketing. At beyond-cap scale the checkpoint is one
    memory-and-disk materialization of a frame that the bucketed walk
    reads at least twice (local window + subtotal agg) — the same
    spine discipline heaps_law_exponent / dedup_saturation_curve use.
    """
    return (
        df.repartitionByRange(n_buckets, F.col(key))
        .withColumn("__bkt", F.spark_partition_id())
        .localCheckpoint()
    )


def range_bucket(df: DataFrame, key: str) -> DataFrame:
    """Attach ``__bkt`` (0..n-1, monotone non-decreasing in ``key``)
    from approx_percentile split points of ``key``.

    ``key`` must be an ascending-sortable atomic column. For a DESC
    order, pass a negated copy of the column.

    The bucket count n is max(16, ceil(rows / 250k)), so per-bucket
    sort work stays flat as rows grow (a fixed 16 meant a 1M-row
    single-task sort per bucket at ×100 — measured ×100 ratio 9.04 on
    monetary_unit_sample); past 1024 required buckets the literal-fold
    spelling hands off to ``_range_bucket_shuffled``. No extra counting
    pass: ONE agg sketches at the max resolution (1023 quantiles) with
    count(*) alongside, then keeps every (j·1024/n)-th split point — at
    n=16 exactly the i/16 quantiles. Split-point PLACEMENT — and
    therefore the bucket COUNT — only affects balance, never results
    (ranks/offsets are computed from actual bucket contents).

    The split points come from ONE approx_percentile sketch (never N
    scalar percentile_disc aggs — each of those buffers the full
    column, the engine's documented percentile-buffer trap) and are
    COLLECTED to literals: a bounded ≤1023-value collect (the
    PQ-codebook-to-literal precedent, embedding_pq_topk) that makes bucket
    assignment a pure literal fold — whole-stage-codegen row math,
    zero joins, and trivially consistent when the bucketed frame is
    lazily recomputed across plan branches.
    """
    # Sketch accuracy 1000 (was 10000): placement error per split is
    # ~0.1% of rank — pure balance noise against 250k-row buckets —
    # and the sketch pass is 2.5-5x cheaper (measured 2.3-5.1s -> 0.9s
    # on a 15M-row column). Placement never affects results.
    fracs = [i / _BUCKET_MAX for i in range(1, _BUCKET_MAX)]
    row = df.agg(
        F.expr(
            f"approx_percentile({key},"
            f" array({', '.join(map(repr, fracs))}), 1000)"
        ).alias("__bounds"),
        F.count(F.lit(1)).alias("__n"),
    ).collect()[0]
    all_bounds = row["__bounds"] or []
    need = -(-(row["__n"]) // _BUCKET_TARGET_ROWS)
    if need > _BUCKET_MAX:
        # Beyond the literal cap: hand off to the shuffled assignment
        # (no collected literals, same results). The sketch that rode
        # this scan is discarded — splitting count(*) into its own pass
        # would charge EVERY under-cap caller a second scan to save
        # beyond-cap callers one ~8KB-per-partition sketch buffer.
        return _range_bucket_shuffled(df, key, need)
    n_buckets = max(_BUCKET_MIN, min(_BUCKET_MAX, need))
    bounds = [
        all_bounds[round(j * _BUCKET_MAX / n_buckets) - 1]
        for j in range(1, n_buckets)
        if all_bounds
    ]
    return df.withColumn("__bkt", _bucket_search(key, bounds))


def _bucket_search(key: str, bounds: list) -> Column:
    """Bucket id = |{i : key > bounds[i]}| over SORTED bounds, as a
    balanced when()-tree — a compiled binary search, log2(n)
    comparisons per row. The linear when-chain fold this replaces was
    O(n_buckets) PER ROW, which turned the auto-size's own remedy
    into the bottleneck (measured on a 15M-row walk: 19s at 128
    bounds, 31s at 256 vs ~4-6s with the tree). Equal adjacent bounds
    (duplicate split points from a heavily tied key) binary-search
    identically to the linear count — same monotone assignment, equal
    keys always share a bucket."""

    def rec(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            F.col(key) > F.lit(bounds[mid]), rec(mid + 1, hi)
        ).otherwise(rec(lo, mid))

    return rec(0, len(bounds))


def bucket_offsets(bucketed: DataFrame, val: Column) -> DataFrame:
    """Per-``__bkt`` totals and exclusive prefix totals of ``val``:
    (__bkt, __sub, __off) with __sub = Σ val in the bucket and __off =
    Σ val over all LOWER buckets. The cumulative window runs on the
    bucket grain (≤1024 rows) — broadcast the result back.
    """
    subs = bucketed.groupBy("__bkt").agg(F.sum(val).alias("__sub"))
    w_off = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    return subs.select(
        "__bkt",
        "__sub",
        F.coalesce(F.sum("__sub").over(w_off), F.lit(0)).alias("__off"),
    )


def bucketed_running_sum(
    df: DataFrame, key: str, order_cols: list[str], val: Column, out: str = "cum"
) -> tuple[DataFrame, DataFrame]:
    """Exact global ``SUM(val) OVER (ORDER BY order_cols ROWS BETWEEN
    UNBOUNDED PRECEDING AND CURRENT ROW)`` without a single-partition
    sort — the shared spelling of the range-bucketed cumulative walk.

    ``order_cols[0]`` must be ``key`` (the range-bucket key), so the
    bucket id is monotone in the global order; later order_cols are
    tie-breaks WITHIN a bucket (equal keys always share a bucket —
    _bucket_search's strict-``>`` rule — so tie-breaks never cross
    bucket boundaries). When ``val`` is additive-exact (DECIMAL sums,
    integer counts) the walk is bit-identical to the global window.
    A running COUNT (``val=F.lit(1)``) is a global row_number over
    the same total order.

    Returns ``(frame, subtotals)``: ``frame`` is df's columns plus
    ``out``; ``subtotals`` is the per-bucket ``(__bkt, __sub)`` frame
    the offsets were derived from, so callers needing the grand total
    can aggregate it (exact addition ≡ a direct SUM over df) without
    a second full scan.
    """
    bucketed = range_bucket(df, key)
    offs = bucket_offsets(bucketed, val)
    w_loc = (
        Window.partitionBy("__bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    frame = (
        bucketed.withColumn("__lcum", F.sum(val).over(w_loc))
        .join(F.broadcast(offs), "__bkt")
        .withColumn(out, F.col("__lcum") + F.col("__off"))
        .drop("__bkt", "__sub", "__lcum", "__off")
    )
    return frame, offs.drop("__off")


def bucketed_row_number(df: DataFrame, key: str, out: str = "rk") -> DataFrame:
    """Exact global ROW_NUMBER() OVER (ORDER BY key) — ``key`` must be
    UNIQUE (no tie-break column) — as the bucketed running count
    (``val=F.lit(1)``). Returns df's columns + ``out`` (long).
    """
    frame, _ = bucketed_running_sum(df, key, [key], F.lit(1), out)
    return frame.withColumn(out, F.col(out).cast("long"))


def pdisc_rank(q: Column) -> Column:
    """percentile_disc's 1-based rank for fraction ``q`` over ``__n``
    values: its cume_dist definition, the smallest k with k/n ≥ q,
    evaluated in the IEEE double comparisons both engines use — so the
    value ``rank_select`` picks is bit-identical to the aggregate's."""
    k0 = F.floor(q * F.col("__n")).cast("long")
    return F.when(
        (k0 >= 1) & ((k0.cast("double") / F.col("__n").cast("double")) >= q),
        k0,
    ).otherwise(k0 + 1)


def rank_select(
    vals: DataFrame, col: str, ranks: DataFrame, kk: Column
) -> DataFrame:
    """Distributed multi-rank selection: the kk-th smallest non-NULL
    ``col`` for every row of the small ``ranks`` frame, WITHOUT a global
    sort and WITHOUT a single-task value buffer (the ObjectHashAggregate
    a scalar ``percentile_disc`` pays).

    NULLs are dropped (percentile_disc's rule) and rows collapse to the
    value grain, ``__c`` rows per distinct value — a hot value is one
    cell after the partial aggregate. The cells' running count is
    ``bucketed_running_sum``, whose buckets are placed by RANK, so an
    outlier cannot stretch one bucket over the rest. Rank kk is the cell
    with cum − c < kk ≤ cum: one interval join against the broadcast
    targets. ``__n`` is the sum of the walk's bucket subtotals.

    vals:  frame holding an ascending-sortable column ``col``.
    ranks: SMALL frame (broadcast everywhere), one row per wanted rank;
           no column name may start with ``__``.
    kk:    Column over ranks' columns plus ``__n`` (the non-NULL value
           count), evaluating to the 1-based target rank.
    Returns ranks' columns + ``__n`` + ``col``, one row per rank in
    1..__n — none on an empty input, where percentile_disc is NULL.
    """
    assert not any(c.startswith("__") for c in ranks.columns), ranks.columns
    # NULLs are dropped AFTER the grouping: count(col) is 0 for the NULL
    # group. A filter on ``col`` before it would be pushed into the
    # caller's plan (into a join condition, say), where under ANSI it can
    # evaluate ``col``'s expression on rows the join rejects.
    cells = (
        vals.groupBy(col)
        .agg(F.count(col).alias("__c"))
        .filter(F.col("__c") > 0)
    )
    walked, subs = bucketed_running_sum(
        cells, col, [col], F.col("__c"), out="__cum"
    )
    targets = (
        subs.agg(F.sum("__sub").alias("__n"))
        .crossJoin(F.broadcast(ranks))
        .withColumn("__kk", kk.cast("long"))
    )
    return walked.join(
        F.broadcast(targets),
        (F.col("__cum") - F.col("__c") < F.col("__kk"))
        & (F.col("__kk") <= F.col("__cum")),
    ).select(*ranks.columns, "__n", col)
