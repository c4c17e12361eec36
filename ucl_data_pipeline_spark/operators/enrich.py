"""Enrichment-join operators: the reference's signature semantics as
reusable DataFrame transforms (SURVEY.md §2.3).

The core contract is **enrich-don't-clobber** (reference
scripts/enrich_features.py:26-34,59-61): after a left join against a
dimension, an existing non-null fact value wins over the joined value,
and a constant default fills last. The reference implements this by
reconciling pandas ``_x``/``_y`` suffixes post-merge; here we alias dim
columns pre-join so no conflict ever exists, then coalesce
(fact, dim, default) — one projection, no suffix machinery.

Scale: dimensions broadcast (they are ≤10s of MB); the fact side never
shuffles for any of these joins.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prefix_columns(df: DataFrame, prefix: str, exclude: tuple[str, ...] = ()) -> DataFrame:
    """P8: prefix every column (role-labelling a dim before a join,
    reference add_prefix scripts/enrich_features.py:53-54,111)."""
    return df.select(
        *[
            F.col(c).alias(c if c in exclude else f"{prefix}{c}")
            for c in df.columns
        ]
    )


def enrich_dont_clobber(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    values: dict[str, Any],
    broadcast: bool = True,
) -> DataFrame:
    """Left-join ``dim`` onto ``fact`` with the reference's precedence:
    for each column in ``values`` (col → default), the result is
    ``coalesce(fact.col if present, dim.col, default)``.

    ``dim`` must expose the join keys ``on`` plus the enrichment
    columns; all other dim columns are dropped.
    """
    fact_cols = set(fact.columns)
    keep = list(on) + [c for c in values if c in dim.columns]
    d = dim.select(*keep)
    # Alias dim value columns so no name conflict with fact
    d = d.select(
        *on, *[F.col(c).alias(f"__dim_{c}") for c in keep if c not in on]
    )
    if broadcast:
        d = F.broadcast(d)
    joined = fact.join(d, on, "left")
    result = joined
    for col, default in values.items():
        sources = []
        if col in fact_cols:
            sources.append(F.col(col))
        if f"__dim_{col}" in joined.columns:
            sources.append(F.col(f"__dim_{col}"))
        if default is not None:
            sources.append(F.lit(default))
        result = result.withColumn(col, F.coalesce(*sources))
    return result.select(
        *[c for c in result.columns if not c.startswith("__dim_")]
    )


def normalize_names(
    df: DataFrame,
    name_map: DataFrame,
    cols: tuple[str, ...],
    raw_col: str = "raw",
    canonical_col: str = "canonical",
) -> DataFrame:
    """J8: canonicalize name columns via a broadcast dictionary join
    with identity fallback (reference apply_name_map,
    scripts/enrich_features.py:37-43 — a per-element dict lookup there,
    a broadcast join + coalesce here; the same map must hit BOTH fact
    and dim sides before any enrichment join, :156-158,190-194).

    The map is deduplicated on the raw key first (min canonical,
    deterministic): a dict lookup can never change fact cardinality, so
    neither may this join, even if the map file carries duplicate rows.
    """
    m = F.broadcast(
        name_map.select(
            F.trim(F.col(raw_col)).alias("__nm_raw"),
            F.trim(F.col(canonical_col)).alias("__nm_canon"),
        )
        .groupBy("__nm_raw")
        .agg(F.min("__nm_canon").alias("__nm_canon"))
    )
    out = df
    for c in cols:
        out = (
            out.join(m, F.trim(F.col(c)) == F.col("__nm_raw"), "left")
            .withColumn(c, F.coalesce(F.col("__nm_canon"), F.trim(F.col(c))))
            .drop("__nm_raw", "__nm_canon")
        )
    return out
