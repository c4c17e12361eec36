"""The reference pipeline as lazy DataFrame compositions (SURVEY.md §3).

Entry points mirror the reference's 8-stage DAG, but as ONE Catalyst
lineage per output instead of 8 processes glued by CSV files:

- ``bootstrap_team_priors``: xg_metrics_hybrid → teams_master
  (reference scripts/bootstrap_team_priors.py:24-35).
- ``build_xg_hybrid``: current ⟗ last season metrics → 0.6/0.4 hybrid
  (reference scripts/fetch_fbr_team_xg.py:104-126).
- ``enrich_matches``: the seven-left-join enrich chain with
  enrich-don't-clobber precedence (scripts/enrich_features.py:151-179).
- ``build_hist`` / ``build_upcoming``: canonical 20/18-column final
  projections (scripts/build_hist_and_upcoming.py:8-30).

In-place overwrite (S8) is replaced by staged immutable outputs; the
chain is idempotent by construction (re-running re-derives the same
result rather than re-merging onto already-enriched data).

Scale: every dimension broadcasts; the fact spine never shuffles. The
only wide operation in the whole pipeline is the optional final sort,
which at 100 TB becomes write.partitionBy(month) + sortWithinPartitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions.scalar import (
    clamp_with_midpoint,
    haversine_km,
    ratio_with_floor,
    sign_score,
    weighted_hybrid,
)
from ucl_data_pipeline_spark.operators.enrich import (
    enrich_dont_clobber,
    normalize_names,
    prefix_columns,
)
from ucl_data_pipeline_spark.schemas import HIST_MATCHES, UPCOMING_FIXTURES

# Default feature values (reference scripts/fetch_football_data.py:48-52
# and scripts/enrich_features.py:59-61,67,83-84,108-109,117).
DEFAULTS = {
    "rest_days": 4,
    "travel_km_away": 200.0,
    "travel_km_home": 0.0,
    "injury_index": 0.3,
    "gk_rating": 0.6,
    "setpiece_rating": 0.6,
    "crowd_index": 0.7,
    "ref_pen_rate": 0.30,
}


def build_xg_hybrid(cur: DataFrame, last: DataFrame) -> DataFrame:
    """J7+A2: full-outer join current vs last season metrics on
    (team, league_id); each hybrid metric = 0.6·cur + 0.4·last with
    null degradation (reference scripts/fetch_fbr_team_xg.py:104-126).
    """
    metrics = ["xg", "xga", "xgd", "xgd_per90"]
    c = cur.select(
        "team", "league_id", *[F.col(m).alias(f"cur_{m}") for m in metrics]
    )
    l = last.select(
        "team", "league_id", *[F.col(m).alias(f"last_{m}") for m in metrics]
    )
    out_names = ["xg_hybrid", "xga_hybrid", "xgd_hybrid", "xgd90_hybrid"]
    joined = c.join(l, ["team", "league_id"], "outer")
    return joined.select(
        "team",
        "league_id",
        *[
            weighted_hybrid(f"cur_{m}", f"last_{m}", 0.60).alias(o)
            for m, o in zip(metrics, out_names)
        ],
    )


def bootstrap_team_priors(xg_hybrid: DataFrame) -> DataFrame:
    """teams_master from hybrid xG: gk prior from xga ratio-with-floor,
    setpiece prior from xgd sign, constant crowd index; first-wins
    dedup by team (reference scripts/bootstrap_team_priors.py:24-35 —
    made deterministic by ordering on league_id).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("team").orderBy(
        F.col("league_id").asc_nulls_last(), F.col("xgd_hybrid").desc_nulls_last()
    )
    return (
        xg_hybrid.select(
            F.trim("team").alias("team"),
            "league_id",
            "xgd_hybrid",
            clamp_with_midpoint(
                ratio_with_floor("xga_hybrid", 0.80, 0.15, 34.0), 0.55, 0.90
            ).alias("gk_rating"),
            clamp_with_midpoint(sign_score("xgd90_hybrid"), 0.50, 0.85).alias(
                "setpiece_rating"
            ),
            F.lit(0.70).alias("crowd_index"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("team", "gk_rating", "setpiece_rating", "crowd_index")
    )


def enrich_matches(
    fact: DataFrame,
    name_map: DataFrame,
    teams_master: DataFrame,
    stadiums: DataFrame,
    ref_baselines: DataFrame,
    injuries: DataFrame,
    lineups: DataFrame,
    xg_hybrid: DataFrame,
) -> DataFrame:
    """The reference enrich chain (scripts/enrich_features.py:151-179)
    as one lazy DAG: name-normalize both sides → priors ×2 roles →
    injuries ×2 → lineups ×2 → referee → stadium travel (haversine) →
    hybrid xG ×2 — all broadcast left joins, enrich-don't-clobber.
    """
    fact = normalize_names(fact, name_map, ("home_team", "away_team"))
    teams = normalize_names(teams_master, name_map, ("team",))
    stads = normalize_names(stadiums, name_map, ("team",))
    inj = normalize_names(injuries, name_map, ("team",))
    lus = normalize_names(lineups, name_map, ("team",))
    xg = normalize_names(xg_hybrid, name_map, ("team",))

    df = fact
    # J1: team priors for each role
    for role in ("home", "away"):
        dim = prefix_columns(teams, f"{role}_")
        df = enrich_dont_clobber(
            df,
            dim,
            on=[f"{role}_team"],
            values={
                f"{role}_gk_rating": DEFAULTS["gk_rating"],
                f"{role}_setpiece_rating": DEFAULTS["setpiece_rating"],
            },
        )
    # crowd_index comes from the home side's prior (reference :55-56,61)
    df = enrich_dont_clobber(
        df,
        teams.select(F.col("team").alias("home_team"), "crowd_index"),
        on=["home_team"],
        values={"crowd_index": DEFAULTS["crowd_index"]},
    )
    # J3: injuries per (date, role team)
    for role in ("home", "away"):
        dim = inj.select(
            F.col("date"),
            F.col("team").alias(f"{role}_team"),
            F.col("injury_index").alias(f"{role}_injury_index"),
        )
        df = enrich_dont_clobber(
            df,
            dim,
            on=["date", f"{role}_team"],
            values={f"{role}_injury_index": DEFAULTS["injury_index"]},
        )
    # J4: lineup flags per (date, role team), null→0 int
    for role in ("home", "away"):
        dim = lus.select(
            F.col("date"),
            F.col("team").alias(f"{role}_team"),
            F.col("key_att_out").alias(f"{role}_key_att_out"),
            F.col("key_def_out").alias(f"{role}_key_def_out"),
            F.col("keeper_changed").alias(f"{role}_keeper_changed"),
        )
        df = enrich_dont_clobber(
            df,
            dim,
            on=["date", f"{role}_team"],
            values={
                f"{role}_key_att_out": 0,
                f"{role}_key_def_out": 0,
                f"{role}_keeper_changed": 0,
            },
        )
        for c in (f"{role}_key_att_out", f"{role}_key_def_out",
                  f"{role}_keeper_changed"):
            df = df.withColumn(c, F.col(c).cast("int"))
    # J2: referee pen rate (guarded by column presence, reference :64-67)
    if "ref_name" in df.columns:
        df = enrich_dont_clobber(
            df,
            ref_baselines.select("ref_name", "ref_pen_rate"),
            on=["ref_name"],
            values={"ref_pen_rate": DEFAULTS["ref_pen_rate"]},
        )
    else:
        df = df.withColumn(
            "ref_pen_rate",
            F.coalesce(
                F.col("ref_pen_rate") if "ref_pen_rate" in df.columns else F.lit(None),
                F.lit(DEFAULTS["ref_pen_rate"]),
            ),
        )
    # J5 + F10: stadium coords for both roles → away travel distance;
    # home side travels 0 (reference :105-120)
    for role in ("home", "away"):
        dim = stads.select(
            F.col("team").alias(f"{role}_team"),
            F.col("lat").alias(f"__{role}_lat"),
            F.col("lon").alias(f"__{role}_lon"),
        )
        df = df.join(F.broadcast(dim), [f"{role}_team"], "left")
    travel = haversine_km("__home_lat", "__home_lon", "__away_lat", "__away_lon")
    home_travel = (
        F.col("home_travel_km")
        if "home_travel_km" in df.columns
        else F.lit(None).cast("double")
    )
    away_travel = (
        F.col("away_travel_km")
        if "away_travel_km" in df.columns
        else F.lit(None).cast("double")
    )
    df = (
        df.withColumn(
            "home_travel_km",
            F.coalesce(home_travel, F.lit(DEFAULTS["travel_km_home"])),
        )
        .withColumn(
            "away_travel_km",
            F.coalesce(away_travel, travel, F.lit(DEFAULTS["travel_km_away"])),
        )
        .drop("__home_lat", "__home_lon", "__away_lat", "__away_lon")
    )
    # J6: hybrid xG per role (appended, nullable — reference :122-145)
    for role in ("home", "away"):
        dim = xg.select(
            F.col("team").alias(f"{role}_team"),
            F.col("xg_hybrid").alias(f"{role}_xg"),
            F.col("xga_hybrid").alias(f"{role}_xga"),
            F.col("xgd_hybrid").alias(f"{role}_xgd"),
            F.col("xgd90_hybrid").alias(f"{role}_xgd_per90"),
        )
        df = df.join(F.broadcast(dim), [f"{role}_team"], "left")
    # rest days default (reference fetch_football_data.py:48)
    for role in ("home", "away"):
        col = f"{role}_rest_days"
        existing = F.col(col) if col in df.columns else F.lit(None)
        df = df.withColumn(
            col, F.coalesce(existing, F.lit(DEFAULTS["rest_days"])).cast("int")
        )
    return df


def build_hist(enriched: DataFrame) -> DataFrame:
    """Final 20-column HIST projection in canonical order (reference
    scripts/build_hist_and_upcoming.py:8-14,24-30), sorted by date.
    On a streaming input the sort is skipped: a global order is
    undefined for an unbounded append sink (and rejected by Spark),
    and the reference's CSV ordering is presentation-only."""
    from ucl_data_pipeline_spark.sources.io import conform

    out = conform(enriched, HIST_MATCHES)
    return out if out.isStreaming else out.orderBy("date")


def build_upcoming(enriched: DataFrame) -> DataFrame:
    """Final 18-column UPCOMING projection (reference
    scripts/build_hist_and_upcoming.py:16-21), sorted by date; the
    sort is skipped on streaming inputs (see build_hist)."""
    from ucl_data_pipeline_spark.sources.io import conform

    out = conform(enriched, UPCOMING_FIXTURES)
    return out if out.isStreaming else out.orderBy("date")
