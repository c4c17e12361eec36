"""Property-based tests (hypothesis): the scalar kernels against
independent Python reference models over generated inputs — a
different axis of assurance from the DuckDB oracle (which fixes the
inputs) and the unit tests (which fix the examples).

Each example batches many generated values into ONE Spark job to keep
the suite fast; examples are capped and deadlines disabled (Spark job
latency would trip hypothesis' default deadline).
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions.scalar import (
    clamp_with_midpoint,
    fractional_to_decimal_odds,
    knuth_bucket,
    weighted_hybrid,
)

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_frac_odds(s: str | None) -> float | None:
    """Reference model (scripts/utils.py:10-17), hardened: the
    reference raises uncaught on ill-formed fractions; the engine's
    contract coerces every such input to NULL."""
    if s is None:
        return None
    if "/" in s:
        parts = s.split("/")
        if len(parts) != 2:
            return None
        try:
            num, den = float(parts[0]), float(parts[1])
        except ValueError:
            return None
        if den == 0.0:
            return None
        return 1.0 + num / den
    try:
        return float(s)
    except ValueError:
        return None


odds_strategy = st.one_of(
    st.builds(
        lambda a, b: f"{a}/{b}",
        st.integers(0, 50),
        st.integers(0, 9),
    ),
    st.floats(0, 1000, allow_nan=False).map(lambda f: f"{f:.2f}"),
    st.sampled_from(["evens", "", "x/y", "3/", "/4", "1/2/3", "garbage"]),
    st.none(),
)


@settings(**SETTINGS)
@given(st.lists(odds_strategy, min_size=1, max_size=60))
def test_fractional_odds_matches_python_model(spark, batch):
    df = spark.createDataFrame([(s,) for s in batch], "odds: string")
    got = [
        r.dec
        for r in df.select(fractional_to_decimal_odds("odds").alias("dec"))
        .collect()
    ]
    want = [_py_frac_odds(s) for s in batch]
    for g, w in zip(got, want):
        if w is None:
            assert g is None
        else:
            assert g is not None and math.isclose(g, w, rel_tol=1e-12)


@settings(**SETTINGS)
@given(
    st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=60),
    st.sampled_from([7, 20, 100, 4096]),
)
def test_knuth_bucket_matches_python_model(spark, keys, m):
    df = spark.createDataFrame([(k,) for k in keys], "k: long")
    got = {
        r.k: r.b
        for r in df.select("k", knuth_bucket("k", m).alias("b")).collect()
    }
    for k in keys:
        assert got[k] == (k * 2654435761 % 2**32) % m


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
            st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_weighted_hybrid_degradation(spark, pairs):
    df = spark.createDataFrame(pairs, "cur: double, last: double")
    got = [
        r.h
        for r in df.select(
            weighted_hybrid("cur", "last", 0.6).alias("h")
        ).collect()
    ]
    for (cur, last), h in zip(pairs, got):
        if cur is not None and last is not None:
            assert h is not None and math.isclose(
                h, 0.6 * cur + 0.4 * last, rel_tol=1e-12
            )
        elif cur is not None or last is not None:
            assert h == (cur if cur is not None else last)
        else:
            assert h is None


@settings(**SETTINGS)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(-10, 10, allow_nan=False).map(lambda f: f"{f:.4f}"),
            st.sampled_from(["n/a", "", "abc"]),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_clamp_with_midpoint_bounds_and_coercion(spark, vals):
    lo, hi = 0.55, 0.90
    df = spark.createDataFrame([(v,) for v in vals], "v: string")
    got = [
        r.c
        for r in df.select(clamp_with_midpoint("v", lo, hi).alias("c")).collect()
    ]
    for v, c in zip(vals, got):
        assert lo <= c <= hi  # always clamped, never null
        try:
            x = float(v)  # type: ignore[arg-type]
        except (TypeError, ValueError):
            x = (lo + hi) / 2.0  # unparseable -> midpoint
        assert math.isclose(c, min(hi, max(lo, x)), rel_tol=1e-12)


# ---------------------------------------------------------------------------
# parse_date_multi vs a Python dayfirst model
# ---------------------------------------------------------------------------

def _py_parse_date_multi(s: str | None):
    """Model of parse_date_multi's coalesce over (d/M/yy, d/M/yyyy,
    yyyy-MM-dd): a format whose SHAPE matches but whose calendar date is
    invalid falls through to the next format (Spark try_to_timestamp →
    NULL → coalesce). Java 'yy' is a reduced value with base 2000
    (00→2000 … 99→2099) — NOT Python strptime's 1969 pivot."""
    import re
    from datetime import date

    if s is None:
        return None
    for pat, build in (
        (r"(\d{1,2})/(\d{1,2})/(\d{2})",
         lambda m: (2000 + int(m[3]), int(m[2]), int(m[1]))),
        (r"(\d{1,2})/(\d{1,2})/(\d{4})",
         lambda m: (int(m[3]), int(m[2]), int(m[1]))),
        (r"(\d{4})-(\d{1,2})-(\d{1,2})",
         lambda m: (int(m[1]), int(m[2]), int(m[3]))),
    ):
        m = re.fullmatch(pat, s.strip())
        if m:
            y, mo, d = build(m)
            try:
                return date(y, mo, d)
            except ValueError:
                continue  # shape matched, date invalid → next format
    return None


date_strategy = st.one_of(
    st.builds(
        lambda d, m, y: f"{d}/{m}/{y:02d}",
        st.integers(1, 31), st.integers(1, 13), st.integers(0, 99),
    ),
    st.builds(
        lambda d, m, y: f"{d:02d}/{m:02d}/{y}",
        st.integers(1, 31), st.integers(1, 13), st.integers(1990, 2030),
    ),
    st.builds(
        lambda d, m, y: f"{y}-{m:02d}-{d:02d}",
        st.integers(1, 31), st.integers(1, 13), st.integers(1990, 2030),
    ),
    st.sampled_from(["29/02/24", "29/02/23", "31/04/2021", "not a date",
                     "2021-02-29", "2024-02-29", "1/1/1", ""]),
    st.none(),
)


@settings(**SETTINGS)
@given(st.lists(date_strategy, min_size=1, max_size=60))
def test_parse_date_multi_matches_python_model(spark, batch):
    from ucl_data_pipeline_spark.functions.scalar import parse_date_multi

    df = spark.createDataFrame([(s,) for s in batch], "raw: string")
    got = [r.d for r in df.select(parse_date_multi("raw").alias("d")).collect()]
    want = [_py_parse_date_multi(s) for s in batch]
    assert got == want


# ---------------------------------------------------------------------------
# haversine_km vs a Python math model
# ---------------------------------------------------------------------------

@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.floats(-89, 89, allow_nan=False),
            st.floats(-179, 179, allow_nan=False),
            st.floats(-89, 89, allow_nan=False),
            st.floats(-179, 179, allow_nan=False),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_haversine_matches_python_model(spark, quads):
    from hypothesis import assume

    from ucl_data_pipeline_spark.functions.scalar import haversine_km

    # Skip near-antipodal pairs: there the argument of asin is 1±1ulp and
    # libm-vs-JVM last-ulp differences flip between ~20015 km and NaN —
    # a float-boundary artifact, not an engine-semantics property.
    for lat1, lon1, lat2, lon2 in quads:
        a = (
            math.sin(math.radians(lat2 - lat1) / 2) ** 2
            + math.cos(math.radians(lat1))
            * math.cos(math.radians(lat2))
            * math.sin(math.radians(lon2 - lon1) / 2) ** 2
        )
        assume(a < 1.0 - 1e-9)
    df = spark.createDataFrame(
        quads, "lat1: double, lon1: double, lat2: double, lon2: double"
    )
    got = [
        r.km
        for r in df.select(
            haversine_km("lat1", "lon1", "lat2", "lon2").alias("km")
        ).collect()
    ]
    for (lat1, lon1, lat2, lon2), km in zip(quads, got):
        a = (
            math.sin(math.radians(lat2 - lat1) / 2) ** 2
            + math.cos(math.radians(lat1))
            * math.cos(math.radians(lat2))
            * math.sin(math.radians(lon2 - lon1) / 2) ** 2
        )
        want = 2.0 * 6371.0 * math.asin(min(1.0, math.sqrt(a)))
        assert math.isclose(km, want, rel_tol=1e-9, abs_tol=1e-6)


@settings(**SETTINGS)
@given(
    st.lists(
        st.integers(0, 2**31 - 1), min_size=1, max_size=40, unique=True
    )
)
def test_bloom_filter_never_false_negative(spark, keys):
    """Structural Bloom guarantee: every inserted key passes its own
    filter, for ANY key set — a false negative would make the runtime
    filter drop true join rows, which is silent data loss at scale
    (false POSITIVES are only wasted work; bloom_semi_join_fpr
    measures those)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.plans.aggregates import _BLOOM_BITS, _bloom_positions

    df = spark.createDataFrame([(k,) for k in keys], "k: long")
    p1, p2 = _bloom_positions(F.col("k"))
    pos = df.select("k", p1.alias("p1"), p2.alias("p2")).toPandas()
    # Build the word map exactly as _bloom_words_df does.
    words: dict[int, int] = {}
    for p in pd.concat([pos["p1"], pos["p2"]]):
        words[p // 8] = words.get(p // 8, 0) | (1 << (p % 8))
    assert all(0 <= p < _BLOOM_BITS for p in pd.concat([pos["p1"], pos["p2"]]))
    for _, row in pos.iterrows():
        assert words[row.p1 // 8] >> (row.p1 % 8) & 1 == 1
        assert words[row.p2 // 8] >> (row.p2 % 8) & 1 == 1


# ---------------------------------------------------------------------------
# Shingling (round-7 _let rewrite): Catalyst expression vs Python model
# ---------------------------------------------------------------------------


def _py_shingles(text: str | None, k: int) -> list[str]:
    """Reference model of TX.shingles(TX.tokens(text), k): whitespace
    tokens of lower-cased trimmed text, space-joined k-runs; <k tokens
    (or NULL text) → empty. NB: Spark's (and DuckDB's) ``trim`` strips
    SPACES only — a text of just ``"\\n"`` keeps its newline, splits
    into two empty tokens and yields one ``" "`` 2-shingle; the model
    mirrors that, it does not Python-``strip()`` all whitespace."""
    if text is None:
        return []
    import re

    toks = re.split(r"\s+", text.strip(" ").lower())
    if len(toks) < k:
        return []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


text_strategy = st.text(
    alphabet=st.sampled_from("ab X.\t \n"), min_size=0, max_size=60
)


@given(st.lists(text_strategy, min_size=1, max_size=24), st.sampled_from([2, 3, 5]))
@settings(**SETTINGS)
def test_shingles_match_python_model(spark, texts, k):
    # Pins the _let-bound shingles() (round-7 rewrite) semantically:
    # the let-binding must change ONLY the evaluation count, never the
    # output — including empty/whitespace-only strings, where Spark's
    # split yields [''] (one empty token) exactly like Python's
    # re.split on the stripped string.
    from ucl_data_pipeline_spark.functions import text as TX

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id long, text string").select(
        "id", TX.shingles(TX.tokens("text"), k).alias("gs")
    )
    got = {r["id"]: r["gs"] for r in df.collect()}
    for i, t in rows:
        assert got[i] == _py_shingles(t, k), (t, k)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),   # order key
            st.integers(min_value=1, max_value=12),  # part key
        ),
        min_size=0,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_scan_side_pair_generation_matches_python_model(spark, rows):
    """The copurchase_pairs round-7 rewrite's core: a<b pair
    generation from each group's sorted distinct-item array
    (index-aware transform + slice) must equal the reference model
    {unordered pairs of distinct items within a group} with exact
    multiplicity-by-group semantics — including duplicate (order,
    part) rows (collapse), single-item orders (no pairs), and empty
    input."""
    from collections import Counter
    from itertools import combinations

    expected = Counter()
    by_order: dict[int, set] = {}
    for o, p in rows:
        by_order.setdefault(o, set()).add(p)
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            expected[(a, b)] += 1

    df = spark.createDataFrame(
        rows or [(None, None)], "l_orderkey int, l_partkey int"
    )
    if not rows:
        df = df.where(F.col("l_orderkey").isNotNull())
    baskets = df.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    parts_col = F.col("parts")
    pair_arr = F.flatten(
        F.transform(
            parts_col,
            lambda x, i: F.transform(
                F.slice(parts_col, i + F.lit(2), F.size(parts_col)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    got = Counter(
        (r["p"]["a"], r["p"]["b"])
        for r in baskets.select(F.explode(pair_arr).alias("p")).collect()
    )
    assert got == expected
