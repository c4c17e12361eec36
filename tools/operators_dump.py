"""Generate OPERATORS.md: the machine-checked query inventory (name →
implementation site, tags, oracle status, one-line description) plus
the SURVEY.md §2 reference-surface map.

Run: python tools/operators_dump.py
"""

from __future__ import annotations

import inspect
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ucl_data_pipeline_spark.plans import REGISTRY

SURVEY_MAP = """\
## SURVEY.md §2 reference-surface map

Every reference capability and where the engine implements it (driver
queries in parentheses exercise it under the oracle harness):

| §2 item | Engine implementation |
|---|---|
| S1-S4 scans (HTTP CSV, local CSV, REST JSON, rate-limited) | sources/http.py, sources/io.py `read_csv`/`safe_read_csv`/`read_json_records` |
| S5-S6 sinks (CSV, empty-but-valid) | sources/io.py `write_csv`/`empty_df`; bucketed + partitioned parquet `write_bucketed`/`write_parquet` |
| S7 preflight repair → conform | sources/io.py `conform` (`conform_defaults`) |
| S8 in-place overwrite → staged immutable | sources/io.py module docstring (deliberate redesign) |
| S9 template schemas | schemas.py `HIST_MATCHES`/`UPCOMING_FIXTURES` |
| P1 column-name case conform | sources/io.py `conform_column_names` (`conform_column_names_upper`) |
| P2 candidate-column selection | functions/scalar.py `coalesce_candidates` (`coalesce_candidates`) |
| P3-P4 rename-project / null-key drop | plans/tpch.py (`filter_project`) |
| P5-P6 default stamping / ensure_cols | sources/io.py `conform` (`conform_defaults`) |
| P7 canonical projection | operators/pipeline.py `build_hist`/`build_upcoming` |
| P8 column prefixing | operators/enrich.py `prefix_columns` |
| P9 subset-column validation | operators/validate.py `required_columns_check` |
| P10 conditional masked update | operators/enrich.py `enrich_dont_clobber` (`enrich_pipeline`) |
| J1-J6 broadcast enrich joins | operators/enrich.py + plans/tpch.py (`enrich_broadcast_join`, `enrich_pipeline`) |
| J7 full-outer hybrid | plans/tpch.py (`outer_join_hybrid`) |
| J8 dict-lookup join + identity fallback | operators/enrich.py `normalize_names` (`dict_lookup_join`) |
| A1 distinct-by-key first-wins | plans/similarity.py (`dedup_first_wins`) |
| A2 weighted hybrid mean | functions/scalar.py `weighted_hybrid` (`hybrid_two_seasons`) |
| A3 count/empty gates | operators/validate.py `summarize` |
| O1-O3 sort/limit/top-per-key/head | plans/tpch.py (`sort_limit_topn`), plans/aggregates.py (`window_top2_per_key`) |
| U1 union-all (+ intersect/except) | plans/tpch.py (`union_all_entities`, `intersect_nations`, `except_nations`) |
| F1-F15 scalar surface | functions/scalar.py (`fractional_odds`, `date_parse_multi`, `haversine_travel`, `bootstrap_priors`, `name_regex_strip`, ...) |
| §2.5 windows | plans/aggregates.py, plans/temporal.py (`rest_days_lag`, `moving_avg_frame`, `ntile_quartiles`, ...) |
| §2.9 streaming | streaming/windows.py + batch twins in plans/temporal.py (stream≡batch pytest suite) |
| §2.10 zero-UDF rule + Arrow escape hatch | tests/test_plans.py plan-smell assertions; operators/multimodal.py |
| V1-V3 validation | operators/validate.py |

The reference pipeline itself runs end-to-end via
`python -m ucl_data_pipeline_spark pipeline` (CSV in → HIST/UPCOMING out).

"""


def main() -> None:
    by_module: dict[str, list] = defaultdict(list)
    for name, q in REGISTRY.items():
        src = inspect.getsourcefile(q.fn) or "?"
        src = os.path.relpath(src, ROOT)
        line = inspect.getsourcelines(q.fn)[1]
        doc = (q.doc or "").strip().splitlines()
        head = doc[0].rstrip() if doc else ""
        by_module[src].append((name, line, q.oracle is not None, q.tags, head))

    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    out = [
        "# OPERATORS — registered query inventory",
        "",
        f"Generated by `python tools/operators_dump.py`: {len(REGISTRY)} "
        f"registered queries, {n_oracle} with exact DuckDB oracles, "
        f"{len(REGISTRY) - n_oracle} rows-only (iterative / Python "
        "stages). Every entry is callable via "
        "`__spark_entry__.queries()[name](spark, sf_dir)` and "
        "`python -m ucl_data_pipeline_spark run <name>`.",
        "",
        SURVEY_MAP,
        "## Registered queries",
        "",
    ]
    for src in sorted(by_module):
        out.append(f"### {src}")
        out.append("")
        out.append("| query | line | oracle | tags | summary |")
        out.append("|---|---|---|---|---|")
        for name, line, has_oracle, tags, head in sorted(
            by_module[src], key=lambda t: t[1]
        ):
            o = "exact" if has_oracle else "rows-only"
            out.append(
                f"| `{name}` | {line} | {o} | {', '.join(tags)} | {head} |"
            )
        out.append("")
    with open(os.path.join(ROOT, "OPERATORS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote OPERATORS.md ({len(REGISTRY)} queries)")


if __name__ == "__main__":
    main()
