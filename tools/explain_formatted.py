"""Dump .explain("formatted") for named queries into a directory.

Usage: python tools/explain_formatted.py <out_dir> <suffix> <query> [<query> ...]
  out_dir: where the plans go, e.g. plans/r13 (created if missing)
  suffix:  e.g. "before" or "after" (file becomes <out_dir>/<query>_<suffix>.txt)

Runs at the bench SF (sf0.1 by default, override SPARK_GRAFT_SF_DIR) so
the plan shapes match what the bench measures. Initial (pre-execution)
AQE plan — the same artifact `df.explain("formatted")` prints; the
bench's plan_counters in bench_full.json remain the AQE-final record.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ucl_data_pipeline_spark import get_spark
from ucl_data_pipeline_spark.plans import REGISTRY


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain-formatted")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
