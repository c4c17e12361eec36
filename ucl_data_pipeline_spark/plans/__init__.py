"""Query plans: the engine's registered query inventory.

Importing this package registers every query (name → Spark callable +
DuckDB oracle SQL) into ``registry.REGISTRY``; ``__spark_entry__.py``
exposes them to the driver harness.
"""

from ucl_data_pipeline_spark.plans import registry  # noqa: F401
from ucl_data_pipeline_spark.plans import tpch  # noqa: F401
from ucl_data_pipeline_spark.plans import aggregates  # noqa: F401
from ucl_data_pipeline_spark.plans import stats  # noqa: F401
from ucl_data_pipeline_spark.plans import similarity  # noqa: F401
from ucl_data_pipeline_spark.plans import text  # noqa: F401
from ucl_data_pipeline_spark.plans import temporal  # noqa: F401
from ucl_data_pipeline_spark.plans import graph  # noqa: F401
from ucl_data_pipeline_spark.plans import reference_parity  # noqa: F401

all_queries = registry.all_queries
oracle_sqls = registry.oracle_sqls
REGISTRY = registry.REGISTRY
