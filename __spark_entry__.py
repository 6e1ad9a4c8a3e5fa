"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 with
its DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q5 6-way join) on /root/testdata/sf0.001."""
    from grapefruit_spark.operators.relational import q5_local_supplier
    from grapefruit_spark.session import apply_engine_confs

    apply_engine_confs(spark)
    return q5_local_supplier(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from grapefruit_spark.operators import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    from grapefruit_spark.operators import all_oracles

    return all_oracles()
