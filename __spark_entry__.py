"""Query-registry entry points (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 (plus
the scale extensions), in registration order, with their DuckDB oracle SQL
for the oracle mirror at sf0.01 (``tests/test_correctness_mirror.py``).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    from localsql_spark.workload.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from localsql_spark.workload import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    from localsql_spark.workload import all_oracles

    return all_oracles()
