"""Workload registry: every operator from SURVEY.md §2 (plus the scale
extensions) is declared here as a (spark_query, oracle_sql) pair consumed by
``__spark_entry__.py`` and the DuckDB oracle mirror
(``tests/test_correctness_mirror.py``), which re-proves every entry.

Determinism policy (the mirror compares values order-insensitively):

- money/quantity aggregates go through DECIMAL so partial-aggregation order
  (Spark) vs sequential order (DuckDB) cannot perturb low bits;
- averages are computed as exact-decimal-sum / count with a single double
  division (IEEE-deterministic);
- timestamps surface as formatted strings or DATE casts, never raw;
- every LIMIT/top-k query breaks ties on a unique key;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, oracle)
        return fn
    return deco


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register the driver's parquet tables as temp views and return them.

    Pins the session timezone to UTC at runtime: queries may run under the
    driver's own SparkSession (not our builder), and NTZ->LTZ casts /
    date_format must agree with the DuckDB oracle's naive-as-UTC semantics.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from localsql_spark.catalog import register_testdata
    return register_testdata(spark, sf_dir)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in registration order."""
    _ensure_loaded()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    """DuckDB oracle SQL of every registered query that has one."""
    _ensure_loaded()
    return {name: spec.oracle for name, spec in REGISTRY.items()
            if spec.oracle is not None}


_loaded = False


def _ensure_loaded():
    global _loaded
    if not _loaded:
        from localsql_spark.workload import relational  # noqa: F401
        from localsql_spark.workload import functions_suite  # noqa: F401
        from localsql_spark.workload import extensions  # noqa: F401
        from localsql_spark.workload import events_suite  # noqa: F401
        from localsql_spark.workload import multimodal_suite  # noqa: F401
        from localsql_spark.workload import corpus_suite  # noqa: F401
        from localsql_spark.workload import selection_suite  # noqa: F401
        _loaded = True
