"""SparkSession construction tuned for the engine.

Local test profile is ``local[$SPARK_GRAFT_CPUS]`` but every setting is chosen
to also hold on a large multi-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) so the
  same declarative plans survive a 100x scale-up without hand-tuning.
- ``spark.sql.shuffle.partitions`` starts small locally; AQE coalescing makes
  the exact number unimportant, and on a real cluster it should be ~2-3x the
  total cores (set via env).
- Arrow enabled: every Pandas-UDF path in operators/ is Arrow-batched.
- Session timezone pinned to UTC so timestamp semantics are stable across
  driver/executors and match the DuckDB oracle.
- DataFrame debugging off: with it on (PySpark 4's default) every
  ``functions.*`` call and ``Column`` method captures its Python call site
  through about 8 extra py4j round-trips, which dominated the build time of
  the large operator expressions.  The cost: a DataFrame-API error's query
  context no longer names the Python file:line (SQL errors keep their SQL
  context).  PySpark caches the flag on first use, so it only takes effect
  when set as the process's first session is built.
- Codegen cache sized to the engine's working set: Spark keeps compiled
  generated classes in an LRU cache of 100 entries by default, but one
  cycle of the corpus commands needs about 120 distinct classes and one
  pass over the benchmark's 57 ad-hoc SQL texts about 544.  At 100 every
  class is evicted before its next use and each repeated statement pays
  Janino again (about 120 compiles, 0.7-0.9 s, per corpus cycle); at 1000
  a warm cycle compiles 4-6.  An entry holds about 22 KB of heap (about
  22 MB at the cap); Metaspace does not grow, since fewer classes are
  loaded in total.  It is a static conf: like the debugging flag it only
  takes effect when set as the process's first session is built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.orderByOrdinal": "true",
    "spark.sql.groupByOrdinal": "true",
    # Files: keep scan partitions big enough to amortize task overhead but
    # small enough to fit executor memory at scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Partition discovery: the default threshold (32 dirs) launches a
    # listing JOB for every read of a >32-partition local store (the
    # banded LSH index has 256), paying job-scheduling latency to list
    # directories a local FS stats in microseconds.  On object stores —
    # where parallel listing earns its keep — pass a low threshold through
    # ``extra_conf``; manifest-backed table formats avoid the listing
    # entirely (optimization guide §6).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    # UI off for test/bench runs; a real deployment can re-enable.
    "spark.ui.enabled": "false",
    # PySpark reads this once per process, from the first active session
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # static: read when the process's first session is built
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(app_name: str = "localsql_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the driver/bench can control parallelism; on a real cluster pass
    ``master=None`` with ``--master`` supplied by spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    if master.startswith("local"):
        # local mode defaults to a 1g driver heap, which holds EVERY
        # "executor" thread's working set — 32 concurrent tasks GC-thrash
        # under cache + shuffle pressure (observed: GCLocker retry failures
        # in the 16x scale harness).  On a real cluster executor memory is
        # spark-submit's concern and this branch never fires.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "16g"))
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    builder = builder.config("spark.sql.shuffle.partitions", shuffle_parts)
    # AQE coalescing floor deliberately stays at Spark's 1m default: the
    # r14 A/B (OPTIMIZATION_r14.md) measured a global 64k floor as a NET
    # LOSS (subset 52.3s vs 41.8s) — it parallelizes the rare compute-
    # dense tiny-byte stage (knn_ivfpq -43%) but multiplies per-task
    # overhead across every iterative small-stage pipeline (knn_pq +235%).
    # Compute-dense small-byte frames widen EXPLICITLY instead
    # (operators.similarity.spread / _rotate_frame's repartition).
    builder = builder.config(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """Generated classes this JVM has compiled so far, and the milliseconds
    spent compiling them (Janino, process-wide): each compile is a miss of
    the codegen cache.  Take the difference of two readings to attribute
    compiles to the work between them."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return hist.getCount(), nanos / 1e6
