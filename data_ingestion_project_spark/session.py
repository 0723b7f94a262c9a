"""SparkSession factory.

One place to encode the engine's execution-model defaults so every entry
point (tests, bench, driver, API server) gets the same tuned session.

Scale notes (local[nproc] in tests and benchmarks, measured on 4 cores;
1000-executor cluster in production):

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switches are the main line of defense when the
  optimizer's size estimates are off by 100x at 100 TB.
- ``spark.sql.shuffle.partitions`` defaults to 2x local cores; on a real
  cluster this should be ~2-3x total executor cores (AQE coalesces the
  excess, so erring high is cheap; erring low causes spills).
- Arrow enabled: every pandas UDF / toPandas crosses the JVM<->Python
  boundary in columnar batches instead of pickled rows.
- ``maxPartitionBytes`` kept at the 128 MB default: parquet scan tasks
  stay memory-friendly at any input size.
- Code-generation cache of ``CODEGEN_CACHE_ENTRIES`` (10,000) classes,
  not Spark's 100. Census: one bench sweep (table warm-up, then all 287
  bench queries once) at sf0.1 compiles 4,958-4,970 distinct classes,
  read from ``CodegenMetrics`` in sessions that never evict; the
  benchmark's seven-query mix alone generates 146. At 100 entries every
  repeat of a query found its classes evicted and recompiled them
  (Janino, then the JVM's JIT again): 138 of the mix's 146 on each
  pass. 10,000 is the census with 2x headroom, because the Guava-backed
  cache evicts per segment before it is full. Cost: after that sweep
  the JVM's Metaspace holds 228 MB against 189 MB at 100 entries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "data_ingestion_project_spark"
CODEGEN_CACHE_ENTRIES = 10_000


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine defaults applied."""
    cores = cpu_count()
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or 2 * cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read as long and convert in the
        # reader (sources.readers.table) — lossless for micro-precision data.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # static: fixed when the first session of the JVM starts (census in
        # the module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
