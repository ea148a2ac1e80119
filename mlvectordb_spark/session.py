"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the config choices below are the ones that
matter identically on a 1000-executor cluster:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting)
- Arrow on (vectorized pandas-UDF / toPandas transfer)
- session timezone pinned to UTC (DuckDB oracle comparisons are UTC-naive)
- shuffle partitions sized to cores locally; on a real cluster AQE
  re-coalesces from a deliberately-high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mlvectordb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # parquet reader rejects; read as long nanos and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # broadcast threshold: dimension tables (region/nation/supplier and
        # k-row query sets) should always broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime Bloom-filter join pruning (default-on in Spark 4, pinned
        # here so the engine keeps it under user config overlays): when a
        # selective dimension filter feeds a shuffle join, a Bloom filter
        # injected on the fact side drops non-joining rows BEFORE the
        # exchange — shuffle-volume reduction for free at 100 TB
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # local[32] runs executors inside the driver JVM: one heap serves 32
        # concurrent tasks plus any cached tables, and an 8g heap measurably
        # thrashes (bimodal 0.7s-vs-17s timings on cache-heavy dedup queries
        # under GC pressure). The container has 128 GiB; on a real cluster
        # this knob sizes executors instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # generated-class cache (default 100 entries): a serving round or
        # a registry pass plans more distinct stages than that, so the
        # default evicts and recompiles the same classes on every repeat
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    return builder.getOrCreate()
