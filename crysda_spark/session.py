"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set fleet-wide on a real
cluster: AQE on (runtime re-planning, skew-join handling, partition
coalescing), Arrow for any Python exchange, shuffle partitions sized
to the core count instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-plan, coalesce small shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for any pandas_udf / toPandas exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps across engines (DuckDB oracle runs in UTC).
    "spark.sql.session.timeZone": "UTC",
    # Auto-broadcast small dimension tables (10MB default is fine; AQE
    # also converts to broadcast at runtime when a side turns out small).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # Parquet TIMESTAMP(NANOS) (e.g. the events table) isn't natively
    # readable; surface it as a long and convert at the API layer.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated-class cache (default 100 entries): a long session over
    # many distinct plans churns it, and codegen-heavy pipelines (the
    # LSH/CC dedup family compiles the most units by far) then pay
    # full Janino recompilation on every execution (r10: 79 s inside a
    # 179-query run vs 19 s isolated, calibration flat — this cache,
    # not the host, was the suspect). Class metadata is tens of MB at
    # this size — noise against the driver heap.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def _driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM``, else 48g capped at half
    of physical memory. A local-mode heap larger than the host lets the
    JVM grow until the kernel's OOM killer ends it: on a 16 GB host the
    test suite's driver reached 15 GB and died mid-run, failing every
    later test."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys_mb = (os.sysconf("SC_PAGE_SIZE")
                   * os.sysconf("SC_PHYS_PAGES")) >> 20
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{max(1024, min(48 * 1024, phys_mb // 2))}m"


def get_spark(app_name: str = "crysda_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism; on a real cluster the
    master/deploy config comes from spark-submit and these builder calls
    are inert overrides.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", _driver_memory())
    )
    for k, v in _DEFAULTS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
