"""SparkSession builders.

Local profile targets the driver harness (single JVM, ``local[N]``);
cluster profile documents the settings we'd ship to a 1000-executor
cluster reading ~100 TB. Both pin UTC and enable AQE so plans re-shape
at runtime (skew joins, partition coalescing, broadcast conversion).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``: Spark's cache of compiled
#: generated classes (one per JVM, LRU, default 100). A warm medallion
#: pass (an update trend cycle plus a personal run on the fixtures)
#: uses 207 distinct classes, in the same order every pass, so under
#: the default each class is evicted before its next use and every
#: pass recompiled about 215 of them with Janino (about 1.7 s of
#: compile time summed over threads, 4 cores). 1000 holds that working
#: set several times over.
CODEGEN_CACHE_ENTRIES = 1000


def default_driver_memory(physical_bytes: int) -> str:
    """``spark.driver.memory`` for a host with ``physical_bytes`` of RAM:
    half of it, capped at 32g. In local mode this heap holds the whole
    engine, so it scales with the host rather than assuming one."""
    return f"{min(physical_bytes // 2 // 2**20, 32 * 1024)}m"


def get_spark(
    app_name: str = "stacktrend_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for the test harness.

    Settings that matter for oracle parity and local throughput:

    - ``spark.sql.session.timeZone=UTC`` — DuckDB timestamps are
      UTC-naive; without this, timestamp-valued results drift.
    - ``spark.sql.shuffle.partitions`` ≈ cores — the 200 default
      over-parallelizes local runs; on a real cluster AQE coalesces.
    - AQE on — runtime broadcast conversion + skew-join splitting is
      exactly what we want at 100 TB where stats are unreliable.
    - Arrow on — every pandas_udf / mapInPandas boundary is
      Arrow-batched.
    - ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``
      — a warm medallion pass compiles no class. The cache is static
      and per JVM: it is sized by the session that starts the JVM.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or default_driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # bucketed tables (operators/bucketing.py) go through
        # saveAsTable; keep the warehouse out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "stacktrend_warehouse"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Conf we would add on a real multi-executor cluster (documented here,
#: harmless locally). Partition sizing keeps ~128-256 MB per task so a
#: 100 TB scan is ~500k-800k tasks, and shuffle partitions follow data
#: volume via AQE instead of a static number.
CLUSTER_CONF = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    "spark.sql.files.maxPartitionBytes": "256m",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "512m",
    "spark.sql.shuffle.partitions": "2000",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
}
