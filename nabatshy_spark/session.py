"""SparkSession factory.

Local test profile runs on ``local[N]`` (one JVM); the same builder
settings are what we'd ship on a 1000-executor cluster: AQE on (runtime
partition coalescing, auto-broadcast, skew-join splitting), UTC session
timezone (oracle parity with DuckDB's naive-UTC timestamps), Arrow for any
Pandas-UDF exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Entries of the JVM-wide cache of compiled generated classes, an LRU
# whose Spark default is 100. One round-robin cycle of the 16 API routes
# compiles 113-116 distinct classes (tests/data/spans.parquet and a
# 4,000-trace table, `tools/route_profile.py` binds), so at 100 a
# dashboard cycling the routes evicts each class before its next use and
# recompiles 64-88 of them every cycle; at 1,000 a steady-state cycle
# compiles none. A static conf: only the builder can set it.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "nabatshy_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``spark.sql.shuffle.partitions`` is sized to the local core count; at
    cluster scale AQE's coalescePartitions makes the static number mostly
    irrelevant (it only caps the initial shuffle fan-out).
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
