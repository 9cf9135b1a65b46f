"""Partition compaction for the streaming span sink.

The micro-batch sink writes one file set per epoch per hour partition;
over a day that is hundreds of small files per partition — the classic
streaming-sink small-files problem (MergeTree solves it with background
merges; the reference inherits that for free). This job is the Spark
equivalent: rewrite each hour partition as few large, sorted files.

Safety: writes to a staging directory first, then swaps — never
overwrites the live path in place while readers may be scanning it.
"""

from __future__ import annotations

import shutil

from pyspark.sql import SparkSession

from nabatshy_spark.sources.sink import PARTITION_COL


def compact(
    spark: SparkSession,
    path: str,
    target_files_per_partition: int = 1,
) -> int:
    """Rewrite the span table with ``target_files_per_partition``
    sorted files per hour partition. Returns the row count (sanity:
    caller should compare to the pre-compaction count).

    At 100 TB this runs per-partition (only recent hours need
    compaction — older ones are already compacted), driven by a
    modification-time cutoff; here it rewrites the whole table, which
    is the same code path.
    """
    df = spark.read.parquet(path)
    staging = path.rstrip("/") + ".compacting"
    (
        df.repartition(target_files_per_partition, PARTITION_COL)
        .sortWithinPartitions("start_time_unix_nano", "trace_id")
        .write.mode("overwrite")
        .partitionBy(PARTITION_COL)
        .parquet(staging)
    )
    n = spark.read.parquet(staging).count()
    backup = path.rstrip("/") + ".precompact"
    shutil.move(path, backup)
    shutil.move(staging, path)
    shutil.rmtree(backup)
    return n
