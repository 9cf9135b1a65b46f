"""Span table sink (SURVEY §2.1 S7): partitioned, append-only parquet.

The reference's storage contract is ClickHouse MergeTree ORDER BY
(start_time_unix_nano, trace_id) (db/clickhouse.go:107-109) — i.e.
time-ordered storage enabling range pruning. The Spark equivalent:

- directory partitioning on an hour bucket of the span start time →
  partition pruning for the time-range predicates (P3/P4);
- ``sortWithinPartitions(start, trace_id)`` before write → parquet
  row-group min/max on both keys, so point lookups and sub-hour
  ranges skip row groups.

At 100 TB the hour bucket yields manageable partition counts
(24×365 ≈ 9k dirs/year, each internally parallel); switch the bucket
to day + add trace-id bucketing if span volume per hour exceeds a few
GB per file.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARTITION_COL = "ingest_hour"

# one lock per resolved table path: Spark's file commit protocol stages
# every append job under <path>/_temporary/0, so two concurrent appends
# to one path (e.g. the JSON and protobuf ingest streams) can commit or
# delete each other's task output
_APPEND_LOCKS: dict[str, threading.Lock] = {}
_APPEND_LOCKS_GUARD = threading.Lock()


def _append_lock(path: str) -> threading.Lock:
    key = path if "://" in path else os.path.realpath(path.removeprefix("file:"))
    with _APPEND_LOCKS_GUARD:
        return _APPEND_LOCKS.setdefault(key, threading.Lock())


def with_partition_col(df: DataFrame) -> DataFrame:
    return df.withColumn(
        PARTITION_COL,
        F.date_format(
            F.timestamp_micros(F.expr("start_time_unix_nano div 1000")),
            "yyyy-MM-dd-HH",
        ),
    )


def append_spans(df: DataFrame, path: str) -> None:
    """Append a batch of wide span rows as parquet, time-partitioned
    and row-group-sorted. At-least-once (no dedup), matching the
    reference's replay behavior (SURVEY §2.9).

    Appends to the same path from threads of this process run one at a
    time (writers in other processes: ``idempotent_append``)."""
    writer = (
        with_partition_col(df)
        .sortWithinPartitions("start_time_unix_nano", "trace_id")
        .write.mode("append")
        .partitionBy(PARTITION_COL)
    )
    with _append_lock(path):
        writer.parquet(path)


def read_spans(spark, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    return df.drop(PARTITION_COL) if PARTITION_COL in df.columns else df


def idempotent_append(df: DataFrame, path: str, batch_id: int) -> bool:
    """Exactly-once batch append: the write is keyed by ``batch_id``
    and lands via staging-then-rename, so a replayed micro-batch (the
    at-least-once retry the reference simply re-inserts,
    collector/controller.go:28-95) is a no-op instead of a duplicate.

    This is the standard idempotent `foreachBatch` sink pattern:
    Structured Streaming replays a failed batch with the SAME
    batch_id, so "directory batch=<id> committed ⇒ skip" upgrades the
    pipeline to effectively-exactly-once without any dedup state. The
    rename is atomic per batch directory; a crash mid-write leaves
    only a staging dir that the next replay overwrites. Returns True
    if this call performed the write, False for a replay no-op.

    Use as: ``stream.writeStream.foreachBatch(
    lambda b, i: idempotent_append(b, path, i))``. Readers
    ``spark.read.parquet(path + "/batch=*")`` or just ``path`` —
    the batch key is a plain partition column.

    It is also the sink for writers in different processes that share
    one table path: each batch writes its own staging directory, so no
    two jobs share ``_temporary``, whereas ``append_spans`` only
    serializes appends within one process. The writers' batch ids must
    then not collide: another writer's batch 0 would be taken for a
    replay of the first one's.
    """
    import shutil

    final = os.path.join(path, f"batch={batch_id}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return False
    staging = os.path.join(path, f".staging-batch-{batch_id}")
    shutil.rmtree(staging, ignore_errors=True)
    (
        with_partition_col(df)
        .sortWithinPartitions("start_time_unix_nano", "trace_id")
        .write.mode("overwrite")
        .parquet(staging)
    )
    os.makedirs(path, exist_ok=True)
    try:
        os.rename(staging, final)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)  # lost a concurrent race
        return False
    return True
