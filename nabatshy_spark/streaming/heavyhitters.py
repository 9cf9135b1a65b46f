"""Streaming heavy-hitters: a count-min sketch maintained across
micro-batches (SURVEY §2.9 beyond-parity surface).

The count-min sketch's defining property — shard sketches merge by
cell-wise addition (operators/sketches.py) — is exactly what makes it
a streaming aggregate: each micro-batch contributes its own d×w
counter table, and the running state is the cell-wise sum. State size
is d·w counters FOREVER, independent of stream length or key
cardinality — the reason sketches, not exact counts, back dashboards
at 100 TB/day ingest.

Semantics: at-least-once (a replayed batch adds its counts again,
inflating estimates — never deflating; the ≥-true guarantee survives
replays). For exactly-once, key the merge by batch id like
sources/sink.idempotent_append.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nabatshy_spark.operators.sketches import cms_counters

STATE_SCHEMA = "row int, col bigint, c bigint"


def merge_sketch(spark: SparkSession, batch: DataFrame, key_col: str,
                 state_path: str, depth: int = 4, width: int = 64) -> None:
    """Cell-wise add one batch's sketch into the state table
    (staging-then-rename publish, so readers never see a partial
    state and a crash mid-merge loses at most the in-flight batch)."""
    delta = cms_counters(batch, key_col, depth, width)
    if os.path.isdir(state_path):
        old = spark.read.schema(STATE_SCHEMA).parquet(state_path)
        merged = (
            old.unionByName(delta)
            .groupBy("row", "col")
            .agg(F.sum("c").alias("c"))
        )
    else:
        merged = delta
    staging = state_path + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    merged.coalesce(1).write.mode("overwrite").parquet(staging)
    old_dir = state_path + ".old"
    shutil.rmtree(old_dir, ignore_errors=True)
    if os.path.isdir(state_path):
        os.rename(state_path, old_dir)
    os.rename(staging, state_path)
    shutil.rmtree(old_dir, ignore_errors=True)


def start_cms_stream(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 64,
) -> StreamingQuery:
    """Stream JSONL events and maintain the running frequency sketch
    of their ``user_id`` field.
    One d·w-group aggregate per micro-batch; the merge moves d·w rows
    — constant work per batch regardless of batch size skew."""
    from pyspark.sql import types as T

    raw = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    ).text(input_dir)
    keyed = raw.select(
        F.get_json_object("value", "$.user_id").alias("user_id")
    ).filter(F.col("user_id").isNotNull())

    def sink(batch: DataFrame, epoch_id: int) -> None:
        merge_sketch(spark, batch, "user_id", state_path, depth, width)

    return (
        keyed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def estimate(spark: SparkSession, state_path: str, keys: list[str]) -> DataFrame:
    """Point-query the sketch state for a key list: min over each
    key's cells — the O(d·|keys|) dashboard read. The state is a
    4 × 64 sketch, :func:`start_cms_stream`'s default."""
    from nabatshy_spark.operators.sketches import _h

    sketch = spark.read.schema(STATE_SCHEMA).parquet(state_path)
    probe = spark.createDataFrame([(k,) for k in keys], "key string").select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("row"), _h(F.col("key"), d, 64).alias("col"))
                    for d in range(4)
                ]
            )
        ).alias("p"),
    )
    return (
        probe.join(
            F.broadcast(sketch),
            (F.col("p.row") == F.col("row")) & (F.col("p.col") == F.col("col")),
            "left",
        )
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )
