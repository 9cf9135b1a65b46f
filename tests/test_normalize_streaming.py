"""Normalized star schema (S8/J3) and watermarked streaming rollup
(§2.9 extension) tests."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nabatshy_spark.sources.normalize import base_span_ds, normalize

SPANS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "spans.parquet")


def _wide(spark):
    return spark.read.parquet(SPANS)


def test_normalize_star_schema(spark):
    wide = _wide(spark)
    t = normalize(wide)
    n_wide = wide.count()
    assert t["span"].count() == n_wide
    # one scope row per distinct service
    assert t["scope"].count() == wide.select("scope_name").distinct().count()
    # resource ids deterministic: re-normalizing yields identical sets
    t2 = normalize(wide)
    assert {r.resource_id for r in t["resource"].collect()} == {
        r.resource_id for r in t2["resource"].collect()
    }
    # events exploded with span linkage
    n_events = wide.select(F.explode("events")).count()
    assert t["event"].count() == n_events


def test_base_span_ds_join_matches_wide(spark):
    """J3 reconstruction must agree with the denormalized table: the
    normalized 3-way join returns exactly one row per span with the
    same service name the wide row carried."""
    wide = _wide(spark)
    ds = base_span_ds(normalize(wide))
    assert ds.count() == wide.count()
    joined = ds.join(
        wide.select(
            "span_id",
            F.element_at("resource_attributes", F.lit("service.name")).alias("__svc"),
        ),
        "span_id",
    )
    assert joined.filter(F.col("service_name") != F.col("__svc")).count() == 0


def test_streaming_watermarked_rollup(spark, tmp_path):
    """Drive the streaming pre-aggregation with file micro-batches and
    check finalized buckets match the batch computation."""
    from nabatshy_spark.streaming.preagg import bucketed_rollup, start_rollup_to_memory

    wide = _wide(spark)
    src = str(tmp_path / "stream_src")
    wide.limit(400).write.parquet(src)
    stream = spark.readStream.schema(wide.schema).parquet(src)
    q = start_rollup_to_memory(bucketed_rollup(stream, bucket_seconds=3600))
    q.awaitTermination(120)
    # append mode emits nothing until the watermark passes — feed a
    # second batch far in the future to close the early windows
    future = wide.limit(1).withColumn(
        "start_time_unix_nano", F.lit(1_900_000_000_000_000_000)
    )
    future.write.mode("append").parquet(src)
    q2 = start_rollup_to_memory(
        bucketed_rollup(spark.readStream.schema(wide.schema).parquet(src), 3600),
        query_name="span_rollup2",
    )
    q2.awaitTermination(120)
    out = spark.sql("SELECT * FROM span_rollup2").collect()
    batch = (
        wide.limit(400)
        .groupBy(
            F.window(
                F.timestamp_micros(F.expr("start_time_unix_nano div 1000")),
                "3600 seconds",
            ).start.alias("bucket"),
            "name",
        )
        .agg(F.count("*").alias("n"))
        .collect()
    )
    got = {(r.bucket, r.name): r.n for r in out}
    want = {(r.bucket, r.name): r.n for r in batch}
    # every finalized (non-future) bucket must match the batch result
    finalized = {k: v for k, v in got.items() if k in want}
    assert finalized == want
