"""Streaming ingest dedup (§2.9 extension): a replayed batch must
come out exactly once; state stays bounded by the watermark."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nabatshy_spark.streaming.dedup import dedup_span_stream

SPANS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "spans.parquet")


def test_stream_dedup_replayed_batch_once(spark, tmp_path):
    wide = (
        spark.read.parquet(SPANS)
        .filter(F.col("parent_span_id") == "")
        .limit(40)
    )
    src = str(tmp_path / "dup_src")
    # an at-least-once retry: the same 40 spans written twice as two
    # files — both land inside the watermark window
    wide.write.parquet(src)
    wide.write.mode("append").parquet(src)
    assert spark.read.parquet(src).count() == 80

    stream = spark.readStream.schema(wide.schema).parquet(src)
    deduped = dedup_span_stream(stream, watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("stream_dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("stream_dedup_out")
    assert out.count() == 40, "each retried span survives exactly once"
    assert out.select("trace_id", "span_id").distinct().count() == 40
    assert out.columns == wide.columns


def test_stream_perceptual_dedup_collapses_exposures(spark, tmp_path):
    """Two exposures of each of 4 patterns (8 distinct payloads, all
    byte-distinct) arrive in-window; exactly one image per PATTERN
    must survive the perceptual dedup."""
    import datetime as dt

    import numpy as np

    from nabatshy_spark.operators.pngcodec import encode_png
    from nabatshy_spark.streaming.dedup import perceptual_dedup_stream

    def mk(pattern, offset):
        x = np.arange(8)
        v = {0: np.zeros(8), 1: x * 16,
             2: np.where(x >= 4, 96, 0), 3: np.abs(2 * x - 7) * 8}[pattern]
        return encode_png(np.tile(v + offset, (6, 1)).astype(np.uint8))

    t0 = dt.datetime(2021, 1, 1, 12, 0, 0)
    rows = [
        (i, mk(i % 4, (i // 4) * 30), t0 + dt.timedelta(seconds=i))
        for i in range(8)
    ]
    src = str(tmp_path / "img_src")
    batch = spark.createDataFrame(
        rows, "doc_id long, payload binary, ts timestamp"
    )
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        perceptual_dedup_stream(stream, "ts", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("stream_pdedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("stream_pdedup_out").collect()
    assert len(out) == 4, [r.doc_id for r in out]
    assert len({r.dhash for r in out}) == 4
    # one survivor per pattern class
    assert sorted(r.doc_id % 4 for r in out) == [0, 1, 2, 3]
