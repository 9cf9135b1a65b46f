"""Stream-stream interval join (§2.9 extension): two file streams
joined with watermarks + a time-bound condition; result must equal the
equivalent batch join."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nabatshy_spark.streaming.joins import span_error_enrichment

SPANS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "spans.parquet")


def _spans(spark):
    return spark.read.parquet(SPANS)


def test_stream_interval_join_matches_batch(spark, tmp_path):
    wide = _spans(spark).filter(F.col("parent_span_id") == "")
    # synthesize an error stream: one error 1s after each of 50 root
    # spans, plus one error 2h late (outside max_lag -> must not join)
    roots = wide.limit(50).select(
        "trace_id",
        F.timestamp_micros(F.expr("start_time_unix_nano div 1000")).alias("span_ts"),
    )
    errs = roots.select(
        "trace_id",
        (F.col("span_ts") + F.expr("interval 1 second")).alias("error_ts"),
        F.lit("boom").alias("message"),
    )
    late = roots.limit(1).select(
        "trace_id",
        (F.col("span_ts") + F.expr("interval 2 hours")).alias("error_ts"),
        F.lit("too-late").alias("message"),
    )
    span_src = str(tmp_path / "spans_src")
    err_src = str(tmp_path / "errs_src")
    wide.write.parquet(span_src)
    errs.unionByName(late).write.parquet(err_src)

    sstream = spark.readStream.schema(wide.schema).parquet(span_src)
    estream = spark.readStream.schema(
        errs.unionByName(late).schema
    ).parquet(err_src)
    joined = span_error_enrichment(
        sstream, estream, watermark="10 minutes", max_lag="5 minutes"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("stream_join_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("stream_join_out")
    assert out.count() == 50, "each in-window error joins exactly once"
    assert out.filter(F.col("message") == "too-late").count() == 0
    # spot-check the payload: every row carries the root span's name
    assert out.filter(F.col("root_name").isNull()).count() == 0
