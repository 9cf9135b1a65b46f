"""Watermarked stream-stream interval join (SURVEY §2.9, beyond
parity): correlate two live streams with bounded state.

The reference joins only at query time over stored tables
(api/service.go:365-418); a live pipeline often needs the join *before*
storage — e.g. enriching an error-event stream with the root span of
the same trace as both arrive. The naive approach buffers one stream
forever; Structured Streaming bounds the buffer when BOTH streams carry
watermarks AND the join condition constrains event time on both sides.
Then each side's state evicts as the watermark passes (the published
stream-stream join design in the Structured Streaming docs/paper):
state size is O(rate × (watermark + lag)), independent of stream
lifetime — the property that makes this runnable for months at 100 TB/
day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "10 minutes",
    max_lag: str = "5 minutes",
) -> DataFrame:
    """Join streaming ``left`` and ``right`` on ``key`` equality where
    ``right_ts`` lands within [left_ts, left_ts + max_lag].

    Both inputs must be streaming frames; ``left_ts``/``right_ts`` must
    be distinct column names (they both survive into the output, so the
    caller can measure the actual lag). The time bound is what lets
    Spark evict join state — without it the build side grows forever
    and the query is rejected for outer modes.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"interval {max_lag}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


def span_error_enrichment(
    spans: DataFrame,
    errors: DataFrame,
    watermark: str = "10 minutes",
    max_lag: str = "5 minutes",
) -> DataFrame:
    """Attach the root span's context to error events of the same trace
    as both streams arrive. ``spans`` needs (trace_id, name,
    start_time_unix_nano); ``errors`` needs (trace_id, error_ts,
    message)."""
    roots = spans.select(
        "trace_id",
        F.col("name").alias("root_name"),
        F.timestamp_micros(F.expr("start_time_unix_nano div 1000")).alias("span_ts"),
    )
    return stream_interval_join(
        roots, errors, "trace_id", "span_ts", "error_ts",
        watermark=watermark, max_lag=max_lag,
    ).select("trace_id", "root_name", "span_ts", "error_ts", "message")
