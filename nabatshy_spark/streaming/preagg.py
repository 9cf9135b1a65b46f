"""Watermarked streaming pre-aggregation (SURVEY §2.9, "optional —
beyond parity"): materialize the 15-bucket style time series
incrementally instead of recomputing it per query.

The reference recomputes every dashboard series from the raw table on
each request (api/service.go:1341-1428). At 100 TB that's the wrong
trade: a streaming aggregation with a watermark maintains per-bucket
partials in state, emits finalized buckets once late data can no
longer arrive, and the dashboard reads the tiny rollup table instead.

Late-data policy (which the reference lacks entirely): events later
than the watermark delay are dropped from the rollup — an explicit,
documented bound instead of silent recompute drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def bucketed_rollup(
    spans: DataFrame,
    bucket_seconds: int = 60,
) -> DataFrame:
    """Streaming DataFrame of per-(bucket, endpoint) rollups.

    ``spans`` must be a *streaming* frame with the wide span schema.
    Bucketing uses the same floor-epoch arithmetic as the batch path
    (T2/T4), expressed through an event-time timestamp column so the
    watermark applies.
    """
    with_ts = spans.withColumn(
        "__ts", F.timestamp_micros(F.expr("start_time_unix_nano div 1000"))
    ).withWatermark("__ts", "10 minutes")
    return (
        with_ts.groupBy(
            # group by the window struct itself — projecting .start
            # inside groupBy severs the watermark linkage and append
            # mode is rejected
            F.window("__ts", f"{bucket_seconds} seconds").alias("__w"),
            F.col("name"),
        )
        .agg(
            F.count("*").alias("n"),
            F.avg(F.col("duration_ns") / F.lit(1_000_000.0)).alias("avg_ms"),
            F.max(F.col("duration_ns") / F.lit(1_000_000.0)).alias("max_ms"),
        )
        .select(
            F.col("__w").getField("start").alias("bucket"),
            "name",
            "n",
            "avg_ms",
            "max_ms",
        )
    )


def start_rollup_to_memory(
    rollup: DataFrame, query_name: str = "span_rollup"
) -> StreamingQuery:
    """Append-mode sink (buckets emit once finalized past the
    watermark). Memory sink for tests; production would write a
    partitioned rollup table via foreachBatch."""
    return (
        rollup.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def session_window_rollup(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based session aggregation via the BUILT-IN
    ``session_window`` — the declarative twin of the
    applyInPandasWithState operator in stateful.py (that one exists
    for early-emit/enrichment; this one is the right default when a
    closed-session (key, start, end, n) rollup is all you need:
    Catalyst owns the state layout and merge, no Python in the loop).

    State is one window per open session per key, partitioned by key;
    the watermark closes sessions and expires state, so memory tracks
    OPEN sessions only.
    """
    return (
        events.withWatermark(ts_col, "10 minutes")
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap).alias("__w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("__w.start").alias("session_start"),
            F.col("__w.end").alias("session_end"),
            "n_events",
        )
    )
