"""Continuous aggregate: materialized rollup for settled history +
raw scan of the recent tail, merged at query time.

The reference recomputes every dashboard series from the raw table on
each request (reference api/service.go:1341-1428 recomputes the
15-bucket series per call). At 100 TB the settled past never changes,
so recomputing it is pure waste: the standard fix (TimescaleDB
continuous aggregates, ClickHouse AggregatingMergeTree, the
Lambda-architecture batch/speed split — all public designs) is

1. a periodic batch job folds everything OLDER than a cutoff into a
   tiny per-(bucket, key) rollup table — run once, amortized over
   every subsequent dashboard read;
2. the serving query unions that rollup with a raw aggregation of the
   un-settled tail (ts >= cutoff), which stays small by construction.

The cutoff is aligned to the bucket width, so rollup buckets and tail
buckets are DISJOINT and the merge is a plain union — no partial-state
re-aggregation. Aggregates stored in the rollup are the mergeable
forms (count, sum, min, max); ratios like avg are derived at read time
(sum/n) so a future compaction of finer buckets into coarser ones
stays exact.

Scale: the serving query scans rollup_rows + tail_rows instead of the
full history — at 100 TB with a 1-day tail that is a ~100× scan
reduction, and the rollup read is a broadcast-sized table. The
materialization is fingerprint-keyed on the source files (same
lifecycle as the IVF index / z-order layout): any rewrite of the
source invalidates it, and builds stage to a temp dir and rename so a
failed build can never be read as a complete rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nabatshy_spark import artifacts
from nabatshy_spark.catalog import table_path

# Mergeable partial aggregates — everything derivable (avg) is computed
# at read time from these. The sum is DECIMAL(28,6), not double: double
# partial-sums are order-dependent and some row always straddles any
# rounding boundary cross-engine (hit twice live; same fix as
# user_features). Decimal addition is exact and order-independent, so
# rollup+tail merge and the oracle agree bit-for-bit.
def _rollup_aggs() -> list:
    # Built per call: a Column needs an active session, and the module
    # must import without one.
    return [
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ]


# Bump when the rollup's aggregates or bucketing change (see
# artifacts.ensure).
_ROLLUP_VERSION = 1
# rollup granularity (a date_trunc unit)
_BUCKET = "hour"


def _bucketed(df: DataFrame, bucket: str) -> DataFrame:
    return df.withColumn("bucket", F.date_trunc(bucket, F.col("ts")))


def ensure_rollup(
    spark: SparkSession,
    sf_dir: str,
    cutoff: str,
) -> str:
    """Materialize the settled-history rollup for ``events`` older than
    ``cutoff`` (an ISO timestamp literal aligned to the bucket width).
    Returns the rollup path. Idempotent: keyed by a content fingerprint
    of the source files + the cutoff/bucket parameters; rebuilt only
    when the source changes. Lifecycle (staging-then-rename, _SUCCESS
    gate, per-user root, GC) owned by artifacts.ensure.
    """
    src = table_path(sf_dir, "events")

    def _build(staging: str) -> None:
        (
            _bucketed(spark.read.parquet(src), _BUCKET)
            .filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
            .groupBy("bucket", "event_type")
            .agg(*_rollup_aggs())
            .write.mode("overwrite")
            .parquet(staging)
        )

    return artifacts.ensure(
        "contagg", src, _ROLLUP_VERSION, {"cutoff": cutoff, "bucket": _BUCKET}, _build
    )


def serve_series(
    spark: SparkSession,
    sf_dir: str,
    cutoff: str,
) -> DataFrame:
    """The serving query: rollup ∪ raw-tail aggregation, avg derived
    from the mergeable parts. Exactly equals the direct aggregation
    over the full raw table (the oracle asserts this), while scanning
    only the tail of it.
    """
    path = ensure_rollup(spark, sf_dir, cutoff)
    settled = spark.read.parquet(path)
    tail = (
        _bucketed(
            spark.read.parquet(table_path(sf_dir, "events")), _BUCKET
        )
        .filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
        .groupBy("bucket", "event_type")
        .agg(*_rollup_aggs())
    )
    merged = settled.unionByName(tail)
    return merged.select(
        "bucket",
        "event_type",
        "n",
        F.round("sum_value", 4).cast("double").alias("sum_value"),
        F.round(F.col("sum_value") / F.col("n"), 6).cast("double").alias("avg_value"),
        "min_value",
        "max_value",
    )
