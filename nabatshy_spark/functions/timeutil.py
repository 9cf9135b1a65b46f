"""Time-series / bucketing helpers (SURVEY §2.5, T1–T7).

The reference's signature capability is "~15 buckets per requested range"
time series with zero-padded gaps (reference: utils/utils.go:14-85,
api/service.go:911-958). Re-expressed here as pure Column arithmetic so
Catalyst can push the bucket computation into whole-stage codegen:

- bucket alignment is floor-epoch arithmetic (``unix - unix % secs``),
  byte-compatible with ClickHouse ``toStartOfInterval`` for positive
  epochs — NOT ``F.window`` (whose bucket origin differs);
- gap-fill is ``sequence() + explode`` left-joined with the aggregate,
  which distributes (no driver-side loop) and stays tiny: the padded
  series is ≤ ~16 rows per range regardless of data volume.
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NUM_BUCKETS = 15  # reference: utils/utils.go:82


def interval_seconds(range_seconds: float) -> int:
    """Bucket width for a requested range: range/15, floored, min 1s.

    Reference: utils/utils.go:81-85 (integer division, ``max(1)``).
    """
    return max(int(range_seconds // NUM_BUCKETS), 1)


def align_epoch(epoch_seconds: int, interval_secs: int) -> int:
    """Floor an epoch to its bucket start (utils/utils.go:74-79)."""
    return epoch_seconds - (epoch_seconds % interval_secs)


def gap_fill(
    agg: DataFrame,
    bucket_col: str,
    value_cols: dict[str, float],
    start_epoch: int,
    end_epoch: int,
    interval_secs: int,
) -> DataFrame:
    """T5 zero-padding: one row per bucket from aligned start to end;
    missing buckets get the fill value (reference: utils/utils.go:14-46).

    ``value_cols`` maps column name → fill value (the reference always
    fills 0). Implemented as sequence+explode left join so it runs
    distributed; the generated side is ≤ range/interval rows (~16), so
    Catalyst broadcast-joins it for free.
    """
    spark = agg.sparkSession
    aligned_start = align_epoch(start_epoch, interval_secs)
    aligned_end = align_epoch(end_epoch, interval_secs)
    if aligned_end < aligned_start:
        # a zero-length range has no buckets (sequence() rejects it)
        return agg.select(bucket_col, *value_cols).limit(0)
    buckets = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(aligned_start).cast("long"),
                F.lit(aligned_end).cast("long"),
                F.lit(interval_secs).cast("long"),
            )
        ).alias("__epoch")
    ).select(F.timestamp_seconds(F.col("__epoch")).alias(bucket_col))

    joined = buckets.join(agg, on=bucket_col, how="left")
    out_cols = [F.col(bucket_col)]
    for name, fill in value_cols.items():
        out_cols.append(F.coalesce(F.col(name), F.lit(fill)).alias(name))
    return joined.select(*out_cols).orderBy(bucket_col)


def parse_time_range(
    time_range: str | None,
    start: datetime | None = None,
    end: datetime | None = None,
    now: datetime | None = None,
) -> tuple[datetime, datetime]:
    """T7: resolve ``{Ns,Nm,Nh,Nd}`` relative ranges or absolute
    start/end (reference: utils/utils.go:87-135). Defaults to last 24h.
    """
    if start is not None and end is not None:
        return start, end
    now = now or datetime.now(timezone.utc)
    if not time_range:
        return now - timedelta(hours=24), now
    unit = time_range[-1]
    n = int(time_range[:-1])
    delta = {
        "s": timedelta(seconds=n),
        "m": timedelta(minutes=n),
        "h": timedelta(hours=n),
        "d": timedelta(days=n),
    }.get(unit)
    if delta is None:
        raise ValueError(f"bad time range {time_range!r}")
    return now - delta, now


def range_to_interval(start: datetime, end: datetime) -> int:
    """Combined T6+T7 → interval width used by the metrics endpoints."""
    return interval_seconds(math.floor((end - start).total_seconds()))
