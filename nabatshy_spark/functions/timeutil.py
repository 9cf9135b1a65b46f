"""Time-series / bucketing helpers (SURVEY §2.5, T1–T7).

The reference's signature capability is "~15 buckets per requested range"
time series with zero-padded gaps (reference: utils/utils.go:14-85,
api/service.go:911-958). Re-expressed here as pure Column arithmetic so
Catalyst can push the bucket computation into whole-stage codegen:

- bucket alignment is floor-epoch arithmetic (``unix - unix % secs``),
  byte-compatible with ClickHouse ``toStartOfInterval`` for positive
  epochs — NOT ``F.window`` (whose bucket origin differs);
- gap-fill unions one null row per bucket epoch into the aggregation
  input, so the padded series (one row per bucket, regardless of data
  volume) comes out of the one aggregation shuffle, with no join and
  no driver-side loop.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NUM_BUCKETS = 15  # reference: utils/utils.go:82
# gap_fill's row marker: true on every input row, null on the gap rows
ROW = "__row"


def interval_seconds(range_seconds: float) -> int:
    """Bucket width for a requested range: range/15, floored, min 1s.

    Reference: utils/utils.go:81-85 (integer division, ``max(1)``).
    """
    return max(int(range_seconds // NUM_BUCKETS), 1)


def align_epoch(epoch_seconds: int, interval_secs: int) -> int:
    """Floor an epoch to its bucket start (utils/utils.go:74-79)."""
    return epoch_seconds - (epoch_seconds % interval_secs)


def gap_fill(
    rows: DataFrame,
    epoch: Column,
    aggs: dict[str, tuple[Column, object]],
    start_epoch: int,
    end_epoch: int,
    interval_secs: int,
) -> DataFrame:
    """T5 zero-padded series (reference: utils/utils.go:14-46): the
    ``interval_secs`` buckets of ``epoch`` (long seconds, within
    [start_epoch, end_epoch]), one row per bucket from the aligned
    start to the aligned end, ordered by ``bucket_epoch``, with one
    column per ``aggs`` entry (output name → aggregate over ``rows``'
    columns, fill value for an empty bucket; the reference always
    fills 0).

    One null row per bucket epoch, from a one-partition range, is
    unioned into ``rows``, so a single aggregation shuffle yields every
    bucket: an empty bucket aggregates only its null row, and each
    aggregate's null becomes the fill. Aggregates must therefore ignore
    nulls, and count input rows as ``F.count(ROW)``, which is null on
    the gap rows. The result is one row per bucket (a range's worth, a
    few dozen at most), so it is ordered inside one partition instead
    of by a global sort.
    """
    lo = align_epoch(start_epoch, interval_secs)
    hi = align_epoch(end_epoch, interval_secs)
    data = rows.select(
        (epoch - epoch % F.lit(interval_secs)).alias("bucket_epoch"),
        F.lit(True).alias(ROW),
        "*",
    )
    # an inverted (zero-length) range is an empty range: no gap rows
    gaps = rows.sparkSession.range(lo, hi + 1, interval_secs, 1)
    return (
        data.unionByName(
            gaps.withColumnRenamed("id", "bucket_epoch"), allowMissingColumns=True
        )
        .groupBy("bucket_epoch")
        .agg(*[F.coalesce(a, F.lit(fill)).alias(c) for c, (a, fill) in aggs.items()])
        .coalesce(1)
        .sortWithinPartitions("bucket_epoch")
    )


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
