"""Join operators Spark lacks natively (SURVEY §2.3 notes the
reference has none of these either — extension surface): as-of join
via the union + last-value-window technique.

The naive as-of is a range join (cross product per key, then filter
and rank); this implementation is the scalable form: union both sides
tagged, sort within key partitions by (time, side), and carry the
build side's payload forward with ``last(ignorenulls)``. One shuffle
on the key, no cross product; skew on a hot key is handled like any
window over a key (AQE / salting).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# bytes per id that semi_join_ids assumes when sizing a broadcast
_ID_WIDTH_BYTES = 24


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: Column,
    right_key: Column,
    left_ts: Column,
    right_ts: Column,
    payload: dict[str, Column],
) -> DataFrame:
    """For each left row, attach the payload of the latest right row
    with ``right_ts <= left_ts`` and matching key — the semantics of
    DuckDB/kdb ``ASOF JOIN`` / pandas ``merge_asof`` (inclusive,
    inner: left rows with no prior right row are dropped).

    ``payload`` maps output column name → right-side Column. All
    payload fields ride in one struct, so they always come from the
    same matched row. When several right rows tie on the boundary
    timestamp, which of them is carried is unspecified — project
    value-determined columns (e.g. the timestamp itself) if ties are
    possible and determinism matters.
    """
    pay = F.struct(*[payload[n].alias(n) for n in payload])
    l = left.select(
        left_key.alias("__k"),
        left_ts.alias("__t"),
        F.lit(1).alias("__side"),  # probe rows sort after build rows at equal ts
        F.struct(*left.columns).alias("__l"),
        F.lit(None).alias("__p"),
    )
    r = right.select(
        right_key.alias("__k"),
        right_ts.alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).alias("__l"),
        pay.alias("__p"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = l.unionByName(r, allowMissingColumns=False).select(
        "__side",
        "__l",
        F.last("__p", ignorenulls=True).over(w).alias("__p"),
    )
    matched = carried.filter((F.col("__side") == 1) & F.col("__p").isNotNull())
    return matched.select(F.col("__l.*"), F.col("__p.*"))


def range_join_buckets(
    left: DataFrame,
    right: DataFrame,
    left_ts: Column,
    right_ts: Column,
    max_gap_seconds: int,
) -> DataFrame:
    """Time-range join: pairs with |left_ts − right_ts| ≤ max_gap —
    the remaining join type absent from both Spark and the reference
    (SURVEY §2.3).

    Naively this is a cross join with a theta filter; the scalable
    form bucketizes time into ``bucket = epoch // width`` and
    equi-joins each left row against its own and both adjacent right
    buckets (width ≥ gap ⇒ every qualifying pair shares or neighbours
    a bucket), then applies the exact predicate. Cost drops from
    O(N·M) to Σ |L_b|·|R_b±1|.

    The gap predicate is exact to the microsecond; bucketing uses
    whole seconds, which still covers every qualifying pair (floored-
    second diff ≤ gap ⇒ bucket diff ≤ 1 when width ≥ gap). Each right
    row lands in exactly one bucket and the three probed left buckets
    are distinct, so no pair is emitted twice — duplicate *input* rows
    legitimately produce duplicate pairs.

    Returns left and right columns (right's prefixed ``r_`` on
    collision) for qualifying pairs.
    """
    width = max_gap_seconds
    if width <= 0:
        raise ValueError(f"bucket width must be positive, got {width}")
    # Parquet timestamps without a UTC flag load as TIMESTAMP_NTZ, which
    # unix_micros rejects; cast through TIMESTAMP (session-TZ, identical on
    # both sides, so the gap predicate is unaffected).
    l_us = F.unix_micros(left_ts.cast("timestamp"))
    r_us = F.unix_micros(right_ts.cast("timestamp"))
    bucket_us = width * 1_000_000
    l_bucket = F.floor(l_us / F.lit(bucket_us))
    l = left.select(
        F.struct(*left.columns).alias("__l"),
        l_us.alias("__lt"),
        F.explode(F.array(l_bucket - 1, l_bucket, l_bucket + 1)).alias("__b"),
    )
    r = right.select(
        F.struct(*right.columns).alias("__r"),
        r_us.alias("__rt"),
        F.floor(r_us / F.lit(bucket_us)).alias("__b"),
    )
    joined = l.join(r, "__b").filter(
        F.abs(F.col("__lt") - F.col("__rt")) <= max_gap_seconds * 1_000_000
    )
    out_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns] + [
        F.col(f"__r.{c}").alias(c if c not in left.columns else f"r_{c}")
        for c in right.columns
    ]
    return joined.select(*out_cols)


def _parse_byte_size(v: str) -> int:
    """Parse Spark byte-size conf strings ('10485760', '10m', '1g',
    '512k', '-1') into bytes; -1 (broadcast disabled) stays -1."""
    s = str(v).strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def semi_join_ids(
    big: DataFrame,
    ids: DataFrame,
    key: str,
    n_ids_estimate: int,
) -> DataFrame:
    """LEFT SEMI join ``big`` against a (usually small) id relation,
    picking the physical strategy by estimated id-list size — the
    scale-safe form of ``big.join(F.broadcast(ids), key, 'left_semi')``.

    A broadcast semi-join is unbeatable while the id list fits the
    driver/executor broadcast budget, but a curation run at 100 TB can
    keep billions of ids — broadcasting those OOMs the driver. This
    helper compares ``n_ids_estimate × _ID_WIDTH_BYTES`` against
    ``spark.sql.autoBroadcastJoinThreshold`` and:

    - under the threshold → explicit ``broadcast()`` hint (one scan of
      ``big``, zero shuffle);
    - over it (or broadcast disabled via -1) → ``shuffle_hash`` hint on
      the id side: both sides hash-partition on the key, each task
      builds a hash set from its id partition only — bounded memory,
      no driver collect. (merge-sort semi would also work; hash avoids
      sorting the big side.)
    """
    threshold = _parse_byte_size(
        big.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    )
    est_bytes = int(n_ids_estimate) * _ID_WIDTH_BYTES
    if threshold >= 0 and est_bytes <= threshold:
        return big.join(F.broadcast(ids), key, "left_semi")
    return big.join(ids.hint("shuffle_hash"), key, "left_semi")
