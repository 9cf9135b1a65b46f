"""Z-order (Morton) data layout: multi-column scan locality.

A table sorted on one column prunes row groups only for predicates on
that column; a 100 TB events table queried by BOTH ``user_id`` and
``ts`` needs a layout where parquet min/max stats are tight in both
dimensions at once. Z-ordering interleaves the bits of the (bucketed)
sort keys so rows close in the multi-dimensional key space land in the
same files — the technique Delta Lake / Iceberg expose as ``OPTIMIZE
ZORDER BY`` (public design; e.g. the Morton-curve literature), built
here from plain Spark expressions:

1. bucket each key into ``2^bits`` range buckets (min/max-normalized —
   an O(1)-driver agg; swap in approx-quantile boundaries for heavily
   skewed keys);
2. interleave the bucket bits into one bigint z-value with
   shiftleft/shiftright/bitwise-OR — pure codegen, no UDF;
3. ``repartitionByRange(z).sortWithinPartitions(z)`` and write.

The rewrite is lossless (asserted by the ``zorder_pruning_stats``
oracle) and the pruning payoff is measured directly in
tests/test_zorder.py from parquet footer min/max stats: a box predicate
selective in both dimensions overlaps far fewer row groups than under a
single-column sort. At 100 TB this is a periodic layout job (write
once, amortized over every subsequent 2-D scan), exactly like the
bucketed-join layout in sources/bucketed.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nabatshy_spark import artifacts


def interleave_bits(bucket_cols: list[Column], bits: int) -> Column:
    """Morton-interleave ``bits`` low bits of each bucket column into
    one bigint. Bit i of column j lands at position i*k + j (k = number
    of columns), so total bits = bits*k must stay ≤ 63."""
    k = len(bucket_cols)
    if bits * k > 63:
        raise ValueError(f"bits*cols = {bits * k} exceeds a signed bigint")
    z = F.lit(0).cast("bigint")
    for j, c in enumerate(bucket_cols):
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(c.cast("bigint"), i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return z


def range_bucket(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Map a numeric column into [0, 2^bits) by min/max normalization.
    ``lo``/``hi`` come from a scalar agg over the source (two numbers to
    the driver); a degenerate range collapses to bucket 0."""
    n = (1 << bits) - 1
    if hi <= lo:
        return F.lit(0).cast("bigint")
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
    return F.least(
        F.greatest(F.floor(scaled * n).cast("bigint"), F.lit(0)), F.lit(n)
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    num_files: int | None = None,
) -> None:
    """Rewrite ``df`` to ``path`` z-ordered on ``cols``. The z-value is
    a transient sort key — it is NOT stored (recomputable, and layout
    keys don't belong in the schema)."""
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"__hi{i}") for i, c in enumerate(cols)],
    ).first()
    if stats[0] is None:  # empty source: write the empty layout as-is
        df.write.mode("overwrite").parquet(path)
        return
    buckets = [
        range_bucket(F.col(c), stats[f"__lo{i}"], stats[f"__hi{i}"], bits)
        for i, c in enumerate(cols)
    ]
    z = interleave_bits(buckets, bits)
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.withColumn("__z", z)
        .repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


# Bump when zorder_write's layout changes (see artifacts.ensure).
_ZORDER_VERSION = 1
# bits per column of the served layout's z-value
_ZORDER_BITS = 12


def ensure_zordered(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    cols: list[str],
    num_files: int | None = None,
) -> str:
    """Idempotently materialize the z-ordered layout of
    ``sf_dir/source`` and return its path — content-fingerprint-keyed;
    lifecycle (staging-then-rename, _SUCCESS gate, per-user root, GC)
    owned by artifacts.ensure."""
    from nabatshy_spark.catalog import load, table_path

    return artifacts.ensure(
        "zorder",
        table_path(sf_dir, source),
        _ZORDER_VERSION,
        {"cols": cols, "bits": _ZORDER_BITS, "num_files": num_files},
        lambda staging: zorder_write(
            load(spark, sf_dir, source), staging, cols, _ZORDER_BITS, num_files
        ),
    )
