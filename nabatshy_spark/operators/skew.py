"""Skew handling: salting for hot keys (SCALE.md).

AQE's skew-join splitting handles skewed joins; salting is the
explicit tool for skewed *aggregations*, which AQE doesn't split. The
helper is deterministic and produces results identical to the
unsalted aggregation, tested against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_BUCKETS = 16


def salted_count_sum(df: DataFrame, keys: list[str], sum_col: str) -> DataFrame:
    """Two-phase skew-proof count+sum: groupBy(keys + salt) partial,
    then groupBy(keys) final. A hot key's rows split across
    ``SALT_BUCKETS`` reducers in phase one; phase two merges
    ``SALT_BUCKETS`` partials per key — O(buckets), trivial.

    Rows spread by a deterministic hash over all their columns.
    """
    salt = F.pmod(F.hash(F.concat_ws("\x00", *df.columns)), F.lit(SALT_BUCKETS))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.count("*").alias("__n"), F.sum(sum_col).alias("__s"))
    )
    return partial.groupBy(*keys).agg(
        F.sum("__n").alias("n"), F.sum("__s").alias(f"sum_{sum_col}")
    )
