"""Skew-handling helpers: salting for hot keys (SCALE.md).

AQE's skew-join splitting handles most cases automatically; salting is
the explicit tool for (a) skewed *aggregations* (AQE doesn't split
those) and (b) engines/paths where AQE is off. Both helpers are
deterministic and produce results identical to their unsalted forms —
tested against them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count_sum(
    df: DataFrame,
    keys: list[str],
    sum_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-proof count+sum: groupBy(keys + salt) partial,
    then groupBy(keys) final. A hot key's rows split across
    ``salt_buckets`` reducers in phase one; phase two merges
    ``salt_buckets`` partials per key — O(buckets), trivial.

    Rows spread by a deterministic hash over all their columns.
    """
    salt = F.pmod(F.hash(F.concat_ws("\x00", *df.columns)), F.lit(salt_buckets))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.count("*").alias("__n"), F.sum(sum_col).alias("__s"))
    )
    return partial.groupBy(*keys).agg(
        F.sum("__n").alias("n"), F.sum("__s").alias(f"sum_{sum_col}")
    )


def salted_broadcastable_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
) -> DataFrame:
    """Skew-proof equi-join: the large side gets a deterministic salt
    in [0, 8); the small side is replicated once per salt value
    (explode of a literal range — fine, it's the small side). The join
    key becomes (key, salt) so a hot key's rows spread across
    8 tasks. Results equal the plain join.
    """
    salted_large = large.withColumn(
        "__salt", F.pmod(F.hash(F.concat_ws("\x00", *large.columns)), F.lit(8))
    )
    salted_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(7)))
    )
    return salted_large.join(salted_small, [key, "__salt"]).drop("__salt")
