"""Named query registry — the engine's serving surface.

``QUERIES`` maps each query name to a ``(spark, sf_dir) -> DataFrame``
builder; the ``query`` decorator registers one. The queries themselves
live in one module per domain (spans, relational + SQL API, text and
dedup, vector and multimodal, graph, streaming); importing
``nabatshy_spark.plans`` (or any module in it) registers all of them.
The matching DuckDB oracle SQL lives in ``nabatshy_spark.plans.oracles``
with identical column aliases.

``headline=True`` marks a query as part of the benchmark sweep
(``bench.py`` times every headline query). Audit gates that
deliberately pay an exact quadratic twin's cost stay out of it.

Float policy: double aggregates whose value depends on summation order
(sum/avg and ratios derived from them) are rounded identically on both
sides (sums → 2 decimals via ``r2``, avg/ratios → 6 via ``r6``) so
partition-order low bits never flip the comparison hash. Percentiles
are NOT rounded: exact interpolation over sorted values is
bit-identical across engines, while rounding them actually *breaks*
parity — midpoints of k-decimal inputs sit exactly on the
k+1-th-digit-5 boundary, where Spark (BigDecimal of shortest decimal
repr, HALF_UP) and DuckDB (binary-value rounding) disagree.
Min/max/count are exact and left unrounded.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
HEADLINE: set[str] = set()


def query(name: str, headline: bool = False):
    def deco(fn):
        QUERIES[name] = fn
        if headline:
            HEADLINE.add(name)
        return fn

    return deco


def r6(c):
    return F.round(c, 6)


def r2(c):
    return F.round(c, 2)
