"""Declarative data-quality expectations — the Deequ-shaped
(Schelter et al., VLDB 2018, public) validation gate a pipeline runs
before publishing a table: not-null, uniqueness, range, and
accepted-values constraints evaluated into one report relation.

Scale shape: every metric is an aggregate expression and ALL of them
ride one scan + one (partial-agg) reduction — adding a rule adds a
column to the agg, not a pass over the data; verdicts are computed on
the one-row agg result and exploded into the |rules|-row report a CI
gate asserts on. Exact uniqueness needs a distinct count, so it uses
``approx_count_distinct`` by default (HLL error is fine for a boolean
"is this column key-like" gate at 100 TB) with an opt-in exact mode
for audit runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# verdict: (metric, n_rows) -> boolean Column
Verdict = Callable[[Column, Column], Column]

# relative standard deviation of unique()'s HLL count
_UNIQUE_RSD = 0.02


@dataclass(frozen=True)
class Rule:
    name: str
    metric: Column = field(compare=False)
    passed: Verdict = field(compare=False)


def not_null(col: str, max_null_frac: float = 0.0) -> Rule:
    # coalesce: avg/sum over 0 rows is null; an empty table passes
    # the constraint (nothing violates it), matching the SQL oracle.
    frac = F.coalesce(
        F.avg(F.when(F.col(col).isNull(), 1.0).otherwise(0.0)), F.lit(0.0)
    )
    name = (
        f"not_null({col})"
        if max_null_frac == 0.0
        else f"not_null({col},max={max_null_frac})"
    )
    return Rule(name, frac, lambda m, n: m <= max_null_frac)


def unique(col: str, exact: bool = False) -> Rule:
    cnt = (
        F.count_distinct(F.col(col))
        if exact
        else F.approx_count_distinct(F.col(col), _UNIQUE_RSD)
    ).cast("double")
    # tolerance: an HLL undercount within ~2·_UNIQUE_RSD still reads as key-like
    tol = 0.0 if exact else 2 * _UNIQUE_RSD
    return Rule(f"unique({col})", cnt, lambda m, n: m >= n * (1.0 - tol))


def in_range(col: str, lo: float, hi: float) -> Rule:
    bad = F.coalesce(
        F.sum(F.when((F.col(col) < lo) | (F.col(col) > hi), 1).otherwise(0)),
        F.lit(0),
    ).cast("double")
    return Rule(f"in_range({col},{lo},{hi})", bad, lambda m, n: m == 0.0)


def accepted_values(col: str, values: list[str]) -> Rule:
    bad = F.coalesce(
        F.sum(F.when(~F.col(col).isin(values), 1).otherwise(0)), F.lit(0)
    ).cast("double")
    return Rule(f"accepted_values({col})", bad, lambda m, n: m == 0.0)


def min_rows(n: int) -> Rule:
    return Rule(f"min_rows({n})", F.count("*").cast("double"), lambda m, nr: m >= n)


def check(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate all rules in one scan. Returns (rule, metric, passed)
    ordered by rule name — the report a publish gate asserts on."""
    if not rules:
        raise ValueError("need at least one rule")
    agg = df.agg(
        F.count("*").cast("double").alias("__n"),
        *[r.metric.alias(f"__m{i}") for i, r in enumerate(rules)],
    )
    per_rule = [
        F.struct(
            F.lit(r.name).alias("rule"),
            F.round(F.col(f"__m{i}"), 6).alias("metric"),
            r.passed(F.col(f"__m{i}"), F.col("__n")).alias("passed"),
        )
        for i, r in enumerate(rules)
    ]
    return (
        agg.select(F.explode(F.array(*per_rule)).alias("r"))
        .select("r.rule", "r.metric", "r.passed")
        .orderBy("rule")
    )
