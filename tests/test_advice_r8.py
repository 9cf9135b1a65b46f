"""Regression tests for the round-8 ADVICE fixes.

Each test pins the exact failure mode the advisor identified:
- two-phase prefix operators: the range-partitioned relation is pinned
  (localCheckpoint) so both plan subtrees see ONE evaluation of the
  nondeterministically-sampled exchange, and __rank is LONG so
  billion-row ranks (and 4·rank arithmetic) cannot overflow;
- hash_sample_pred validates its own range and special-cases
  bps==65536 (the 5-char '10000' literal would silently drop ~94%);
- lsh_signature rejects null/ragged vectors with an actionable error;
- _sqdist_sql rejects non-finite centroid components (repr() renders
  them as 'nanD'/'infD', which Spark SQL cannot parse).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nabatshy_spark.operators import sampling
from nabatshy_spark.operators.similarity import _sqdist_sql, lsh_signature
from nabatshy_spark.operators.stats import (
    cumulative_sum_ordered,
    running_min_prev_ordered,
)


def test_two_phase_rank_is_long_both_branches(spark):
    """__rank is LONG (the operator has one, two-phase, form)."""
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    out = cumulative_sum_ordered(df, [F.col("v").asc(), F.col("k").asc()], "v")
    assert dict(out.dtypes)["__rank"] == "bigint"
    # quartile-style arithmetic on the long rank stays exact
    out = out.withColumn("q", F.ceil(F.lit(4) * F.col("__rank") / F.col("__n")))
    qs = {r.q for r in out.select("q").distinct().collect()}
    assert qs == {1, 2, 3, 4}


def test_two_phase_ranged_relation_is_pinned(spark):
    """The exchange-reuse hazard: with the pin, the physical plan of the
    two-phase output contains a scan of an ExistingRDD (the local
    checkpoint) rather than two independent repartitionByRange subtrees
    whose sampled bounds could diverge."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    )
    for op in (cumulative_sum_ordered, running_min_prev_ordered):
        out = op(df, [F.col("v").asc(), F.col("k").asc()], "v")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan or "LogicalRDD" in plan, op.__name__
        # and the checkpointed relation is evaluated consistently: the
        # prefix math still reconciles (last rank == row count, last
        # cum == total) — corruption from divergent __pid would break
        # both invariants.
        if op is cumulative_sum_ordered:
            rows = out.collect()
            n = len(rows)
            assert sorted(r["__rank"] for r in rows) == list(range(1, n + 1))
            by_rank = {r["__rank"]: r for r in rows}
            assert by_rank[n]["__cum"] == by_rank[n]["__tot"]


def test_hash_sample_pred_keep_all_and_range(spark):
    df = spark.range(500).select(F.col("id").alias("k"))
    kept = df.filter(sampling.hash_sample_pred("k", 65536)).count()
    assert kept == 500  # pre-fix: ~6% survive the 5-char literal compare
    assert df.filter(sampling.hash_sample_pred("k", 0)).count() == 0
    for bad in (-1, 65537):
        with pytest.raises(ValueError, match=r"\[0, 65536\]"):
            sampling.hash_sample_pred("k", bad)
    # predicate ≡ filter operator on a real rate (the funnel contract)
    pred_n = df.filter(sampling.hash_sample_pred("k", 6554)).count()
    op_n = sampling.hash_sample(df, "k", 6554).count()
    assert pred_n == op_n


def test_lsh_signature_rejects_null_and_ragged(spark):
    ok = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "id int, vec array<double>"
    )
    assert lsh_signature(ok, "vec", num_planes=8, dim=4).collect()[0]["__sig"] >= 0
    from pyspark.errors.exceptions.captured import PythonException

    for bad_vec in (None, [1.0, 2.0]):
        bad = spark.createDataFrame(
            [(1, bad_vec)], "id int, vec array<double>"
        )
        with pytest.raises(PythonException, match="lsh_signature"):
            lsh_signature(bad, "vec", num_planes=8, dim=4).collect()


def test_sqdist_sql_rejects_non_finite():
    assert "aggregate(zip_with" in _sqdist_sql("vec", [0.5, -1.25])
    for bad in ([float("nan"), 1.0], [1.0, float("inf")], [float("-inf")]):
        with pytest.raises(ValueError, match="non-finite"):
            _sqdist_sql("vec", bad)
