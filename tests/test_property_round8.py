"""Property tests for round-8 operators against pure-Python references:
the two-phase partitioned prefix sum / rank / exclusive-prefix min vs
sorted-list references on random data, and the bloom
probe's no-false-negative contract on random key sets."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(st.integers(0, 10_000), st.integers(-1000, 1000)),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],  # unique key -> the order is total
)


def _reference(data):
    """(key, value) -> {key: (cum, rank, tot, n)} over value desc, key asc."""
    ordered = sorted(data, key=lambda t: (-t[1], t[0]))
    tot = sum(v for _, v in ordered)
    out, run = {}, 0
    for i, (k, v) in enumerate(ordered, start=1):
        run += v
        out[k] = (run, i, tot, len(ordered))
    return out


@SLOW
@given(rows)
def test_cumulative_sum_ordered_matches_reference(spark, data):
    from pyspark.sql import functions as F

    from nabatshy_spark.operators.stats import cumulative_sum_ordered

    df = spark.createDataFrame(data, "k long, v long")
    got = {
        r.k: (r["__cum"], r["__rank"], r["__tot"], r["__n"])
        for r in cumulative_sum_ordered(
            df, [F.col("v").desc(), F.col("k").asc()], "v"
        ).collect()
    }
    assert got == _reference(data)


def _ref_prevmin(data):
    ordered = sorted(data, key=lambda t: (-t[1], t[0]))
    out, best = {}, None
    for k, v in ordered:
        out[k] = best
        best = v if best is None else min(best, v)
    return out


@SLOW
@given(rows)
def test_running_min_prev_ordered_matches_reference(spark, data):
    from pyspark.sql import functions as F

    from nabatshy_spark.operators.stats import running_min_prev_ordered

    df = spark.createDataFrame(data, "k long, v long")
    got = {
        r.k: r["__prevmin"]
        for r in running_min_prev_ordered(
            df, [F.col("v").desc(), F.col("k").asc()], "v"
        ).collect()
    }
    assert got == _ref_prevmin(data)


keysets = st.tuples(
    st.sets(st.integers(0, 100_000), min_size=1, max_size=30),
    st.sets(st.integers(0, 100_000), min_size=1, max_size=30),
)


@SLOW
@given(keysets)
def test_bloom_probe_never_false_negative(spark, keys):
    """Every member key must probe may_contain=True — the Bloom
    contract the runtime-filter join's correctness rests on."""
    members, probes = keys
    from nabatshy_spark.operators.sketches import bloom_bits, bloom_probe

    mdf = spark.createDataFrame([(k,) for k in members], "key long")
    pdf = spark.createDataFrame(
        [(k,) for k in members | probes], "key long"
    )
    bits = bloom_bits(mdf, "key", 256)
    got = {
        r.key: r.may_contain
        for r in bloom_probe(bits, pdf, "key", 256).collect()
    }
    assert all(got[k] for k in members)
