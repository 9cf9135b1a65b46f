"""Streaming-domain registry queries: windowed series, continuous
aggregates, incremental materialized-view refresh, stream/batch parity,
change-data capture (snapshot diff, log compaction, SCD2) and retention
purges — the batch forms of the engine's incremental paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nabatshy_spark.catalog import load
from nabatshy_spark.plans.queries import query


@query("sliding_window_counts", headline=True)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window time series (T-family extension): event count and
    value sum per 1-hour window sliding every 15 minutes. Spark's
    built-in window() expands each row into its 4 covering windows
    inside codegen — one scan, one shuffle on the window start."""
    ev = load(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        ev.groupBy(w.alias("__w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("__w.start").alias("window_start"), "n_events", "sum_value")
        .orderBy("window_start")
    )


@query("latest_event_per_user", headline=True)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/log compaction (operators/cdc.py:latest_per_key): newest
    event per user with a total-order tiebreak; WindowGroupLimit keeps
    hot users from materializing their history in one sort buffer."""
    from nabatshy_spark.operators import cdc

    return cdc.latest_per_key(
        load(spark, sf_dir, "events"),
        "user_id",
        [F.col("ts"), F.col("event_id")],
    ).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        "value",
    )


@query("continuous_aggregate", headline=True)
def continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate serving (sources/contagg.py): materialized
    hourly rollup of settled history (ts < Jan 24, fingerprint-keyed
    build) unioned with a raw aggregation of only the tail — the
    query scans ~1/4 of the raw table yet the oracle is the DIRECT
    full aggregation, proving the split is lossless."""
    from nabatshy_spark.sources import contagg

    return contagg.serve_series(spark, sf_dir, cutoff="2024-01-24 00:00:00")


@query("orders_snapshot_diff")
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/diff.py): the new snapshot
    is a deterministic in-plan mutation of orders (drop key%97==0,
    reprice key%31==0, add shifted copies of key%113==0). Sides
    reduce to (key, xxhash64) before the full-outer join — row bodies
    never shuffle; the oracle classifies by comparing values, proving
    the hash-based classification exact."""
    from nabatshy_spark.operators import diff

    orders = load(spark, sf_dir, "orders")
    cols = ["o_totalprice", "o_orderstatus", "o_orderpriority"]
    new = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 31 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 113 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10_000_000
            )
        )
    )
    return diff.snapshot_diff(orders, new, "o_orderkey", cols)


@query("orders_diff_summary", headline=True)
def orders_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status counts of the snapshot diff — the publish-gate
    health check."""
    from nabatshy_spark.operators import diff

    orders = load(spark, sf_dir, "orders")
    cols = ["o_totalprice", "o_orderstatus", "o_orderpriority"]
    new = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 31 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 113 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10_000_000
            )
        )
    )
    return diff.diff_summary(orders, new, "o_orderkey", cols)


@query("retention_purge")
def retention_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention + right-to-erasure purge plan: drop events older than
    the retention cutoff OR belonging to erasure-listed users
    (user_id % 101 == 0 stands in for the request list). The age
    predicate pushes to the scan; the (tiny) erasure list is a
    broadcast anti join — the standard compliance rewrite job, here
    returning the surviving rows' keys plus a per-reason audit of
    what a rewrite WOULD drop (the gate a purge job logs before
    committing)."""
    ev = load(spark, sf_dir, "events")
    erasure = ev.select("user_id").distinct().filter(F.col("user_id") % 101 == 0)
    cutoff = F.lit("2024-01-08 00:00:00").cast("timestamp")
    survivors = ev.filter(F.col("ts") >= cutoff).join(
        F.broadcast(erasure), "user_id", "left_anti"
    )
    return survivors.select("event_id", "user_id", "event_type")


@query("retention_purge_audit")
def retention_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The purge gate: per-reason drop counts (too_old / erasure /
    kept) in one scan — reason attribution mirrors the purge
    predicates exactly (age wins ties so the two reasons partition
    the dropped set)."""
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-08 00:00:00").cast("timestamp")
    reason = (
        F.when(F.col("ts") < cutoff, "too_old")
        .when(F.col("user_id") % 101 == 0, "erasure")
        .otherwise("kept")
    )
    return ev.groupBy(reason.alias("reason")).agg(F.count("*").alias("n"))


@query("user_type_scd2", headline=True)
def user_type_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build (cdc.scd2_history): each user's
    event-type change log collapsed to versions with [valid_from,
    valid_to) epoch-µs intervals and an is_current flag — the standard
    mutable-entity materialization next to latest_per_key's type-1.
    Point-lookup slice (user_id < 30) keeps the registered result
    review-sized; the operator itself is full-corpus."""
    from nabatshy_spark.operators import cdc

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    return cdc.scd2_history(
        ev, "user_id", "ts", "event_type", "event_id"
    ).orderBy("user_id", "version")


@query("stream_batch_parity_rollup", headline=True)
def stream_batch_parity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-type rollup executed through an ACTUAL Structured
    Streaming run — readStream file source, event-time watermark,
    windowed aggregation, availableNow trigger, memory sink — whose
    result must equal the plain batch GROUP BY (the Dataflow-model
    stream/batch parity promise, and the SQL oracle checks exactly
    that). Complete output mode so tail windows inside the watermark
    margin are emitted too; the ns-typed ts takes the same
    nanosAsLong + floor-to-µs path as the batch catalog loader. The
    memory sink is drained and dropped after the run (no temp-view
    leak across a long session)."""
    import os as _os
    import shutil
    import tempfile
    import uuid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = _os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema
    qname = f"sbp_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sbp_ckpt_")
    srcdir = tempfile.mkdtemp(prefix="sbp_src_")
    _os.symlink(src, _os.path.join(srcdir, "events.parquet"))
    # State-store sizing: the streaming aggregation's state
    # partition count is frozen from spark.sql.shuffle.partitions at
    # checkpoint creation, and EVERY micro-batch in complete mode
    # rewrites every state partition's delta+snapshot files. The state
    # here is hour×event_type — dimension-bounded (hundreds of rows),
    # so one state partition per core pays 32 stores' file churn for
    # kilobytes of state. Size it by state volume, not core count,
    # parameterized like the session's other scale knobs; production
    # sizing note in OPTIMIZATION_r12.md. Restored in finally — the
    # conf is session-global and the batch queries must keep theirs.
    state_parts = _os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", state_parts)
        stream = spark.readStream.schema(raw_schema).parquet(srcdir)
        ts_type = dict(stream.dtypes).get("ts")
        if ts_type == "bigint":
            stream = stream.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_type == "timestamp_ntz":
            # watermarks require TIMESTAMP; the session TZ is UTC so
            # the cast is the identity wall-clock mapping
            stream = stream.withColumn(
                "ts", F.col("ts").cast("timestamp")
            )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(qname).select(
            F.col("w.start").alias("hour_start"), "event_type", "n"
        ).orderBy("hour_start", "event_type")
        rows = out.collect()
        schema = out.schema
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.catalog.dropTempView(qname)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(srcdir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query("scd2_point_in_time_join", headline=True)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup through an SCD2 history — the
    warehouse pattern that answers "what was the user's segment WHEN
    the transaction happened", never the current value: a value-tier
    change log collapses to SCD2 versions (cdc.scd2_history), and each
    purchase event resolves the version whose validity interval
    contains its timestamp. The lookup is the scalable as-of shape
    (operators/joins.py asof_join: union + last-non-null carry on ONE
    user shuffle), not an interval nested-loop; the oracle states the
    same semantics as the declarative containment join."""
    from nabatshy_spark.operators import cdc
    from nabatshy_spark.operators.joins import asof_join

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    tiered = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("value") >= 50, "high").otherwise("low").alias("tier"),
    )
    dim = cdc.scd2_history(tiered, "user_id", "ts", "tier", "event_id")
    spine = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    out = asof_join(
        spine,
        dim,
        left_key=F.col("user_id"),
        right_key=F.col("user_id"),
        left_ts=F.col("us"),
        right_ts=F.col("valid_from_us"),
        payload={
            "tier_at_purchase": F.col("tier"),
            "dim_version": F.col("version"),
        },
    )
    return out.select(
        "event_id", "user_id", "ts", "tier_at_purchase", "dim_version"
    ).orderBy("event_id")


# Refresh boundary for the incremental-MV demo: everything shipped
# before this date plays the "already materialized" aggregate, on/after
# it the delta batch. Static so the partition split is deterministic
# across engines and scale factors.
_MV_CUTOFF = "2001-06-01"


@query("mv_incremental_refresh", headline=True)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a monthly-revenue MV
    over lineitem refreshed by MERGING the delta batch's partial
    aggregate into the stored one — never recomputing from the full
    fact table (the TimescaleDB continuous-aggregate / Spark
    foreachBatch-upsert pattern; batch twin of continuous_aggregate).

    The two branches here (base < cutoff, delta >= cutoff) stand in
    for "the MV on disk" and "the new partition"; the refresh is
    union-of-partials → re-aggregate, which is associative because the
    partials carry raw sums and counts (rounding happens only after
    the merge). At 100 TB the base branch is the stored MV (|months|
    rows, no fact scan) and only the delta partition is scanned: the
    refresh cost is O(|delta| + |MV|) regardless of history size. The
    driver oracle checks the merged result against a full recompute —
    the exact invariant an incremental pipeline must keep.
    """
    li = load(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"),
        F.col("l_shipdate"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("ship_month").agg(
            F.sum("__rev").alias("__rev"), F.count("*").alias("__n")
        )

    base = partial(li.filter(F.col("l_shipdate") < F.lit(_MV_CUTOFF)))
    delta = partial(li.filter(F.col("l_shipdate") >= F.lit(_MV_CUTOFF)))
    return (
        base.unionByName(delta)
        .groupBy("ship_month")
        .agg(
            F.round(F.sum("__rev"), 2).alias("revenue"),
            F.sum("__n").alias("n_lines"),
        )
        .orderBy("ship_month")
    )
