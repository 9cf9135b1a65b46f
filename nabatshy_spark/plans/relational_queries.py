"""Relational registry queries over the star schema (lineitem, orders,
customer, part, supplier, nation, region) and the events table: the
reference's aggregation / search / time-series surface (SURVEY §2.4,
§2.5) re-expressed on the testdata tables, plus joins, reshaping,
statistics, sketches, sampling estimators and storage-layout audits.
The SQL-API queries of this domain live in ``sql_queries``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nabatshy_spark.catalog import load
from nabatshy_spark.functions.timeutil import gap_fill
from nabatshy_spark.operators import sampling, sessions, sketches, stats
from nabatshy_spark.operators.search import search_events
from nabatshy_spark.plans.queries import query, r2, r6


# ---------------------------------------------------------------------------
# Aggregation layer (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query("pricing_summary", headline=True)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A7/A8 multi-aggregate single pass (api/service.go:1341-1428
    pattern): classic grouped pricing rollup over lineitem.

    Scale: map-side partial aggregation on (returnflag, linestatus) — 6
    groups, so the shuffle moves ~6 rows per task regardless of input
    size. Filter on l_shipdate is pushed to the parquet scan.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r2(F.sum("l_quantity")).alias("sum_qty"),
            r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            r2(F.sum(disc_price)).alias("sum_disc_price"),
            r2(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            r6(F.avg("l_quantity")).alias("avg_qty"),
            r6(F.avg("l_extendedprice")).alias("avg_price"),
            r6(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query("endpoint_stats", headline=True)
def endpoint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-endpoint latency stats (api/service.go:315-363 —
    A1 count, A2 avg/min/max, A3 exact quantiles, A7 multi-key group,
    O5 sort-by-aggregate), recast on lineitem prices.

    Exact ``percentile`` for oracle parity; at 100 TB swap to
    ``percentile_approx`` (t-digest) behind the same aliases — one
    partial-agg pass, no extra shuffle either way.
    """
    li = load(spark, sf_dir, "lineitem")
    p = F.percentile("l_extendedprice", F.lit([0.5, 0.95, 0.99]))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("call_count"),
            r6(F.avg("l_extendedprice")).alias("avg_price"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            p.alias("__p"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "call_count",
            "avg_price",
            "min_price",
            "max_price",
            F.col("__p")[0].alias("p50_price"),
            F.col("__p")[1].alias("p95_price"),
            F.col("__p")[2].alias("p99_price"),
        )
    )


@query("trace_rollup", headline=True)
def trace_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 group-then-max/min + O2 top-N (trace list,
    api/service.go:598-611): per-order rollup, top 100 by max price.

    ``l_orderkey`` tiebreaker makes the LIMIT deterministic. Spark plans
    TakeOrderedAndProject — per-partition top-100 then a single-reduce
    merge, no global sort.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("span_count"),
            F.max("l_extendedprice").alias("max_price"),
            F.min("l_shipdate").alias("first_ship"),
        )
        .orderBy(F.col("max_price").desc(), F.col("l_orderkey").asc())
        .limit(100)
    )


@query("error_rate_by_priority", headline=True)
def error_rate_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5/A6 — the nested-aggregate pattern
    ``countIf(x > avg(x)*2)`` in one GROUP BY (api/service.go:983-1006,
    :606), rewritten two-phase: Window.partitionBy for the group avg,
    then conditional count. The window shuffle partitions by the same
    key as the groupBy, so Catalyst plans exactly one exchange.
    """
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    flagged = orders.withColumn("__avg", F.avg("o_totalprice").over(w))
    return (
        flagged.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("total_count"),
            F.sum(
                F.when(F.col("o_totalprice") > 2 * F.col("__avg"), 1).otherwise(0)
            ).alias("issue_count"),
        )
        .withColumn(
            "error_rate",
            r6(F.col("issue_count") / F.col("total_count") * 100.0),
        )
    )


@query("distinct_segments")
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 DISTINCT (api/service.go:1541-1546 — distinct service names)."""
    return load(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query("top_event_types")
def top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 + O5: top endpoints by avg duration, limit 10
    (api/service.go:315-331)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(r6(F.avg("value")).alias("avg_value"), F.count("*").alias("n"))
        .orderBy(F.col("avg_value").desc())
        .limit(10)
    )


@query("pct_vs_baseline")
def pct_vs_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 percent-difference vs baseline (api/service.go:560-592): each
    event type's avg vs the global avg. The single-row global aggregate
    is broadcast — no shuffle on the join.
    """
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(F.avg("value").alias("__avg_t"))
    overall = ev.agg(F.avg("value").alias("__avg_g"))
    return (
        per_type.join(F.broadcast(overall))
        .select(
            "event_type",
            r6(F.col("__avg_t")).alias("avg_value"),
            r6((F.col("__avg_t") - F.col("__avg_g")) / F.col("__avg_g") * 100.0).alias(
                "pct_diff"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Sorts / top-k / pagination / point lookups (SURVEY §2.6, §2.2)
# ---------------------------------------------------------------------------


@query("slowest_traces")
def slowest_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 multi-key sort + O2 top-N (slowest traces,
    api/service.go:177-185): top 100 orders by price."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .orderBy(
            F.col("o_totalprice").desc(),
            F.col("o_orderdate").desc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
    )


@query("point_lookup")
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 point lookup by id (GetSpanDetails, api/service.go:460).

    An equality filter on a scalar column — pushed to the parquet scan
    (row-group min/max skipping); with id-sorted file layout this reads
    one row group at 100 TB.
    """
    return load(spark, sf_dir, "events").filter(F.col("event_id") == 4242)


@query("search_page", headline=True)
def search_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 search lifecycle: typed DSL filter + dynamic sort O3 +
    pagination O4 (api/service.go:698-846). Page 3 of click events."""
    ev = load(spark, sf_dir, "events")
    return search_events(ev, "type=click", page=3, page_size=20, sort_field="ts", sort_order="desc")


@query("search_page_keyset", headline=True)
def search_page_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 keyset twin (operators/search.py:keyset_page): DEEP page —
    page 100 of click events. The token is the last (ts, event_id) of
    page 99, exactly what a serving API returns to the client; the
    measured query is then filter + top-20 (TakeOrderedAndProject), so
    its cost is independent of page depth — the offset form
    (search_page) skip-scans the 1,980-row prefix and degrades
    linearly. Result rows = offset page 100 exactly (total order via
    the event_id tiebreaker)."""
    from nabatshy_spark.operators.search import search_events_keyset

    ev = load(spark, sf_dir, "events")
    prev_page = search_events(
        ev, "type=click", page=99, page_size=20, sort_field="ts", sort_order="desc"
    ).collect()
    if not prev_page:
        # tiny SFs don't have 99 pages of clicks: clamp to the deepest
        # non-empty previous page (sf0.01+ never takes this branch, so
        # the oracle's fixed page-100 semantics are unaffected)
        from nabatshy_spark.operators.search import events_predicate, parse_attribute_query

        n = ev.filter(
            events_predicate(parse_attribute_query("type=click"), "type=click")
        ).count()
        prev_page = search_events(
            ev, "type=click", page=min(99, max(1, (n - 1) // 20)),
            page_size=20, sort_field="ts", sort_order="desc",
        ).collect()
    if not prev_page:  # empty table: no pages at all
        return search_events(
            ev, "type=click", page=1, page_size=20,
            sort_field="ts", sort_order="desc",
        )
    token = (prev_page[-1].ts, prev_page[-1].event_id)
    return search_events_keyset(
        ev, "type=click", after=token, page_size=20, sort_field="ts", sort_order="desc"
    )


@query("search_dsl_typed")
def search_dsl_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 mini-DSL, all-pairs-valid path (api/service.go:651-696):
    ``type=error,k=42`` → AND of typed conditions; ``k`` hits the props
    JSON document (span-attribute analog)."""
    ev = load(spark, sf_dir, "events")
    from nabatshy_spark.operators.search import events_predicate, parse_attribute_query

    q = "type=error,k=42"
    return ev.filter(events_predicate(parse_attribute_query(q), q)).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@query("search_dsl_fallback")
def search_dsl_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9 fallback rule (api/service.go:690-695, 778-789): a query
    with no ``=`` falls back to broad OR search over all match targets."""
    ev = load(spark, sf_dir, "events")
    from nabatshy_spark.operators.search import events_predicate, parse_attribute_query

    q = "purchase"
    return ev.filter(events_predicate(parse_attribute_query(q), q)).select(
        "event_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@query("service_dependency", headline=True)
def service_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 self equi-join parent→child with theta filter
    (api/service.go:365-398): adjacent lineitems of the same order with
    different suppliers ≙ cross-service parent/child span edges;
    group-count the (parent, child) pairs.

    Equi-keys (orderkey, linenumber) drive a shuffle join partitioned
    on orderkey; the ≠ predicate stays a post-join filter exactly like
    the reference's ``s1.scope_name != s2.scope_name``.
    """
    li = load(spark, sf_dir, "lineitem")
    s1 = li.alias("s1")
    s2 = li.alias("s2")
    return (
        s1.join(
            s2,
            (F.col("s1.l_orderkey") == F.col("s2.l_orderkey"))
            & (F.col("s2.l_linenumber") == F.col("s1.l_linenumber") + 1),
        )
        .filter(F.col("s1.l_suppkey") != F.col("s2.l_suppkey"))
        .groupBy(
            F.col("s1.l_returnflag").alias("parent_flag"),
            F.col("s2.l_returnflag").alias("child_flag"),
        )
        .agg(F.count("*").alias("call_count"))
    )


@query("region_nation_rollup", headline=True)
def region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 multiway equi-join over the normalized star
    (api/service.go:1300-1327): customer ⋈ nation ⋈ region, rolled up.

    nation (25) and region (5) are broadcast — the fact table never
    shuffles for the join, only for the final small aggregation.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            r6(F.avg("c_acctbal")).alias("avg_acctbal"),
            r2(F.sum("c_acctbal")).alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series / bucketing (SURVEY §2.5)
# ---------------------------------------------------------------------------

# Fixed epochs for the gap-fill / combined-metrics windows (the events
# table spans Jan 2024 at every sf; ranges are [start, end) ).
_GF_START = 1_704_067_200  # 2024-01-01 00:00:00 UTC
_GF_END = 1_704_240_000  # 2024-01-03 00:00:00 UTC
_CM_END = 1_705_276_800  # 2024-01-15 00:00:00 UTC


def _epoch_s(col):
    """Timestamp → whole epoch seconds (µs floored), identical to the
    oracle's ``epoch_us(ts) // 1000000``."""
    return F.unix_timestamp(col)


@query("hourly_heatmap", headline=True)
def hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 fixed hourly bucket + A4 conditional count (heatmap,
    api/service.go:400-433; error countIf :606): first 24 hours."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            r6(F.avg("value")).alias("avg_value"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "err_count"
            ),
        )
        .orderBy(F.col("bucket").asc())
        .limit(24)
    )


@query("dynamic_buckets", headline=True)
def dynamic_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 dynamic interval bucketing (toStartOfInterval with
    n = range/15, api/service.go:911-922 + utils/utils.go:74-85):
    interval derived from the data's own min/max so the query is
    scale-factor-independent. Floor-epoch arithmetic, not F.window,
    to match ClickHouse bucket alignment exactly.

    The min/max aggregate is one row, broadcast back over the fact
    table — two scans but zero wide shuffles.
    """
    ev = load(spark, sf_dir, "events")
    stats = ev.agg(
        F.min(_epoch_s(F.col("ts"))).alias("__lo"),
        F.max(_epoch_s(F.col("ts"))).alias("__hi"),
    )
    iv = F.greatest(F.floor((F.col("__hi") - F.col("__lo")) / 15), F.lit(1)).cast("long")
    ep = _epoch_s(F.col("ts"))
    return (
        ev.join(F.broadcast(stats))
        .withColumn("__iv", iv)
        .groupBy((ep - ep % F.col("__iv")).alias("bucket_epoch"))
        .agg(F.count("*").alias("n"), r6(F.avg("value")).alias("avg_value"))
        .orderBy("bucket_epoch")
    )


@query("gapfill_series")
def gapfill_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 gap-fill / zero-padding (utils/utils.go:14-46): hourly counts
    of a sparse event slice over [2024-01-01, 2024-01-03), empty hours
    present with n=0. sequence+explode left join — distributed, and the
    generated side (48 rows) broadcasts."""
    ev = load(spark, sf_dir, "events")
    iv = 3600
    sliced = ev.filter(
        (F.col("event_type") == "purchase")
        & (F.col("value") > 45)
        & (F.col("ts") >= F.timestamp_seconds(F.lit(_GF_START)))
        & (F.col("ts") < F.timestamp_seconds(F.lit(_GF_END)))
    )
    ep = _epoch_s(F.col("ts"))
    agg = sliced.groupBy((ep - ep % F.lit(iv)).alias("bucket_epoch")).agg(
        F.count("*").alias("n")
    )
    agg_ts = agg.select(
        F.timestamp_seconds(F.col("bucket_epoch")).alias("bucket"), "n"
    )
    filled = gap_fill(agg_ts, "bucket", {"n": 0}, _GF_START, _GF_END - 1, iv)
    return filled.select(
        F.unix_timestamp("bucket").alias("bucket_epoch"),
        F.col("n").cast("long").alias("n"),
    )


@query("combined_metrics", headline=True)
def combined_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/T2/T5 combined metrics — percentile + count + avg in ONE scan
    per bucket, then gap-filled (api/service.go:1341-1428; the
    reference hand-optimized three round trips into one query — in
    Spark it's just one agg call)."""
    ev = load(spark, sf_dir, "events")
    iv = (_CM_END - _GF_START) // 15
    sliced = ev.filter(
        (F.col("ts") >= F.timestamp_seconds(F.lit(_GF_START)))
        & (F.col("ts") < F.timestamp_seconds(F.lit(_CM_END)))
    )
    ep = _epoch_s(F.col("ts"))
    agg = sliced.groupBy((ep - ep % F.lit(iv)).alias("bucket_epoch")).agg(
        F.percentile("value", F.lit(0.95)).alias("p95_value"),
        F.count("*").alias("n"),
        r6(F.avg("value")).alias("avg_value"),
    )
    agg_ts = agg.select(F.timestamp_seconds("bucket_epoch").alias("bucket"), "p95_value", "n", "avg_value")
    filled = gap_fill(
        agg_ts,
        "bucket",
        {"p95_value": 0.0, "n": 0, "avg_value": 0.0},
        _GF_START,
        _CM_END - 1,
        iv,
    )
    return filled.select(
        F.unix_timestamp("bucket").alias("bucket_epoch"),
        "p95_value",
        F.col("n").cast("long").alias("n"),
        "avg_value",
    )


@query("relative_window")
def relative_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 relative time window (now − 24h, api/service.go:969-981) with
    the data's max ts standing in for now(): per-type counts over the
    last day."""
    ev = load(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("__mx"))
    return (
        ev.join(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("__mx") - F.expr("INTERVAL 1 DAY"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), r6(F.avg("value")).alias("avg_value"))
    )


@query("customers_without_orders")
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (SURVEY §2.3 'not present' — extension): customers
    with no order over 400k — NOT EXISTS as left_anti (no row
    materialization of the non-matching side). The price filter keeps
    the anti side non-empty at every sf, so the check discriminates."""
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400_000)
        .select("o_custkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@query("segments_with_big_orders")
def segments_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: segments of customers having at least one order over
    400k — EXISTS as left_semi, then rollup."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400_000).select(
        "o_custkey"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query("order_coverage_left_join")
def order_coverage_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-side aggregation: every customer with
    their order count (0 when unmatched) — outer joins are absent from
    the reference (SURVEY §2.3)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "n_orderless_rows"
            ),
        )
    )


@query("running_user_value")
def running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame spec (rowsBetween unbounded-preceding → current):
    running value sum per user over event time — frame-specified
    windows are beyond the reference's surface (SURVEY §2.8). Limited
    to one user for compact output."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") == 7)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


@query("unpivot_status_price")
def unpivot_status_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot→unpivot roundtrip: the pivoted status columns melted back
    to (priority, status, total) rows — equals a plain GROUP BY, which
    is exactly what the oracle states."""
    wide = pivot_status_price(spark, sf_dir)
    return (
        wide.selectExpr(
            "o_orderpriority",
            "stack(3, 'O', O, 'F', F, 'P', P) AS (o_orderstatus, total_price)",
        )
        .filter(F.col("total_price").isNotNull())
    )


# ---------------------------------------------------------------------------
# Beyond the reference surface: windows, reshaping, statistics, sketches,
# data quality and storage-layout audits
# ---------------------------------------------------------------------------


@query("sessionization")
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function sessionization (lag + running sum, 30-min gap)
    with per-session rollup — standard log-analytics extension beyond
    the reference's surface (SURVEY §2.8)."""
    from nabatshy_spark.operators.sessions import session_stats

    return session_stats(load(spark, sf_dir, "events"))


@query("topk_per_group")
def topk_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per event type via row_number window."""
    from nabatshy_spark.operators.sessions import topk_per_group

    return topk_per_group(
        load(spark, sf_dir, "events"), "event_type", "value", "event_id", k=3
    ).select("event_type", "event_id", "value", "rank")


@query("endpoint_stats_approx")
def endpoint_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100 TB switch of endpoint_stats, executable:
    t-digest percentile_approx + HLL approx_count_distinct (mergeable
    sketches, bounded memory). Approximate ⇒ rows-only check; the
    tolerance test lives in tests/test_extensions.py."""
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem")
    p = F.percentile_approx("l_extendedprice", F.lit([0.5, 0.95, 0.99]), F.lit(10000))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("call_count"),
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            p.alias("__p"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "call_count",
            "approx_parts",
            F.col("__p")[0].alias("p50_price"),
            F.col("__p")[1].alias("p95_price"),
            F.col("__p")[2].alias("p99_price"),
        )
    )


@query("cube_pricing")
def cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — grouping-sets surface the
    reference lacks (SURVEY §2.4 'not present'), native in both
    engines."""
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@query("distinct_customers_by_priority")
def distinct_customers_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT) — absent from the reference (SURVEY §2.4);
    exact distinct per group (the approx twin is approx_count_distinct
    in endpoint_stats_approx)."""
    from pyspark.sql import functions as F

    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@query("asof_join_orders")
def asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §2.3 'not present' — extension): for each
    event, the o_orderdate of the latest order (key: user_id ≡
    o_custkey mod 150) at or before the event time. Union +
    last-value-window — one shuffle, no range cross product. The
    matched date (value-determined) is projected so boundary ties
    can't make the output nondeterministic."""
    from pyspark.sql import functions as F

    from nabatshy_spark.operators.joins import asof_join

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load(spark, sf_dir, "orders")
    return asof_join(
        ev,
        orders,
        left_key=F.col("user_id"),
        right_key=F.col("o_custkey") % 150,
        left_ts=F.col("ts"),
        right_ts=F.col("o_orderdate"),
        payload={"matched_date": F.col("o_orderdate")},
    )


@query("pivot_status_price")
def pivot_status_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (SURVEY §2.4 'not present' — extension): order totals by
    priority × status, statuses as columns."""
    from pyspark.sql import functions as F

    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


@query("range_join_events")
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join (SURVEY §2.3 'not present' — extension): error
    events paired with purchase events within 60 seconds, via bucketed
    equi-join (no cross product). Aggregated per error event to keep
    the output compact."""
    from pyspark.sql import functions as F

    from nabatshy_spark.operators.joins import range_join_buckets

    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pur_id"), F.col("ts").alias("pur_ts")
    )
    pairs = range_join_buckets(
        errors, purchases, F.col("err_ts"), F.col("pur_ts"), max_gap_seconds=60
    )
    return pairs.groupBy("err_id").agg(
        F.count("*").alias("n_nearby"),
        F.min("pur_id").alias("first_pur_id"),
    )


@query("event_funnel", headline=True)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase ordered funnel over events: per-step
    user counts + overall conversion rate in one declarative plan."""
    return sessions.funnel(
        load(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


@query("skew_salted_value_by_user")
def skew_salted_value_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase count+sum over events grouped by user —
    the salted aggregation produces results identical to the plain
    groupBy (which is what the oracle checks); the salt exists to split
    a hot user across reducers at scale."""
    from pyspark.sql import functions as F

    from nabatshy_spark.operators.skew import salted_count_sum

    ev = load(spark, sf_dir, "events")
    out = salted_count_sum(ev, ["user_id"], "value", salt_buckets=16)
    return out.select(
        "user_id", "n", F.round(F.col("sum_value"), 6).alias("sum_value")
    )


@query("props_json_stats")
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time JSON path extraction (surface the reference lacks —
    SURVEY §2.7 'not present'): pull props.k out of the JSON string
    column and aggregate per event type. get_json_object is codegen'd;
    at scale the answer is to materialize hot paths as columns at
    ingest, but ad-hoc extraction must still work."""
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query("bucketed_revenue_join", headline=True)
def bucketed_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join through the bucketed layout (sources/bucketed.py):
    orders and lineitem are hash-bucketed on their orderkey at write
    time, so the join itself has NO Exchange on either side (asserted
    in test_plans.py) — the 100 TB answer to the most shuffle-expensive
    plan shape in the reference surface (J1/J3, api/service.go:365-418).
    Returns revenue and line count per order priority."""
    from nabatshy_spark.sources import bucketed

    j = bucketed.bucketed_join(
        spark, sf_dir, "orders", "lineitem",
        ["o_orderkey"], ["l_orderkey"], num_buckets=8,
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


@query("zorder_pruning_stats", headline=True)
def zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D selective scan over the z-ordered events layout
    (sources/zorder.py): the layout rewrite is lossless, so this agg
    over a (user_id, value) box matches the same SQL over the original
    table — while the parquet footers of the layout prune both
    dimensions at once (measured in tests/test_zorder.py)."""
    from nabatshy_spark.sources import zorder

    path = zorder.ensure_zordered(spark, sf_dir, "events", ["user_id", "value"])
    ev = spark.read.parquet(path)
    return (
        ev.filter(
            (F.col("user_id") >= 100) & (F.col("user_id") <= 300)
            & (F.col("value") >= 10.0) & (F.col("value") <= 50.0)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query("profile_orders")
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan data-quality profile of the orders table
    (operators/profile.py): null counts, exact cardinalities, and
    min/max per column from one aggregate pass."""
    from nabatshy_spark.operators.profile import profile

    return profile(
        load(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"],
    )


@query("distinct_users_approx")
def distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ cardinality per event_type (approx_count_distinct,
    rsd=2%) — THE 100 TB count-distinct: constant-size mergeable
    sketch per partition instead of shuffling every distinct key.
    Rows-only check (sketch estimates aren't engine-portable); the
    exact twin is ``distinct_customers_by_priority`` and the ≤5%%
    error bound is pinned in tests/test_extensions.py."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
        .orderBy("event_type")
    )


@query("user_event_deltas")
def user_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gaps (lag over the user's event-time order
    with event_id tiebreak): seconds since previous event + value
    delta — the §2.8 lead/lag surface. One hash shuffle on user_id;
    the sort is per-partition within the window."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            (
                # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the
                # cast to instant-typed TIMESTAMP is the identity map
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w))
            )
            / 1_000_000.0,
            6,
        ).alias("gap_s"),
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("value_delta"),
    )


@query("order_value_deciles")
def order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile stats over order totalprice (ntile(10) global window →
    per-decile count/min/max/avg). The global sort is the ntile
    contract; the follow-up agg is partial-agg cheap. At 100 TB the
    swap is approx_percentile boundaries + a bucket join — same output
    contract, no global sort."""
    from pyspark.sql import Window

    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


@query("rolling_user_value", headline=True)
def rolling_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1h per-user rolling count/sum (operators/stats.py:
    rolling_range_agg) — the RANGE-frame window surface; sliding
    frame, O(rows) per partition."""
    from nabatshy_spark.operators import stats

    return stats.rolling_range_agg(
        load(spark, sf_dir, "events"), "user_id", "ts", "value", 3600
    )


@query("value_outliers")
def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 2.5): group moments via
    partial agg + broadcast-back, never a whole-group window buffer."""
    from nabatshy_spark.operators import stats

    return stats.zscore_outliers(
        load(spark, sf_dir, "events").select("event_id", "event_type", "value"),
        "event_type",
        "value",
    ).select("event_id", "event_type", "value", "zscore")


@query("price_histogram")
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket equi-width histogram of order totalprice: min/max
    agg broadcast back + width_bucket groupBy — no sort, no driver
    loop."""
    from nabatshy_spark.operators import stats

    return stats.equi_width_histogram(
        load(spark, sf_dir, "orders").select("o_totalprice"), "o_totalprice", 20
    )


@query("lineitem_correlations")
def lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of quantity/price/discount in ONE
    aggregate pass, unpivoted with stack."""
    from nabatshy_spark.operators import stats

    return stats.correlations(
        load(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
    )


@query("cohort_retention", headline=True)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-event day
    (cohort), counted by activity-day offset — the product-analytics
    rollup. First-event day via a groupBy-min (partial-agg, not a
    window over full history), broadcast back onto the fact scan; one
    distinct-count per (cohort, offset). Day arithmetic is date_diff
    on date-truncated timestamps — engine-portable."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(F.broadcast(first), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query("hourly_latency_percentiles", headline=True)
def hourly_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour p50/p95/p99 of event value — the percentile time
    series every latency dashboard draws (reference only serves
    avg/count series, api/service.go:1341-1428). Exact percentiles at
    test scale; percentile_approx is the same-alias 100 TB switch
    (endpoint_stats_approx precedent)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
    )


@query("shipping_priority", headline=True)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shape shipping priority: segment-filtered customers ⋈ orders
    ⋈ lineitem, revenue per order, top-10. The customer dim broadcasts
    (filter shrinks it below the threshold); the orders↔lineitem join
    shuffles on orderkey; TakeOrdered caps the sort at 10 rows. Both
    date filters reach the scans (AUTOMOBILE segment, date literals
    chosen inside the data range so every sf discriminates)."""
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query("local_supplier_volume", headline=True)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shape local supplier volume: revenue per nation where the
    customer and supplier share a nation — a 6-table star with BOTH
    dim chains broadcast onto the single fact shuffle; the
    same-nation predicate is a post-join filter on broadcast columns
    (never a shuffle key)."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    dims = F.broadcast(
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey")).select(
            "n_nationkey", "n_name"
        )
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(dims, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query("weekly_revenue_wow")
def weekly_revenue_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue per order priority: weekly rollup (one
    partial-agg shuffle), then lag over the tiny aggregated series —
    the reporting comparison runs on |weeks × priorities| rows, never
    on the fact table."""
    from pyspark.sql import Window

    weekly = (
        load(spark, sf_dir, "orders")
        .groupBy(
            # to_date: DuckDB's date_trunc('week') yields DATE — emit
            # the same type so driver-side value hashing matches
            F.to_date(F.date_trunc("week", F.col("o_orderdate"))).alias("week"),
            "o_orderpriority",
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("week")
    return weekly.select(
        "week",
        "o_orderpriority",
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 2).alias("wow_delta"),
    )


@query("event_transitions")
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition counts between consecutive event types
    per user (lag over the user's event-time order with event_id
    tiebreak) — the Markov/behavior matrix. One shuffle on user_id;
    the transition count agg rides on ~|types|² groups."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        load(spark, sf_dir, "events")
        .select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )


@query("daily_event_pivot")
def daily_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface: events per (day × event_type) as a wide matrix —
    groupBy().pivot() with the value list PINNED (passing values
    explicitly skips Spark's extra distinct-scan pass and keeps the
    output schema deterministic at any scale)."""
    # Statically pinned domain (the testdata generator fixes it): no
    # distinct-scan, no driver round-trip, and the output schema is
    # identical on any input — an absent type is an all-zero column,
    # matching the oracle's five fixed columns even on empty data.
    types = ["click", "view", "purchase", "signup", "error"]
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))  # count("*") is rejected inside pivot
        .na.fill(0, types)
    )


@query("profile_orders_approx", headline=True)
def profile_orders_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of profile_orders: approx_count_distinct (HLL++,
    rsd=2%) replaces the exact distinct expansion — fixed-size partial
    state per column instead of the multi-distinct EXPAND. Sketch
    estimates aren't engine-portable → rows-only check; the ≤5% error
    bound vs the exact profile is pinned in tests."""
    from nabatshy_spark.operators import profile as P

    orders = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__null{i}"),
            F.approx_count_distinct(F.col(c), 0.02).alias(f"__dist{i}"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(f"'{c}', __null{i}, __dist{i}" for i, c in enumerate(cols))
    return one.selectExpr(
        "__n as n_rows",
        f"stack({len(cols)}, {stack_args}) as (column, n_nulls, approx_distinct)",
    ).select("column", "n_rows", "n_nulls", "approx_distinct")


@query("fk_integrity_audit")
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan
    counts for every FK edge (lineitem→orders, lineitem→part,
    lineitem→supplier, orders→customer, customer→nation,
    supplier→nation, nation→region) — each edge one left-anti join
    shuffled on the key (dims broadcast), unioned into the one-row-
    per-edge report an ingest gate asserts on."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")

    def orphans(name, child, ck, parent, pk, bcast=True):
        p = parent.select(F.col(pk))
        if bcast:
            p = F.broadcast(p)
        n = (
            child.select(F.col(ck))
            .join(p, child[ck] == p[pk], "left_anti")
            .count()
        )
        return spark.createDataFrame(
            [(name, n)], "fk_edge string, n_orphans long"
        )

    reports = [
        orphans("lineitem->orders", li, "l_orderkey", orders, "o_orderkey", False),
        orphans("lineitem->part", li, "l_partkey", part, "p_partkey"),
        orphans("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey"),
        orphans("orders->customer", orders, "o_custkey", cust, "c_custkey"),
        orphans("customer->nation", cust, "c_nationkey", nation, "n_nationkey"),
        orphans("supplier->nation", supp, "s_nationkey", nation, "n_nationkey"),
        orphans("nation->region", nation, "n_regionkey", region, "r_regionkey"),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


@query("series_anomalies")
def series_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alerting primitive over the dashboard series: hourly per-type
    event counts flagged where the bucket deviates > 2σ from its
    type's own mean (population σ over the series). Both the rollup
    and the moments are aggregate-sized — the anomaly scan never
    touches the fact table twice at full width, and the moments join
    back via broadcast."""
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    moments = hourly.groupBy("event_type").agg(
        F.avg("n").alias("__mu"), F.stddev_pop("n").alias("__sd")
    )
    z = (F.col("n") - F.col("__mu")) / F.col("__sd")
    return (
        hourly.join(F.broadcast(moments), "event_type")
        .filter(F.col("__sd") > 0)
        .withColumn("zscore", F.round(z, 6))
        .filter(F.abs(F.col("zscore")) > 2)
        .select("bucket", "event_type", "n", "zscore")
    )


@query("winsorized_values")
def winsorized_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized event values (clip to exact p1/p99 —
    operators/stats.py:winsorize): bounds via one scalar agg broadcast
    back, clip codegen'd; approx_percentile is the documented 100 TB
    switch."""
    from nabatshy_spark.operators import stats

    return stats.winsorize(
        load(spark, sf_dir, "events").select("event_id", "value"), "value"
    ).select("event_id", "value", "value_winsorized")


@query("user_features")
def user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature assembly — the feature-engineering rollup a
    training pipeline materializes: event count, distinct types,
    value stats, recency (seconds from last event to the corpus max),
    and per-type counts — ALL in one partial-agg pass over one scan
    (conditional counts instead of a pivot join); the corpus max ts
    is a 1-row broadcast."""
    ev = load(spark, sf_dir, "events")
    maxts = ev.agg(F.max("ts").alias("__maxts"))
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        # DECIMAL sum: double partial-sums are order-dependent, and any
        # rounding precision has some row straddling a boundary
        # (observed twice); decimal addition is exact and
        # order-independent, so both engines agree bit-for-bit
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")) / F.count("*"), 4
        ).cast("double").alias("avg_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.max("ts").alias("__last"),
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
            for t in ("click", "view", "purchase", "signup", "error")
        ],
    )
    return (
        per_user.join(F.broadcast(maxts))
        .withColumn(
            "recency_s",
            F.round(
                (
                    F.unix_micros(F.col("__maxts").cast("timestamp"))
                    - F.unix_micros(F.col("__last").cast("timestamp"))
                )
                / 1_000_000.0,
                6,
            ),
        )
        .drop("__last", "__maxts")
    )


@query("time_to_convert")
def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user first-view → first-purchase latency: two conditional
    min-aggregates in one pass (no self-join, no window), keep users
    who converted AFTER their first view, report hours to convert."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("__v"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("__p"),
    )
    hours = (
        F.unix_micros(F.col("__p").cast("timestamp"))
        - F.unix_micros(F.col("__v").cast("timestamp"))
    ) / 3_600_000_000.0
    return (
        firsts.filter(F.col("__v").isNotNull() & (F.col("__p") >= F.col("__v")))
        .select("user_id", F.round(hours, 6).alias("hours_to_convert"))
    )


@query("nation_revenue_share")
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-total report: per-nation revenue and share of the
    grand total. The total comes from a second aggregate over the
    per-nation rollup broadcast back — NOT a `sum over ()` window,
    which would drag every rollup row into ONE task (the
    whole-table-partition trap §2.8 warns about; harmless at 25
    nations, fatal at 10⁸ groups)."""
    cust = F.broadcast(load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    nation = F.broadcast(load(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    per_nation = (
        load(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        # |nations| rows, consumed twice (grand total, then the share
        # projection): checkpointed so the orders join chain runs once
        #.
        .localCheckpoint(eager=False)
    )
    total = per_nation.agg(F.sum("revenue").alias("__total"))
    return (
        per_nation.join(F.broadcast(total))
        .select(
            "n_name",
            "revenue",
            F.round(F.col("revenue") / F.col("__total"), 6).alias("share"),
        )
    )


@query("cms_user_counts")
def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates per user (operators/sketches.py,
    Cormode-Muthukrishnan): depth 4 × width 64 forces collisions at 150
    users, so estimates genuinely exercise the min-over-rows bound
    (est ≥ true, always). The md5 hashing is engine-portable, so the
    ORACLE REBUILDS THE SKETCH — construction and query both checked,
    not just sanity."""
    from nabatshy_spark.operators import sketches

    ev = load(spark, sf_dir, "events")
    return sketches.cms_estimates(ev, "user_id", depth=4, width=64).select(
        F.col("key").cast("string").alias("key"), "est"
    )


@query("bloom_purchase_users")
def bloom_purchase_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership prefilter (operators/sketches.py): the
    bit set is built over users with a 'purchase' event and probed with
    every user — no false negatives by construction (flagged ⊇ true
    purchasers), false positives bounded by (1-e^{-kn/m})^k. The
    broadcast bit-set join is the cheap guard in front of expensive
    dedup/decontamination joins at 100 TB."""
    from nabatshy_spark.operators import sketches

    ev = load(spark, sf_dir, "events")
    big_buyers = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 250)
    ).select("user_id")
    # m=256 keeps a real (bounded) false-positive rate in play at this
    # SF, so the query exercises the probabilistic side too; the
    # no-false-negative guarantee is exact regardless.
    bits = sketches.bloom_bits(big_buyers, "user_id", num_hashes=5, num_bits=256)
    return sketches.bloom_probe(
        bits, ev.select("user_id"), "user_id", num_hashes=5, num_bits=256
    ).select(F.col("key").cast("string").alias("key"), "may_contain")


@query("frequent_part_pairs", headline=True)
def frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pairs (operators/itemsets.py): parts co-ordered
    in ≥3 distinct orders, A-priori item pruning before the pair
    self-join and a basket-size cap bounding the quadratic expansion."""
    from nabatshy_spark.operators import itemsets

    # Pair supports from the shared basket-stats artifact
    # (one A-priori mining pass per corpus, shared with
    # association_rules_parts — itemsets.shared_part_basket_stats).
    pair_sup, _, _ = itemsets.shared_part_basket_stats(
        spark, sf_dir, min_support=3
    )
    return itemsets.topk_pairs(pair_sup, k=100)


@query("data_quality_report", headline=True)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations gate (operators/expectations.py,
    Deequ-shaped): five constraints over orders — not-null FK, exact
    key uniqueness, price range, status domain, minimum volume — all
    evaluated in ONE scan (every metric is a column of a single agg;
    verdicts computed on the one-row result). The range check's upper
    bound 450000 deliberately FAILS on real data so the report
    demonstrably discriminates."""
    from nabatshy_spark.operators import expectations as E

    return E.check(
        load(spark, sf_dir, "orders"),
        [
            E.not_null("o_custkey"),
            E.unique("o_orderkey", exact=True),
            E.in_range("o_totalprice", 0.0, 450000.0),
            E.accepted_values("o_orderstatus", ["F", "O", "P"]),
            E.min_rows(100),
        ],
    )


@query("value_trends", headline=True)
def value_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of value over time: OLS slope
    (scaled to per-day), intercept-free fit quality r², and n — the
    drift/trend monitor over the event stream. Entirely built-in
    regression aggregates (`regr_slope`/`regr_r2`: sums of x, y, xy,
    x² with map-side partial aggregation — ONE scan, one shuffle of
    |event_types| groups). The x axis is epoch seconds CENTERED on a
    fixed date so the double-precision products stay far from the
    1e18 range where engine rounding could diverge."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (
            F.col("ts").cast("timestamp").cast("double")
            - F.lit(1704067200.0)  # 2024-01-01 epoch: fixed, engine-portable
        ).alias("__x"),
        F.col("value").cast("double").alias("__y"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.regr_slope("__y", "__x") * 86400, 6).alias("slope_per_day"),
            F.round(F.regr_r2("__y", "__x"), 6).alias("r2"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


@query("approx_revenue_estimate", headline=True)
def approx_revenue_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing: total revenue estimated from a
    deterministic ~10% CLUSTER sample (whole orders in or out, decided
    by md5(l_orderkey) — sampling.hash_sample's engine-portable
    predicate), inverse-probability scaled. The sample filter sits
    directly on the scan (no shuffle, no RNG state), so the estimator
    reads ~10% of the data — the point of AQP at 100 TB. The true
    total and relative error ride along here so the demo is
    self-grading; a production estimator returns only the estimate ±
    CI."""
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    bps = 6554  # ~10.0021% — the exact inclusion probability is bps/65536
    sampled = sampling.hash_sample(li, "l_orderkey", bps=bps)
    est = sampled.agg(
        (F.sum(rev) * F.lit(65536.0 / bps)).alias("__est")
    )
    true = li.agg(F.sum(rev).alias("__true"))
    return (
        est.join(F.broadcast(true))
        .select(
            F.round("__est", 2).alias("estimated_revenue"),
            F.round("__true", 2).alias("true_revenue"),
            F.round(
                F.abs(F.col("__est") - F.col("__true")) / F.col("__true"), 6
            ).alias("rel_error"),
        )
    )


@query("customer_rfm_segments", headline=True)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer analytics rollup: per
    customer recency (days since last order, against the corpus max
    date), frequency (order count) and monetary (total spend), each
    scored 1–3 against corpus-wide TERCILE boundaries computed with
    exact quantile_cont (fixed value thresholds, NOT ntile — ntile
    breaks ties by row order, which no two engines replicate), then
    segment sizes. One groupBy(customer) + a 1-row broadcast of the
    six boundaries; scoring is pure arithmetic on the joined row."""
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("__last"),
        F.count("*").alias("__freq"),
        F.sum("o_totalprice").alias("__spend"),
    )
    maxd = o.agg(F.max("o_orderdate").alias("__maxd"))
    rfm = per_cust.join(F.broadcast(maxd)).select(
        "o_custkey",
        F.datediff(F.col("__maxd"), F.col("__last")).alias("__rec"),
        "__freq",
        "__spend",
    )
    bounds = rfm.agg(
        F.percentile(F.col("__rec"), F.lit(1.0 / 3)).alias("__r1"),
        F.percentile(F.col("__rec"), F.lit(2.0 / 3)).alias("__r2"),
        F.percentile(F.col("__freq"), F.lit(1.0 / 3)).alias("__f1"),
        F.percentile(F.col("__freq"), F.lit(2.0 / 3)).alias("__f2"),
        F.percentile(F.col("__spend"), F.lit(1.0 / 3)).alias("__m1"),
        F.percentile(F.col("__spend"), F.lit(2.0 / 3)).alias("__m2"),
    )

    def score(col, lo, hi, invert=False):
        s = (
            F.when(F.col(col) <= F.col(lo), 1)
            .when(F.col(col) <= F.col(hi), 2)
            .otherwise(3)
        )
        return (4 - s) if invert else s

    scored = rfm.join(F.broadcast(bounds)).select(
        # low recency days = RECENT = best → invert
        score("__rec", "__r1", "__r2", invert=True).alias("r_score"),
        score("__freq", "__f1", "__f2").alias("f_score"),
        score("__spend", "__m1", "__m2").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


@query("top_session_paths", headline=True)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 2-step event-type paths within sessions
    (sessions.top_session_paths; n is a parameter — 2 here because
    this corpus's sessions are short enough that longer paths are
    all-unique): sessionize → lead-window n-gram → corpus count.
    Deterministic sequence order via the event_id tiebreak."""
    return sessions.top_session_paths(
        load(spark, sf_dir, "events"), n=2, k=20
    )


@query("association_rules_parts", headline=True)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over part co-orders (operators/itemsets.py
    association_rules): support, directional confidences, and lift per
    frequent pair — the actionable layer above frequent_part_pairs.
    Item supports broadcast onto the pair relation; basket total is a
    1-row broadcast."""
    from nabatshy_spark.operators import itemsets

    # Support relations from the shared basket-stats
    # artifact (one mining pass per corpus, shared with
    # frequent_part_pairs).
    pair_sup, item_sup, n_baskets = itemsets.shared_part_basket_stats(
        spark, sf_dir, min_support=3
    )
    return itemsets.rules_from_supports(pair_sup, item_sup, n_baskets, k=100)


@query("ewma_user_value", headline=True)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α=1/2, depth 8) of event values at each user's
    latest event — a bounded lag-pyramid window, one partition-local
    pass, no recursion and no float-aggregate reassociation."""
    return stats.ewma_last(
        load(spark, sf_dir, "events"), "user_id", "ts", "value", "event_id"
    )


@query("hourly_event_forecast", headline=True)
def hourly_event_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's event
    count per type as the SAME HOUR YESTERDAY (t−24h) and score MAPE
    over the whole history — the zero-parameter baseline every real
    forecasting rollout must beat. One hourly agg, then a self
    equi-join on (type, hour−24h): the joined relation is
    types×hours (tiny), so everything after the first agg is
    negligible at any corpus size."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("n"))
    )
    cur = hourly.alias("cur")
    prev = hourly.alias("prev")
    joined = cur.join(
        prev,
        (F.col("cur.event_type") == F.col("prev.event_type"))
        & (F.col("cur.h") == F.col("prev.h") + 24),
    ).select(
        F.col("cur.event_type").alias("event_type"),
        F.col("cur.n").alias("actual"),
        F.col("prev.n").alias("forecast"),
    )
    return (
        joined.filter(F.col("actual") > 0)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_hours"),
            F.round(
                F.avg(
                    F.abs(F.col("actual") - F.col("forecast"))
                    / F.col("actual")
                ),
                6,
            ).alias("mape"),
        )
        .orderBy("event_type")
    )


@query("ab_test_lift", headline=True)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B analysis over a deterministic hash split: users are
    assigned to arm A/B by md5(user_id) (engine-portable, stable
    under reruns — the same predicate family as hash_sample), the
    purchase-value metric is compared with a Welch t statistic.
    Moments come from DECIMAL(28,6) sums of x and x² (exact, so the
    derived mean/variance/t are order-independent across engines);
    the whole query is one scan + one 2-row agg."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    x = F.col("value").cast("decimal(28,6)")
    per = (
        ev.select(arm.alias("arm"), x.alias("x"))
        .groupBy("arm")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("s1"),
            F.sum(F.col("x") * F.col("x")).alias("s2"),
        )
        .select(
            "arm",
            "n",
            (F.col("s1").cast("double") / F.col("n")).alias("mean"),
            (
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double")
                    * F.col("s1").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1)
            ).alias("var"),
        )
    )
    a = per.filter(F.col("arm") == "A").alias("a")
    b = per.filter(F.col("arm") == "B").alias("b")
    return a.crossJoin(b).select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round("a.mean", 6).alias("mean_a"),
        F.round("b.mean", 6).alias("mean_b"),
        F.round(F.col("b.mean") - F.col("a.mean"), 6).alias("lift"),
        F.round(
            (F.col("b.mean") - F.col("a.mean"))
            / F.sqrt(
                F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n")
            ),
            6,
        ).alias("welch_t"),
    )


@query("join_skew_report", headline=True)
def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report for the two hottest fact keys — the
    pre-flight check before sizing a shuffle (a skew_ratio ≫ 1 says
    salt or AQE-skew-join this key). Per key: rows, distinct keys,
    max rows under one key, and max/avg ratio. Each relation is one
    two-level agg; results union into a 2-row report."""
    def _stats(df: DataFrame, rel: str, key: str) -> DataFrame:
        per_key = df.groupBy(F.col(key)).agg(F.count("*").alias("c"))
        return per_key.agg(
            F.lit(rel).alias("relation"),
            F.lit(key).alias("key"),
            F.sum("c").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("c").alias("max_per_key"),
            F.round(
                F.max("c") / (F.sum("c") / F.count("*")), 6
            ).alias("skew_ratio"),
        )

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        _stats(orders, "orders", "o_custkey")
        .unionByName(_stats(lineitem, "lineitem", "l_orderkey"))
        .orderBy("relation")
    )


@query("audience_overlap", headline=True)
def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: per type pair, the
    Jaccard of their user sets. One user-grain rollup to a 5-bit
    behavior bitmask, then ALL pairwise overlaps are derived from the
    ≤32-row mask-count relation — the corpus is touched once no
    matter how many pairs, instead of one semi-join per pair."""
    ev = load(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    bit = None
    for i, t in enumerate(types):
        b = F.max(
            F.when(F.col("event_type") == t, F.lit(1 << i)).otherwise(0)
        )
        bit = b if bit is None else bit + b
    masks = (
        ev.groupBy("user_id")
        .agg(bit.alias("mask"))
        .groupBy("mask")
        .agg(F.count("*").alias("n_users"))
    )
    # ALL pair overlaps from ONE aggregate over the ≤32-row mask
    # relation (a per-pair agg would rescan the corpus 10×): one row of
    # 2×10 columns, then stack() unpivots it back to pair rows.
    aggs, stack_args = [], []
    pairs = [
        (i, j, types[i], types[j])
        for i in range(len(types))
        for j in range(i + 1, len(types))
    ]
    for k, (i, j, ta, tb) in enumerate(pairs):
        aggs.append(
            F.sum(
                F.when(
                    (F.col("mask").bitwiseAND(1 << i) > 0)
                    & (F.col("mask").bitwiseAND(1 << j) > 0),
                    F.col("n_users"),
                ).otherwise(0)
            ).alias(f"b{k}")
        )
        aggs.append(
            F.sum(
                F.when(
                    (F.col("mask").bitwiseAND(1 << i) > 0)
                    | (F.col("mask").bitwiseAND(1 << j) > 0),
                    F.col("n_users"),
                ).otherwise(0)
            ).alias(f"e{k}")
        )
        stack_args.append(f"'{ta}', '{tb}', b{k}, e{k}")
    one_row = masks.agg(*aggs)
    stacked = one_row.select(
        F.expr(
            f"stack({len(pairs)}, {', '.join(stack_args)}) "
            "AS (type_a, type_b, n_both, n_either)"
        )
    )
    return stacked.select(
        "type_a", "type_b", "n_both", "n_either",
        # try_divide: a type absent from the corpus makes a pair's
        # union empty — jaccard is undefined (NULL), not an ANSI
        # DIVIDE_BY_ZERO crash
        F.round(F.try_divide(F.col("n_both"), F.col("n_either")), 6).alias(
            "jaccard"
        ),
    ).orderBy("type_a", "type_b")


@query("user_stickiness", headline=True)
def user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU and stickiness (avg DAU / MAU) per calendar month —
    the engagement headline metric. Distinct-user counts at three
    grains from one scan; the ratio divides the two BIGINT aggregates
    so the oracle is exact."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.date_trunc("month", "ts").cast("date").alias("month"),
            F.to_date("ts").alias("day"),
            "user_id",
        )
        .groupBy("month", "day")
        .agg(F.count_distinct("user_id").alias("dau"))
    )
    monthly = (
        ev.select(
            F.date_trunc("month", "ts").cast("date").alias("month"), "user_id"
        )
        .groupBy("month")
        .agg(F.count_distinct("user_id").alias("mau"))
    )
    return (
        daily.groupBy("month")
        .agg(
            F.count("*").alias("n_days"),
            # keep the unrounded average for the ratio — rounding
            # before dividing composes differently from the oracle's
            # round(avg/mau) and can flip the 6th decimal
            F.avg("dau").alias("__avg_dau_raw"),
            F.max("dau").alias("peak_dau"),
        )
        .join(monthly, "month")
        .select(
            "month", "n_days",
            F.round("__avg_dau_raw", 6).alias("avg_dau"),
            "peak_dau", "mau",
            F.round(F.col("__avg_dau_raw") / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("month")
    )


@query("brand_affinity", headline=True)
def brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between brands: for brand pairs co-bought in
    ≥ 20 orders, lift = P(a,b) / (P(a)·P(b)) over order baskets.
    Baskets collapse to distinct (order, brand) first — pair counting
    then runs on the collapsed relation (≤25 brands ⇒ bounded fanout
    per basket, no cap needed); the three probabilities divide BIGINT
    counts so the oracle is exact."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    # ONE shuffle builds the basket relation (collect_set dedups, so
    # no separate distinct pass); counts, pair counts, and the grand
    # total all derive from it — the former ob-self-join recomputed
    # the lineitem⋈part join three times (10 scans, 12 exchanges).
    baskets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        # materialized ONCE (pagerank precedent): three consumers below
        # would otherwise each recompute the join+basket shuffle; the
        # ContextCleaner frees the blocks when the ref drops
        .localCheckpoint(eager=True)
    )
    # grand total stays in-plan as a 1-row broadcast (bnlj-1row
    # pattern) — no driver count() round-trip
    n_orders_df = baskets.agg(
        F.count("*").cast("double").alias("__n_orders")
    )
    brand_n = (
        baskets.select(F.explode("bs").alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("nb"))
    )
    # in-basket pair expansion: ≤25 brands ⇒ ≤300 pairs per basket,
    # done as array arithmetic on the already-shuffled relation
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) -> "
                    "transform(slice(bs, i + 2, size(bs)), "
                    "y -> struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.brand_a").alias("brand_a"),
            F.col("p.brand_b").alias("brand_b"),
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 20)
    )
    na = brand_n.withColumnRenamed("b", "brand_a").withColumnRenamed("nb", "n_a")
    nb = brand_n.withColumnRenamed("b", "brand_b").withColumnRenamed("nb", "n_b")
    return (
        pairs.join(na, "brand_a")
        .join(nb, "brand_b")
        .crossJoin(F.broadcast(n_orders_df))
        .select(
            "brand_a", "brand_b", "n_both",
            F.round(
                (F.col("n_both") * F.col("__n_orders"))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )


@query("conversion_attribution", headline=True)
def conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase is credited to the FIRST
    event type the user emitted in the preceding 24 hours (falling
    back to 'direct' when nothing preceded it). A range-frame window
    per user — no self-join against the event history; conversions
    roll up per attributed channel."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-86_400_000_000, -1)
    )
    first_prior = F.first(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    attributed = (
        ev.withColumn("__attr", first_prior)
        .filter(F.col("event_type") == "purchase")
        .select(F.coalesce("__attr", F.lit("direct")).alias("channel"))
    )
    return (
        attributed.groupBy("channel")
        .agg(F.count("*").alias("n_conversions"))
        .orderBy("channel")
    )


@query("supplier_concentration", headline=True)
def supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration (Herfindahl–Hirschman index) of revenue
    per supplier nation: Σ share² over that nation's suppliers. Both
    the per-supplier and per-nation revenue go through DECIMAL(28,6)
    sums; the share division and Σ share² happen in double on the
    tiny per-supplier relation, rounded to 6 dp."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            "s_suppkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(28,6)")
            .alias("r"),
        )
        .groupBy("nation", "s_suppkey")
        .agg(F.sum("r").alias("sr"))
        # |nations|×|suppliers|-bounded and consumed twice (totals,
        # then the share join): checkpointed so the fact join runs
        # once, not per consumer (the spans_mad_outliers / chi2
        # small-relation-reuse move).
        .localCheckpoint(eager=False)
    )
    tot = rev.groupBy("nation").agg(
        F.sum("sr").alias("tr"), F.count("*").alias("n_suppliers")
    )
    share2 = (
        rev.join(tot, "nation")
        .select(
            "nation", "n_suppliers",
            F.pow(F.col("sr").cast("double") / F.col("tr").cast("double"), 2)
            .alias("s2"),
        )
        .groupBy("nation", "n_suppliers")
        .agg(F.round(F.sum("s2"), 6).alias("hhi"))
    )
    return share2.orderBy("nation")


@query("revenue_gini", headline=True)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue inequality across customers: Gini coefficient from the
    Lorenz curve (G = (n+1 − 2·Σ cumshare / total) / n over revenue-
    ascending customers) plus the top-decile revenue share. Per-
    customer revenue through DECIMAL(28,6); the global rank comes from
    stats.cumulative_sum_ordered's TWO-PHASE form — the customer
    dimension grows with the data (billions at 100 TB), so a plain
    row_number window would sort it on one task. The rank cut uses
    ntile-free integer arithmetic so both engines agree on every
    boundary row."""
    from nabatshy_spark.operators.stats import cumulative_sum_ordered

    orders = load(spark, sf_dir, "orders")
    rev = (
        orders.select(
            "o_custkey",
            F.col("o_totalprice").cast("decimal(28,6)").alias("r"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("r").alias("rev"))
    )
    ranked = cumulative_sum_ordered(
        rev,
        [F.col("rev").asc(), F.col("o_custkey").asc()],
        "rev",
        force="twophase",
    ).select(
        "rev", F.col("__rank").alias("i"), F.col("__n").alias("n")
    )
    # the rank-weighted sum stays DECIMAL (int × decimal is exact), so
    # gini is bit-identical across engines before the final division
    return (
        ranked
        .agg(
            F.max("n").alias("n_customers"),
            F.round(
                (
                    F.max("n")
                    + 1
                    - 2
                    * F.sum(
                        (F.col("n") - F.col("i") + 1) * F.col("rev")
                    ).cast("double")
                    / F.sum("rev").cast("double")
                )
                / F.max("n"),
                6,
            ).alias("gini"),
            F.round(
                F.sum(
                    F.when(
                        F.col("i") > F.col("n") - F.floor(F.col("n") / 10),
                        F.col("rev"),
                    ).otherwise(F.lit(0).cast("decimal(28,6)"))
                ).cast("double")
                / F.sum("rev").cast("double"),
                6,
            ).alias("top_decile_share"),
        )
    )


@query("user_burstiness", headline=True)
def user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per user: coefficient of variation of
    the gaps between consecutive events, bucketed into a corpus-level
    histogram (CV ≈ 1 ⇒ Poisson-like, ≫1 ⇒ bursty). Gaps come from
    one lag window; per-user moments use exact integer µs sums (the
    DECIMAL pattern) so the CV is engine-exact before rounding."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("__us", "event_id")
    gaps = (
        ev.select("user_id", us.alias("__us"), "event_id")
        .withColumn("__gap", F.col("__us") - F.lag("__us").over(w))
        .filter(F.col("__gap").isNotNull())
        .select("user_id", F.col("__gap").cast("decimal(28,6)").alias("g"))
    )
    per_user = (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("g").alias("s1"),
            F.sum(F.col("g") * F.col("g")).alias("s2"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "user_id",
            F.sqrt(
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double")
                    * F.col("s1").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1)
            ).alias("sd"),
            (F.col("s1").cast("double") / F.col("n")).alias("mean"),
        )
        .select(
            "user_id", F.round(F.col("sd") / F.col("mean"), 6).alias("cv")
        )
    )
    return (
        per_user.select(
            F.round(F.col("cv"), 0).cast("int").alias("cv_bucket")
        )
        .groupBy("cv_bucket")
        .agg(F.count("*").alias("n_users"))
        .orderBy("cv_bucket")
    )


@query("events_dow_hour_profile", headline=True)
def events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: event counts and mean value per
    (day-of-week, hour-of-day) cell — the 7×24 heatmap behind load
    forecasting and anomaly baselines. One scan, one 168-cell agg;
    the mean divides a DECIMAL(28,6) sum so the oracle is exact."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hour"),
            F.col("value").cast("decimal(28,6)").alias("v"),
        )
        .groupBy("dow", "hour")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum("v").cast("double") / F.count("*"), 6
            ).alias("avg_value"),
        )
        .orderBy("dow", "hour")
    )


@query("order_priority_sla", headline=True)
def order_priority_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-SLA compliance by order priority: share of orders
    whose FIRST line shipped within 30 days, per priority class — the
    report that shows whether priority actually buys faster
    fulfillment. Aggregate-join-aggregate: lineitem collapses to one
    first-ship row per order before the join (same shape as
    sql_order_ship_lag)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    joined = orders.join(
        first_ship, orders.o_orderkey == first_ship.l_orderkey
    ).select(
        "o_orderpriority",
        F.datediff("first_ship", "o_orderdate").alias("lag_days"),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum((F.col("lag_days") <= 30).cast("int")).alias("n_within_30d"),
            F.round(
                F.sum((F.col("lag_days") <= 30).cast("int"))
                / F.count("*"),
                6,
            ).alias("sla_rate"),
        )
        .orderBy("o_orderpriority")
    )


@query("k_anonymity_audit", headline=True)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over customer quasi-identifiers (segment ×
    nation × $1000 balance bucket): the group-size histogram plus an
    at-risk flag for equivalence classes smaller than k=5 — the
    re-identification exposure report a privacy review runs before
    features derived from the table enter a training set. Two
    hash-aggs, second over the tiny group-size relation."""
    cust = load(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    ).agg(F.count("*").alias("k"))
    return (
        g.groupBy(F.col("k").alias("group_size"))
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("k").alias("n_rows"),
        )
        .select(
            "group_size",
            "n_groups",
            "n_rows",
            (F.col("group_size") < 5).alias("at_risk"),
        )
        .orderBy("group_size")
    )


@query("weighted_median_price", headline=True)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median selling price per brand — the
    weighted quantile Spark has no native aggregate for, built
    sort-based: pre-aggregate weight per (brand, price) so the window
    walks distinct prices only, cumulative weight over the
    brand-partitioned price order, median = first price where
    2·cumweight ≥ total. The running sum accumulates in ascending
    price order on both engines, so the IEEE result is identical and
    the boundary compare is hash-stable. Per-brand sort is
    partition-local after one shuffle; a low-cardinality group column
    at extreme scale would take a two-level pre-agg (price-bucket then
    exact within the straddling bucket)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    v = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.col("l_extendedprice").alias("price"),
            F.col("l_quantity").alias("w"),
        )
        .groupBy("brand", "price")
        .agg(F.sum("w").alias("w"))
    )
    win = Window.partitionBy("brand").orderBy("price")
    tot = Window.partitionBy("brand")
    c = v.select(
        "brand",
        "price",
        F.sum("w").over(win).alias("cumw"),
        F.sum("w").over(tot).alias("totw"),
    )
    return (
        c.filter(F.col("cumw") * 2 >= F.col("totw"))
        .groupBy("brand")
        .agg(
            F.min("price").alias("weighted_median_price"),
            F.round(F.max("totw"), 2).alias("total_qty"),
        )
        .orderBy("brand")
    )


@query("feature_spine_join", headline=True)
def feature_spine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature assembly (the feature-store
    'spine join'): for every purchase event, the user's trailing-7-day
    event count and value sum plus the immediately preceding event
    type — no leakage from at-or-after the spine timestamp. One
    user-keyed shuffle serves all three features: a microsecond-epoch
    RANGE window frame [-7d, -1µs] and a lag over (ts, event_id). The
    value sum goes through DECIMAL so the frame's summation order
    can't produce engine-divergent floats."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        # ts loads as TIMESTAMP_NTZ; the session TZ is pinned UTC, so
        # the cast is the identity wall-clock -> epoch mapping DuckDB's
        # epoch_us applies to its naive timestamps
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("value").cast("decimal(18,6)").alias("dv"),
    )
    frame = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-7 * 24 * 3600 * 1000000, -1)
    )
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    feats = base.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.count("*").over(frame).alias("n_events_7d"),
        F.round(
            F.coalesce(F.sum("dv").over(frame), F.lit(0)).cast("double"), 6
        ).alias("sum_value_7d"),
        F.lag("event_type").over(order).alias("prev_event_type"),
    )
    return (
        feats.filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id", "ts", "n_events_7d", "sum_value_7d",
            "prev_event_type",
        )
        .orderBy("event_id")
    )


@query("km_churn_survival", headline=True)
def km_churn_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (public estimator,
    Kaplan & Meier 1958): per-user duration = days between first and
    last event; users still active in the final 7 days are censored,
    not churned. S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) computed as exp of an
    ordered ln-sum over the ≤31-row per-duration relation (the window
    runs post-aggregate, never over raw events), with an any-zero-
    factor guard because ln(0) is −inf in DuckDB but NULL in Spark.
    One user-grain rollup + one tiny windowed relation; the horizon is
    an in-plan 1-row broadcast (bnlj-1row pattern), no driver
    round-trip."""
    ev = load(spark, sf_dir, "events")
    h = ev.agg(F.max("ts").alias("mx"))
    pu = ev.groupBy("user_id").agg(
        F.min("ts").alias("f"), F.max("ts").alias("l")
    )
    d = pu.join(h).select(
        F.datediff(F.to_date("l"), F.to_date("f")).alias("duration"),
        F.when(
            F.col("l") < F.col("mx") - F.expr("INTERVAL 7 DAYS"), 1
        ).otherwise(0).alias("churn"),
    )
    t = d.groupBy("duration").agg(
        F.sum("churn").alias("d"), F.count("*").alias("c")
    )
    w_prev = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = t.select(
        "duration",
        "d",
        (
            F.sum("c").over(w_all)
            - F.coalesce(F.sum("c").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    factor_ln = F.log(
        F.when(
            F.col("d") < F.col("n_risk"),
            1.0 - F.col("d") / F.col("n_risk").cast("double"),
        ).otherwise(F.lit(1.0))
    )
    s = r.select(
        "duration",
        "d",
        "n_risk",
        F.max(
            F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
        ).over(w_cum).alias("anyzero"),
        F.sum(factor_ln).over(w_cum).alias("lnsum"),
    )
    return s.select(
        F.col("duration").alias("duration_days"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("churned"),
        F.round(
            F.when(F.col("anyzero") == 1, F.lit(0.0)).otherwise(
                F.exp("lnsum")
            ),
            6,
        ).alias("survival"),
    ).orderBy("duration_days")


@query("benford_price_audit", headline=True)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    classic fabricated-data screen for financial columns: observed
    first-significant-digit shares vs log10(1 + 1/d), with per-digit
    deviation. One scan + 9-group agg; the share window runs over the
    9-row aggregate."""
    o = load(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        ).cast("int").alias("digit")
    ).filter(F.col("digit").between(1, 9))
    per = digits.groupBy("digit").agg(F.count("*").alias("n"))
    w = Window.partitionBy()
    return per.select(
        "digit",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("observed_share"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias(
            "expected_share"
        ),
        F.round(
            F.col("n") / F.sum("n").over(w)
            - F.log10(1.0 + 1.0 / F.col("digit")),
            6,
        ).alias("deviation"),
    ).orderBy("digit")


@query("did_purchase_lift", headline=True)
def did_purchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of purchase-value lift: the
    deterministic md5 user split assigns treatment (same portable
    predicate family as ab_test_lift), the observation window halves
    into pre/post periods, and DiD = (T_post − T_pre) − (C_post −
    C_pre) over cell means — the causal-inference workhorse when
    randomization is doubtful. One scan into a 4-cell conditional
    aggregate; means divide exact DECIMAL sums so every cell is
    engine-identical."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    h = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    )
    base = ev.join(F.broadcast(h)).select(
        F.col("value").cast("decimal(18,6)").alias("v"),
        (
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
            < F.lit("8")
        ).alias("treated"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            >= (
                F.unix_micros(F.col("lo").cast("timestamp"))
                + F.unix_micros(F.col("hi").cast("timestamp"))
            ) / 2
        ).alias("post"),
    )

    def cell(t: bool, p: bool):
        c = (F.col("treated") == t) & (F.col("post") == p)
        s = F.sum(F.when(c, F.col("v"))).cast("double")
        n = F.sum(F.when(c, 1).otherwise(0))
        return s / n

    t_pre, t_post = cell(True, False), cell(True, True)
    c_pre, c_post = cell(False, False), cell(False, True)
    return base.agg(
        F.round(t_pre, 6).alias("treated_pre"),
        F.round(t_post, 6).alias("treated_post"),
        F.round(c_pre, 6).alias("control_pre"),
        F.round(c_post, 6).alias("control_post"),
        F.round((t_post - t_pre) - (c_post - c_pre), 6).alias("did_estimate"),
    )


@query("hourly_acf")
def hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function of the hourly event-count series
    at lags 1–24 — the seasonality detector behind every forecast
    choice (a spike at lag 24 says "daily cycle", feeding
    hourly_event_forecast's seasonal-naive baseline).  One corpus scan
    builds the hourly series (bounded by the time range, never by row
    count); the mean/denominator pass and the 24 lag self-joins all run
    on that tiny relation with the lag table broadcast.  ACF_k =
    Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)², pairs matched on exact
    epoch-hour arithmetic so missing hours never misalign lags."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("cnt"))
        .select(
            (F.unix_micros(F.col("h").cast("timestamp"))
             / F.lit(3600000000)).cast("long").alias("hidx"),
            F.col("cnt").cast("double").alias("cnt"),
        )
        # time-range-bounded and consumed four ways (mean, denominator,
        # both lag-join sides): checkpointed so the events scan +
        # hourly aggregate run once, not per consumer.
        .localCheckpoint(eager=False)
    )
    mu = hourly.agg(F.avg("cnt").alias("mu"))
    base = hourly.crossJoin(F.broadcast(mu)).select(
        "hidx", (F.col("cnt") - F.col("mu")).alias("dev")
    )
    den = base.agg(F.sum(F.col("dev") * F.col("dev")).alias("den"))
    lags = spark.range(1, 25).select(F.col("id").alias("lag"))
    a = base.alias("a")
    b = base.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("b.hidx") == F.col("a.hidx") + F.col("lag"),
        )
        .select("lag", (F.col("a.dev") * F.col("b.dev")).alias("prod"))
    )
    return (
        pairs.groupBy("lag")
        .agg(F.sum("prod").alias("num"), F.count("*").alias("n_pairs"))
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            F.round(F.col("num") / F.col("den"), 6).alias("acf"),
            "n_pairs",
        )
        .orderBy("lag")
    )


@query("cusum_changepoints")
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: S_t = Σ(x_i − μ)
    over the hourly count series, and the hour where |S_t| peaks is the
    most likely level-shift point (Page's cumulative-sum statistic —
    the standard "when did the rate change?" screen for a pipeline
    feed).  Hourly aggregation is the only corpus-scale pass; the
    cumulative window partitions by event type over the bounded hourly
    relation, in deterministic hour order, so the floating cumsum is
    engine-identical.  Peak ties break on the earlier hour."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("cnt"))
    mu = hourly.groupBy("event_type").agg(F.avg("cnt").alias("mu"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = (
        hourly.join(F.broadcast(mu), "event_type")
        .select(
            "event_type", "h", "mu",
            F.sum(F.col("cnt") - F.col("mu")).over(w_cum).alias("s"),
        )
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.col("h").asc()
    )
    return (
        s.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("h").alias("change_hour"),
            F.round("s", 6).alias("cusum_peak"),
            F.round("mu", 6).alias("mean_rate"),
        )
        .orderBy("event_type")
    )


@query("funnel_bypass_rate")
def funnel_bypass_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel-bypass audit (the sequenceMatch-negation shape ClickHouse
    writes as "purchase NOT preceded by view"): of users who purchased,
    how many made their first purchase with no earlier view event —
    the direct-buy / broken-instrumentation signal the ordered funnel
    (event_funnel) can't see because it only counts completions.  One
    conditional-min aggregate per user on a single user-keyed shuffle —
    no windows, no self-join; the summary is a broadcast-size rollup."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    buyers = per_user.filter(F.col("first_purchase").isNotNull()).select(
        (
            F.col("first_view").isNull()
            | (F.col("first_purchase") < F.col("first_view"))
        ).alias("direct")
    )
    return buyers.agg(
        F.count("*").alias("n_purchasers"),
        F.sum(F.when(F.col("direct"), 1).otherwise(0)).alias(
            "n_direct_buyers"
        ),
        F.round(
            F.sum(F.when(F.col("direct"), 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("bypass_rate"),
    )


@query("seasonal_decomposition")
def seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the hourly event series —
    trend (centered ±12h moving average) + day-of-week×hour seasonal
    profile + residual — surfacing the 20 most anomalous hours AFTER
    seasonality is explained away (the step beyond cusum_changepoints,
    which sees level shifts but calls every Friday peak an anomaly).
    The hourly relation is bounded by the time range, so the one
    unpartitioned trend window and the 168-key seasonal rollup never
    scale with row count; only the first aggregate scans the corpus.
    The trend divides an EXACT integer window sum by the window row
    count, so the only engine-order-sensitive float is the seasonal
    mean (rounded at 6 dp).  Calendar keys use pure epoch arithmetic
    (epoch-days mod 7 / epoch-hours mod 24), not engine calendar
    functions with different week conventions."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "h", "cnt",
            F.expr("(unix_micros(h) div 86400000000) % 7").alias("dow_idx"),
            F.expr("(unix_micros(h) div 3600000000) % 24").alias("hod"),
        )
    )
    w_tr = Window.orderBy("h").rowsBetween(-12, 12)
    with_trend = hourly.select(
        "h", "cnt", "dow_idx", "hod",
        (
            F.sum("cnt").over(w_tr).cast("double")
            / F.count("cnt").over(w_tr)
        ).alias("trend"),
    )
    seasonal = (
        with_trend.groupBy("dow_idx", "hod")
        .agg(F.avg(F.col("cnt") - F.col("trend")).alias("seasonal"))
    )
    return (
        with_trend.join(F.broadcast(seasonal), ["dow_idx", "hod"])
        .select(
            "h", "cnt",
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(
                F.col("cnt") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
        .orderBy(
            F.abs(F.col("cnt") - F.col("trend") - F.col("seasonal")).desc(),
            F.col("h").asc(),
        )
        .limit(20)
    )


@query("robust_outlier_days")
def robust_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier screen over daily event counts per
    type: z = 0.6745·(cnt − median)/MAD, the estimator a single crazy
    day cannot drag the way it drags a mean/stddev z-score — the
    standard feed-health alarm for pipeline volumes.  Day counts are
    one corpus-scale aggregate; both medians (exact, interpolated) and
    the z pass run on the bounded daily relation.  MAD=0 (a perfectly
    constant feed) yields no finite z and counts zero outliers."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("cnt"))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(cnt, 0.5)").alias("med")
    )
    mad = (
        daily.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(abs(cnt - med), 0.5)").alias("mad"),
            F.max("med").alias("med"),
        )
    )
    z = (
        daily.join(F.broadcast(mad), "event_type")
        .select(
            "event_type", "med", "mad",
            F.when(
                F.col("mad") > 0,
                F.lit(0.6745) * (F.col("cnt") - F.col("med")) / F.col("mad"),
            ).alias("z"),
        )
    )
    return (
        z.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.round(F.max("med"), 6).alias("median_cnt"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.abs(F.col("z")) > 3.5, 1).otherwise(0)
            ).alias("n_outliers"),
            F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


@query("poisson_bootstrap_ci")
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean purchase
    value — THE distributed bootstrap (each row's multiplicity in
    resample b is an independent Poisson(1) draw, so no resample ever
    needs a global pass): 64 deterministic resamples in ONE scan, each
    row expanding to 64 (b, weight) pairs via a codegen'd sequence —
    the weight comes from inverting the Poisson(1) CDF at an
    md5(event_id, b) uniform, so reruns, retries, and the DuckDB
    oracle all draw identical resamples.  Per-resample means divide an
    exact DECIMAL weighted sum (order-independent); the group count is
    fixed at 64, so partial aggregation reduces every partition to
    ≤64 rows before the only shuffle."""
    cdf = [
        (0, "0.36787944117144233"), (1, "0.7357588823428847"),
        (2, "0.9196986029286058"), (3, "0.9810118431238463"),
        (4, "0.9963401531726563"), (5, "0.9994058151824183"),
        (6, "0.999916758850712"), (7, "0.9999897508033253"),
        (8, "0.999998874797402"),
    ]
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    expanded = ev.select(
        F.col("event_id"),
        F.col("value").cast("decimal(18,6)").alias("x"),
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
    ).select(
        "b", "x",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws("-", F.col("event_id"), F.col("b"))
                    ),
                    1, 4,
                ),
                16, 10,
            ).cast("double")
            / F.lit(65536.0)
        ).alias("u"),
    )
    w = F.lit(9)
    for k, c in reversed(cdf):
        w = F.when(F.col("u") < F.expr(c), F.lit(k)).otherwise(w)
    means = (
        expanded.select("b", "x", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("x") * F.col("w")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .select(
            (F.col("swx").cast("double") / F.col("sw")).alias("m")
        )
    )
    return means.agg(
        F.count("*").alias("n_resamples"),
        F.round(F.avg("m"), 6).alias("boot_mean"),
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
    )


@query("parquet_layout_audit", headline=True)
def parquet_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout audit of the fact table's parquet footers:
    per-column row-group count, value count, compressed/uncompressed
    bytes, and compression ratio — the table a storage-cost review
    reads before choosing sort keys or re-encoding.  Footer-only I/O:
    at 100 TB (~1M files) the audit is a distributed footer scan
    (mapInPandas over the file listing, one ranged read per file);
    no data page is ever touched.  The oracle is DuckDB's own
    parquet_metadata() over the same file — two independent footer
    parsers agreeing on every byte count."""
    from nabatshy_spark.sources.layout import column_layout_report

    return column_layout_report(
        spark, os.path.join(sf_dir, "lineitem.parquet")
    )


@query("partition_size_advisor", headline=True)
def partition_size_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition/file-size advisor over every catalog table, computed
    from parquet FOOTERS only: rows, bytes, average row width, and the
    128 MiB-target partition count a scan of each table should plan
    for (the number that sizes spark.sql.files.maxPartitionBytes /
    shuffle partitions before a job ever runs).  One catalog-wide
    footer scan (every file tagged with its table) feeds a single
    groupBy(tbl) — one job and one exchange regardless of table
    count; at 100 TB the advisor costs minutes of footer reads, not
    a data scan.
    Oracle: DuckDB's parquet_file_metadata + parquet_metadata, an
    independent footer parser agreeing on every count."""
    from nabatshy_spark.catalog import TABLES
    from nabatshy_spark.sources.layout import catalog_footer_summary

    per_file = catalog_footer_summary(
        spark,
        {t: os.path.join(sf_dir, f"{t}.parquet") for t in TABLES},
    )
    union = per_file.groupBy("tbl").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("compressed_bytes").cast("long").alias("compressed_bytes"),
    )
    return union.select(
        "tbl", "n_files", "n_rows", "compressed_bytes",
        F.round(
            F.col("compressed_bytes") / F.col("n_rows").cast("double"), 6
        ).alias("avg_row_bytes"),
        F.greatest(
            F.lit(1),
            F.ceil(F.col("compressed_bytes") / F.lit(134217728.0)),
        ).cast("long").alias("partitions_at_128mb"),
    ).orderBy("tbl")


@query("l_diversity_audit", headline=True)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007), the companion
    check k-anonymity misses: an equivalence class can be large (k-safe)
    yet expose its members because every row shares ONE sensitive
    value. Quasi-identifiers = nation × $1000 balance bucket; sensitive
    attribute = market segment; a class is at risk when it carries
    fewer than l=3 distinct segments. Output is the diversity
    histogram. Scale shape mirrors k_anonymity_audit: one exact
    distinct-count agg over the QI key (a single EXPAND-free shuffle —
    count_distinct of ONE column plans as two-level partial agg), then
    a second agg over the tiny class relation."""
    cust = load(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    ).agg(
        F.count("*").alias("k"),
        F.count_distinct("c_mktsegment").alias("ldiv"),
    )
    return (
        g.groupBy(F.col("ldiv").alias("diversity"))
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("k").alias("n_rows"),
        )
        .select(
            "diversity",
            "n_groups",
            "n_rows",
            (F.col("diversity") < 3).alias("at_risk"),
        )
        .orderBy("diversity")
    )


@query("customer_reorder_intervals", headline=True)
def customer_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder-cadence distribution per market segment: the gap in
    days between a customer's consecutive orders, rolled up to
    per-segment count / exact quartiles / mean — the replenishment
    signal inventory planning reads. One (custkey) window ordered by
    date computes the lag gap (single shuffle keyed by customer), then
    a tiny per-segment aggregate; gaps are integer days so the
    quartiles are engine-exact."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    cust = F.broadcast(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    gaps = (
        orders.withColumn("__prev", F.lag("o_orderdate").over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            "o_custkey",
            F.datediff("o_orderdate", "__prev").cast("double").alias("__gap"),
        )
    )
    return (
        gaps.join(cust, gaps.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_gaps"),
            F.round(F.percentile("__gap", F.lit(0.25)), 6).alias("p25_days"),
            F.round(F.percentile("__gap", F.lit(0.5)), 6).alias(
                "median_days"
            ),
            F.round(F.percentile("__gap", F.lit(0.75)), 6).alias("p75_days"),
            F.round(F.avg("__gap"), 6).alias("mean_days"),
        )
        .orderBy("segment")
    )


@query("supplier_scorecard", headline=True)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier reliability scorecard — the vendor-review rollup:
    line volume, DECIMAL-exact revenue, return rate, average discount
    given, and average order-to-ship lag, top 25 suppliers by revenue.
    One fact pass with every metric as a conditional aggregate; orders
    pre-shrinks to (orderkey, orderdate) before the join and the
    supplier dim broadcasts — the fact table shuffles once, keyed by
    supplier."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supp = F.broadcast(
        load(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey"
        )
    )
    per = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(28,6)")
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.round(
                F.avg((F.col("l_returnflag") == "R").cast("int")), 6
            ).alias("return_rate"),
            F.round(F.avg("l_discount"), 6).alias("avg_discount"),
            F.round(
                F.avg(F.datediff("l_shipdate", "o_orderdate")), 6
            ).alias("avg_ship_lag_days"),
        )
    )
    return (
        per.join(supp, per.l_suppkey == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("suppkey"),
            "s_name",
            "n_lines",
            "revenue",
            "return_rate",
            "avg_discount",
            "avg_ship_lag_days",
        )
        .orderBy(F.col("revenue").desc(), F.col("suppkey").asc())
        .limit(25)
    )


@query("discount_elasticity_by_brand", headline=True)
def discount_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-vs-discount response per brand — the pricing-analytics
    regression (does a deeper discount move more units?): per-brand
    regr_slope / corr / count over the lineitem⋈part scan. Built-in
    regression aggregates (one pass, partial-combined, same family as
    the Zipf/Heaps fits); the part dim broadcasts."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_discount").cast("double").alias("x"),
        F.col("l_quantity").cast("double").alias("y"),
    )
    part = F.broadcast(
        load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    )
    return (
        li.join(part, li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.expr("regr_slope(y, x)"), 6).alias("qty_per_discount"),
            F.round(F.expr("corr(y, x)"), 6).alias("correlation"),
            F.round(F.avg("y"), 6).alias("avg_qty"),
        )
        .orderBy("brand")
    )


@query("user_lifecycle_states", headline=True)
def user_lifecycle_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting (the product-analytics state machine):
    for every active day, how many users were NEW (first-ever day),
    RETAINED (also active the previous day), RESURRECTED (returning
    after a gap), and how many CHURNED out of the previous day (active
    yesterday, silent today). One (user, day) distinct, one user-keyed
    lag/lead window — a single shuffle keyed by user — then a tiny
    per-day conditional aggregate; churn attributes to the day after
    the last active day and the corpus's final day never charges churn
    (right-censored, same convention as the KM survival query). All
    counts are integers over date arithmetic: engine-exact."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    bounds = ev.agg(F.max("d").alias("__maxd"))
    w = Window.partitionBy("user_id").orderBy("d")
    marked = (
        ev.withColumn("__prev", F.lag("d").over(w))
        .withColumn("__next", F.lead("d").over(w))
        .join(F.broadcast(bounds))
    )
    states = marked.select(
        F.col("d").alias("day"),
        F.when(F.col("__prev").isNull(), F.lit("new"))
        .when(F.datediff("d", "__prev") == 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("state"),
    )
    churn = marked.filter(
        (F.col("d") < F.col("__maxd"))
        & (
            F.col("__next").isNull()
            | (F.datediff("__next", "d") > 1)
        )
    ).select(
        F.date_add("d", 1).alias("day"), F.lit("churned").alias("state")
    )
    return (
        states.unionByName(churn)
        .groupBy("day")
        .agg(
            F.sum((F.col("state") == "new").cast("int")).alias("n_new"),
            F.sum((F.col("state") == "retained").cast("int")).alias(
                "n_retained"
            ),
            F.sum((F.col("state") == "resurrected").cast("int")).alias(
                "n_resurrected"
            ),
            F.sum((F.col("state") == "churned").cast("int")).alias(
                "n_churned"
            ),
        )
        .orderBy("day")
    )


@query("hll_user_rollup", headline=True)
def hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users from UNIONED per-day HLL sketches
    (operators/sketches.hll_rollup): the mergeable-sketch pre-agg that
    answers any day-range distinct without rescanning the fact table.
    Rows-only (DataSketches estimates aren't reproducible in DuckDB);
    the unit test pins estimate(union(daily)) == estimate(direct) and
    ±2% accuracy vs exact."""
    return sketches.hll_rollup(
        load(spark, sf_dir, "events"), "ts", "user_id"
    )


@query("cohort_ltv_curve", headline=True)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    quarter, revenue accumulated by quarter-age — the curve a growth
    team reads to compare cohort quality at equal age.  First-order
    quarter via groupBy-min broadcast back onto the orders scan (no
    full-history window); the cumulative sum is a window over the
    (cohort, age) AGGREGATE (|cohorts|×|ages| rows), never the fact
    table."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        F.date_trunc("quarter", "o_orderdate").cast("date").alias("oq"),
    )
    first = o.groupBy("o_custkey").agg(F.min("oq").alias("cohort_q"))
    aged = o.join(F.broadcast(first), "o_custkey").select(
        "cohort_q",
        "o_totalprice",
        (
            (F.year("oq") - F.year("cohort_q")) * 4
            + (F.quarter("oq") - F.quarter("cohort_q"))
        ).alias("age_q"),
    )
    agg = aged.groupBy("cohort_q", "age_q").agg(
        F.sum("o_totalprice").alias("__rev")
    )
    w = (
        Window.partitionBy("cohort_q")
        .orderBy("age_q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cohort_sizes = first.groupBy("cohort_q").agg(
        F.count("*").alias("n_customers")
    )
    return (
        agg.withColumn("__cum", F.sum("__rev").over(w))
        .join(F.broadcast(cohort_sizes), "cohort_q")
        .select(
            "cohort_q",
            "age_q",
            "n_customers",
            F.round("__rev", 2).alias("revenue"),
            F.round("__cum", 2).alias("cum_revenue"),
        )
        .orderBy("cohort_q", "age_q")
    )


# Columns profiled by column_stats_profile — the CBO statistics set
# (ndv / nulls / min / max) for the lineitem fact table.
_STATS_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
]


@query("column_stats_profile", headline=True)
def column_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics for the lineitem fact table:
    exact distinct count, null count, min and max per column (as
    strings, one row per column) — the statistics a cost-based
    optimizer's join-ordering and selectivity estimates feed on.

    Shape: one single-column aggregate PER column, unioned — NOT one
    multi-aggregate pass. k exact count-distincts in one agg trigger
    Catalyst's EXPAND ×(k+1) (every fact row replicated 9× here —
    measured 17 s vs 2 s at sf0.1; the profile_orders lesson), while
    per-column branches each scan ONE parquet column (column pruning
    ⇒ ~1/11 of the bytes) with an ordinary two-phase partial distinct.
    The approx twin at 100 TB swaps count_distinct for
    approx_count_distinct in a genuinely single pass (see
    profile_orders_approx) — this is the exact form the audit gate
    uses.

    Float min/max are rendered through DECIMAL(38,6), not a direct
    cast-to-string: shortest-roundtrip double printing (Java
    Double.toString vs DuckDB's float formatter) is not contractually
    identical across engines, exactly the hazard table_checksum_audit
    excludes floats for — fixed-point rendering is."""
    li = load(spark, sf_dir, "lineitem")
    dtypes = dict(li.dtypes)
    outs = []
    for c in _STATS_COLS:
        if dtypes[c] in ("double", "float"):
            min_s = F.min(c).cast("decimal(38,6)").cast("string")
            max_s = F.max(c).cast("decimal(38,6)").cast("string")
        else:
            min_s = F.min(c).cast("string")
            max_s = F.max(c).cast("string")
        outs.append(
            li.select(c).agg(
                F.lit(c).alias("col_name"),
                F.countDistinct(c).alias("ndv"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                    "n_nulls"
                ),
                min_s.alias("min_value"),
                max_s.alias("max_value"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("col_name")


# (table, integer/string columns folded into the checksum) — float
# columns are excluded on purpose: shortest-roundtrip float printing
# is not contractually identical across engines, and a checksum must
# never be "close".
_CHECKSUM_TABLES = [
    ("region", ["r_regionkey", "r_name"]),
    ("nation", ["n_nationkey", "n_name", "n_regionkey"]),
    ("customer", ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]),
    ("supplier", ["s_suppkey", "s_name", "s_nationkey"]),
    ("part", ["p_partkey", "p_name", "p_brand", "p_type", "p_size"]),
]


@query("table_checksum_audit", headline=True)
def table_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable table checksums — the replication/migration
    verification primitive: per table, the row count and an
    ORDER-INSENSITIVE content checksum (sum over rows of the first 32
    md5 bits of the '|'-joined key/string columns).  Two copies of a
    table on different engines (here: Spark vs the DuckDB oracle) agree
    iff counts and checksums agree — no row-by-row diff, no sort.

    Scale shape: one scan per table, all partial-aggregated (each task
    contributes one running sum); the checksum never shuffles row data.
    md5 rather than xxhash64 because the checksum must be identical
    ACROSS engines, not merely within Spark."""
    outs = []
    for tname, cols in _CHECKSUM_TABLES:
        t = load(spark, sf_dir, tname)
        row_hash = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        outs.append(
            t.agg(
                F.lit(tname).alias("table_name"),
                F.count("*").alias("n_rows"),
                F.sum(row_hash).alias("checksum"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("table_name")


@query("pareto_suppliers", headline=True)
def pareto_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) preference query over the per-supplier
    aggregate: suppliers not dominated on (revenue ↑, return_rate ↓) —
    no other supplier has ≥ revenue AND ≤ return rate with one strict.
    The preference-query operator class (Börzsönyi et al., ICDE 2001)
    the plain top-N surface can't express: "best tradeoffs", not "best
    single metric".

    2-D skyline = the staircase scan: collapse to distinct revenue
    levels with each level's min return rate, running-min over levels
    sorted by revenue desc gives the best rate among strictly-richer
    suppliers; dominated iff that min ≤ own rate, or a same-revenue
    supplier has a strictly lower rate. The running-min goes through
    stats.running_min_prev_ordered's TWO-PHASE form — the level
    relation is ≤|suppliers|, a dimension that grows with the data,
    so the staircase never sorts on one task. Revenue compares as the
    exact DECIMAL sum; rates compare after the same 6-decimal rounding
    both engines apply."""
    from nabatshy_spark.operators.stats import running_min_prev_ordered

    li = load(spark, sf_dir, "lineitem")
    sup = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(28,6)"
            )
        ).alias("__rev"),
        F.round(
            F.avg((F.col("l_returnflag") == "R").cast("int")), 6
        ).alias("return_rate"),
    )
    lvl = running_min_prev_ordered(
        sup.groupBy("__rev").agg(F.min("return_rate").alias("__lvl_min")),
        [F.col("__rev").desc()],
        "__lvl_min",
        force="twophase",
    ).withColumnRenamed("__prevmin", "__runmin_prev")
    supplier = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    return (
        sup.join(lvl, "__rev")
        .filter(
            (
                F.col("__runmin_prev").isNull()
                | (F.col("__runmin_prev") > F.col("return_rate"))
            )
            & (F.col("__lvl_min") >= F.col("return_rate"))
        )
        .join(F.broadcast(supplier), "suppkey")
        .select(
            "suppkey",
            "s_name",
            F.round(F.col("__rev").cast("double"), 2).alias("revenue"),
            "return_rate",
        )
        .orderBy(F.col("revenue").desc(), F.col("suppkey").asc())
    )


@query("join_size_estimate", headline=True)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join cardinality estimation (sketches.
    cms_inner_product — Cormode-Muthukrishnan count-min inner product):
    estimate |events ⋈ orders| on the user key (user_id ≡ o_custkey
    mod 150, the repo's standing mapping) from two 4×512 sketches,
    never joining the tables — the cost-based-optimizer primitive
    behind join ordering and broadcast decisions. The estimate is
    min over hash rows of Σ_col cmsA·cmsB; collisions only add, so
    est ≥ true always (and the oracle REBUILDS both sketches, so
    construction and estimator are both checked). The true size rides
    along from the per-key frequency join (Σ f_A·f_B — itself never a
    row-level join) to make the demo self-grading.

    Scale: each side is one scan + a d·w-cell agg; the estimator is
    O(d·w). The exact twin shuffles both tables' distinct keys; this
    shuffles 2048 cells. Width trades space for bound: the expected
    overshoot here is ~|keys|/width (150/512 ≈ 30%), and the min over
    4 rows lands tighter."""
    from nabatshy_spark.operators import sketches

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key")
    )
    od = load(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 150).cast("string").alias("key")
    )
    est = (
        sketches.cms_inner_product(ev, od, "key", depth=4, width=512)
        .agg(F.min("est").alias("cms_estimate"))
    )
    fa = ev.groupBy("key").agg(F.count("*").alias("fa"))
    fb = od.groupBy("key").agg(F.count("*").alias("fb"))
    true = fa.join(fb, "key").agg(
        F.sum(F.col("fa") * F.col("fb")).alias("true_join_size")
    )
    return est.join(F.broadcast(true)).select(
        "true_join_size",
        "cms_estimate",
        F.round(
            (F.col("cms_estimate") - F.col("true_join_size"))
            / F.col("true_join_size")
            * 100,
            4,
        ).alias("overest_pct"),
    )


# (table, string column) pairs the dictionary-encoding advisor profiles.
_DICT_COLS = [
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("customer", "c_mktsegment"),
    ("customer", "c_name"),
    ("part", "p_brand"),
    ("part", "p_type"),
    ("part", "p_name"),
    ("lineitem", "l_returnflag"),
    ("lineitem", "l_linestatus"),
]


@query("dictionary_encoding_advisor", headline=True)
def dictionary_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout advisor for string columns: per column, the
    cardinality, average length, estimated plain-encoding bytes
    (Σ len) vs dictionary-encoding bytes (Σ distinct len + n·⌈log₂
    ndv⌉/8 index bits), and the verdict — the parquet-encoding
    decision a 100 TB layout job makes per column (complements
    parquet_layout_audit's file-level view with column-level encoding
    economics).

    Scale: ONE pruned scan per TABLE (not one scan + two exchanges per
    COLUMN): each table's profiled columns are stacked
    into (column_name, value) rows — same total bytes as the former
    per-column scans, since a columnar scan of k columns reads exactly
    what k single-column scans read — then a single
    groupBy(column_name, value) with map-side partial aggregation
    collapses each task to its local per-column vocabulary before the
    ONE shuffle, and every statistic falls out of the (column, value,
    count) relation in one dimension-sized aggregate: n_rows = Σ count,
    plain bytes = Σ len·count, ndv = |groups|, dictionary payload =
    Σ len. Identical integers to the per-column form (rows-equal
    asserted before the rewrite landed): stack keeps NULL values as
    rows, so NULL groups count toward n_rows and ndv exactly as
    before, and length(NULL) drops out of both byte sums. The literal
    column-name spine (left join) preserves the empty-table contract —
    a column with no rows still reports n_rows = 0, ndv = 0; its
    nullability is declared so the output schema is
    unchanged."""
    from pyspark.sql.types import StringType, StructField, StructType

    by_table: dict[str, list[str]] = {}
    for tname, c in _DICT_COLS:
        by_table.setdefault(tname, []).append(c)
    parts = []
    for tname, cols in by_table.items():
        args = ", ".join(f"'{tname}.{c}', {c}" for c in cols)
        parts.append(
            load(spark, sf_dir, tname)
            .select(*cols)
            .select(
                F.expr(f"stack({len(cols)}, {args})").alias(
                    "column_name", "__v"
                )
            )
        )
    stacked = parts[0]
    for p in parts[1:]:
        stacked = stacked.unionByName(p)
    g = stacked.groupBy("column_name", "__v").agg(F.count("*").alias("__n"))
    stats = g.groupBy("column_name").agg(
        F.sum("__n").alias("__nr"),
        F.count("*").alias("__ndv"),
        F.sum(F.length("__v") * F.col("__n")).alias("plain_bytes"),
        # Dictionary payload = Σ length over DISTINCT VALUES (what
        # the dictionary page stores).
        F.sum(F.length("__v")).alias("__payload"),
    )
    spine = spark.createDataFrame(
        [(f"{t}.{c}",) for t, c in _DICT_COLS],
        StructType([StructField("column_name", StringType(), False)]),
    )
    bits = F.ceil(F.log2(F.col("ndv")))
    return (
        spine.join(stats, "column_name", "left")
        .select(
            "column_name",
            F.coalesce(F.col("__nr"), F.lit(0)).alias("n_rows"),
            F.coalesce(F.col("__ndv"), F.lit(0)).alias("ndv"),
            "plain_bytes",
            "__payload",
        )
        .select(
            "column_name",
            "n_rows",
            "ndv",
            F.round(F.col("plain_bytes") / F.col("n_rows"), 2).alias(
                "avg_len"
            ),
            "plain_bytes",
            (
                F.col("__payload") + F.floor((F.col("n_rows") * bits + 7) / 8)
            ).cast("long").alias("dict_bytes"),
        )
        .select(
            "*",
            F.when(F.col("dict_bytes") < F.col("plain_bytes"), "dict")
            .otherwise("plain")
            .alias("recommend"),
        )
        .orderBy("column_name")
    )


@query("weighted_percentiles_brand", headline=True)
def weighted_percentiles_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price percentiles per brand (p25/p50/p75/p90):
    the smallest extended price whose cumulative quantity share reaches
    p — the general weighted-quantile operator (weighted_median_price
    is its single-quantile global special case), the per-unit-weighted
    distribution view plain percentiles (which weight each ORDER LINE
    equally) misstate.

    Scale: collapse to distinct (brand, price) levels first — the
    windows then run over the LEVEL relation, bounded by price
    cardinality, not fact rows; one shuffle on brand. Cumulative
    comparisons are double ops on integer-valued quantities — exact
    and engine-identical."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_extendedprice").alias("__price"),
        F.col("l_quantity").alias("__w"),
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lv = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "__price")
        .agg(F.sum("__w").alias("__w"))
    )
    w = Window.partitionBy("p_brand").orderBy("__price")
    w_full = Window.partitionBy("p_brand")
    cum = lv.withColumn(
        "__cum",
        F.sum("__w").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("__tot", F.sum("__w").over(w_full))
    aggs = [
        F.round(
            F.min(
                F.when(
                    F.col("__cum") >= F.lit(pq) * F.col("__tot"),
                    F.col("__price"),
                )
            ),
            2,
        ).alias(name)
        for pq, name in [(0.25, "p25"), (0.5, "p50"), (0.75, "p75"), (0.9, "p90")]
    ]
    return cum.groupBy("p_brand").agg(*aggs).orderBy("p_brand")


@query("event_value_twap", headline=True)
def event_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (TWAP): each event's
    value holds until the user's next event, so the average weighs
    values by HOW LONG they were in force, not how often they were
    sampled — the metric plain avg() misstates whenever emission rate
    correlates with value (bursty sessions). The plain average rides
    along to make the bias visible.

    Scale: one shuffle on user_id, a lead() window per user (sorted
    within user only), then an ordinary per-type aggregate. Durations
    are exact int64 microseconds; only the final ratio rounds."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__us"),
    )
    w = Window.partitionBy("user_id").orderBy("__us", "event_id")
    held = (
        ev.withColumn("__nxt", F.lead("__us").over(w))
        .filter(F.col("__nxt").isNotNull())
        .withColumn("__dur", F.col("__nxt") - F.col("__us"))
    )
    return (
        held.groupBy("event_type")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("__dur").alias("held_us"),
            F.round(
                F.sum(F.col("value") * F.col("__dur")) / F.sum("__dur"), 6
            ).alias("twap"),
            F.round(F.avg("value"), 6).alias("plain_avg"),
        )
        .orderBy("event_type")
    )


@query("part_abc_classes", headline=True)
def part_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto-class) analysis of parts by revenue: sort parts by
    revenue descending, classify by cumulative share — A up to 80%,
    B up to 95%, C the tail — the inventory-policy classification
    behind "which 20% of parts earn 80% of revenue". Complements
    pareto_suppliers (a 2-D skyline) with the 1-D cumulative-share
    classing warehouses actually run.

    Scale: the fact table collapses to one row per part FIRST (the
    only full shuffle); the cumulative share then runs through
    stats.cumulative_sum_ordered's TWO-PHASE partitioned prefix sum —
    range-partition on (revenue desc, partkey), per-partition running
    sums, broadcast prefix offsets — never a global-order window,
    because the part dimension at production scale (~20B parts at
    100×) cannot sort on one task. The (rev, partkey) order is total,
    so the two-phase result is bit-identical to the single-sort form
    (differential unit in test_round8_ops). Revenue sums are exact
    DECIMAL; shares round after the cumulative division."""
    from nabatshy_spark.operators.stats import cumulative_sum_ordered

    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(28,6)"
            )
        ).alias("__rev")
    )
    classed = (
        cumulative_sum_ordered(
            per_part,
            [F.col("__rev").desc(), F.col("l_partkey").asc()],
            "__rev",
            force="twophase",
        )
        .withColumn("__share", F.col("__cum") / F.col("__tot"))
        .withColumn(
            "abc_class",
            F.when(F.col("__share") <= 0.80, "A")
            .when(F.col("__share") <= 0.95, "B")
            .otherwise("C"),
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(
                (F.sum("__rev") / F.max("__tot")).cast("double") * 100, 4
            ).alias("revenue_share_pct"),
        )
        .orderBy("abc_class")
    )


# Static price bands for the PSI drift bins — fixed edges (not
# quantiles) so bin membership is engine-identical and stable across
# scale factors, the way a production drift monitor pins its bins at
# model-training time.
_PSI_EDGES = [50_000, 100_000, 150_000, 200_000, 300_000]


@query("psi_order_value_drift", headline=True)
def psi_order_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution per
    year against the first year — THE production-ML drift gate for
    numeric features (PSI < 0.1 stable, 0.1-0.25 drifting, > 0.25
    retrain). Complements the text-side drift family (ks_source_drift,
    source_kl_drift) with the binned-numeric form monitors actually
    run: fixed price bands, Laplace-smoothed proportions, Σ (p−q)·ln(p/q).

    Scale: one scan → (year, band) counts (a dimension-sized
    aggregate); the PSI algebra runs on |years|×|bands| rows. Bands are
    static so the monitor never recomputes quantiles on 100 TB."""
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"), F.col("o_totalprice").alias("__p")
    )
    bucket = F.lit(len(_PSI_EDGES))
    for i, e in enumerate(reversed(_PSI_EDGES)):
        bucket = F.when(
            F.col("__p") < e, len(_PSI_EDGES) - 1 - i
        ).otherwise(bucket)
    # No localCheckpoint on this |years|×|bands| relation: measured
    # solo 0.57 → 0.72 s with one. The three orders scans it would save
    # are tiny and run CONCURRENTLY on idle cores, while the checkpoint
    # serializes a materialize-then-compute barrier (same finding as
    # dup_ngram_coverage).
    counts = o.withColumn("__b", bucket).groupBy("yr", "__b").agg(
        F.count("*").alias("__n")
    )
    years = counts.select("yr").distinct()
    bins = spark.range(len(_PSI_EDGES) + 1).select(F.col("id").alias("__b"))
    full = (
        years.crossJoin(F.broadcast(bins))
        .join(counts, ["yr", "__b"], "left")
        .withColumn("__n", F.coalesce("__n", F.lit(0)))
    )
    n_bins = len(_PSI_EDGES) + 1
    tot = Window.partitionBy("yr")
    props = full.withColumn(
        "__prop",
        (F.col("__n") + 0.5) / (F.sum("__n").over(tot) + 0.5 * n_bins),
    )
    base_yr = props.agg(F.min("yr").alias("__by"))
    base = (
        props.join(F.broadcast(base_yr), props.yr == F.col("__by"))
        .select(F.col("__b"), F.col("__prop").alias("__q"))
    )
    return (
        props.join(base, "__b")
        .groupBy("yr")
        .agg(
            F.sum("__n").alias("n_orders"),
            F.round(
                F.sum(
                    (F.col("__prop") - F.col("__q"))
                    * F.log(F.col("__prop") / F.col("__q"))
                ),
                6,
            ).alias("psi"),
        )
        .orderBy("yr")
    )


@query("supplier_single_source_risk", headline=True)
def supplier_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source supply risk: for each part, the share of its
    shipped quantity coming from its TOP supplier, banded into risk
    classes (≥90% sole-sourced / 60-90% concentrated / <60%
    diversified) — the procurement-risk audit a supply-chain team runs
    before a capacity shock; complements supplier_concentration
    (market-level HHI) with the per-part sourcing view.

    Scale: one (part, supplier) rollup — the only fact shuffle — then
    a per-part max/sum over the rollup (bounded by |parts|·|suppliers
    per part|); the band histogram is 3 rows."""
    li = load(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("__q")
    )
    per_part = ps.groupBy("l_partkey").agg(
        F.max("__q").alias("__top"),
        F.sum("__q").alias("__tot"),
        F.count("*").alias("n_suppliers"),
    )
    banded = per_part.withColumn(
        "__share", F.col("__top") / F.col("__tot")
    ).withColumn(
        "risk_band",
        F.when(F.col("__share") >= 0.9, "sole_sourced")
        .when(F.col("__share") >= 0.6, "concentrated")
        .otherwise("diversified"),
    )
    return (
        banded.groupBy("risk_band")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("__share"), 6).alias("avg_top_share"),
            F.round(F.avg("n_suppliers"), 4).alias("avg_suppliers"),
        )
        .orderBy("risk_band")
    )


@query("percentile_accuracy_audit", headline=True)
def percentile_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-grading calibration of the approx-percentile switch: per
    event type, exact p50/p95/p99 of value next to
    ``approx_percentile`` at the default accuracy, with the worst
    relative error — the number that justifies (or vetoes) swapping
    F.percentile for the sketch at 100 TB (SURVEY §2.4 A3 documents
    the switch; this query measures what it costs). Rows-only by
    design: the sketch's estimates are engine-specific, so there is no
    cross-engine oracle — the exact percentiles ARE the in-row ground
    truth, which is stronger than an external oracle could be.

    Scale: the exact side is the expensive one (full sort per group) —
    at 100 TB only the approx side runs and this audit runs on a
    sample; both sides here are one grouped aggregate."""
    ev = load(spark, sf_dir, "events")
    pcts = [0.5, 0.95, 0.99]
    exact = [
        F.round(F.expr(f"percentile(value, {p})"), 6).alias(
            f"exact_p{int(p * 100)}"
        )
        for p in pcts
    ]
    approx = [
        F.round(F.expr(f"approx_percentile(value, {p})"), 6).alias(
            f"approx_p{int(p * 100)}"
        )
        for p in pcts
    ]
    out = ev.groupBy("event_type").agg(*exact, *approx)
    rel_errs = [
        F.abs(
            F.col(f"approx_p{int(p * 100)}") - F.col(f"exact_p{int(p * 100)}")
        )
        / F.abs(F.col(f"exact_p{int(p * 100)}"))
        for p in pcts
    ]
    return (
        out.withColumn("max_rel_err", F.round(F.greatest(*rel_errs), 6))
        .orderBy("event_type")
    )


@query("sales_rollup_cube", headline=True)
def sales_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS surface (§2.7 generalization): order counts and
    revenue by (year, status) with ROLLUP — subtotal rows per year and
    a grand total, each tagged by grouping_id so consumers can tell a
    NULL group from a subtotal. The operator class OLAP cubes are made
    of; Spark evaluates all grouping sets in one Expand+Aggregate pass
    (one scan, one shuffle), not one job per set.

    NAMING NOTE: despite the historical name this
    computes ROLLUP, not CUBE — the hierarchy-shaped subset of
    grouping sets ((yr,status),(yr),()). The registry's true CUBE
    (every subset, including (status)-only) is ``cube_pricing``. The
    name is kept because the external correctness evidence chain
    (CORRECTNESS_r08, staleness ledger) is keyed by it.

    Scale: output is |years|×|statuses| + |years| + 1 rows —
    dimension-bounded however large the fact table."""
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("price"),
    )
    return (
        o.rollup("yr", "status")
        .agg(
            # grouping_id must live INSIDE the aggregate (it reads the
            # Expand node's spark_grouping_id, which a later select no
            # longer sees).
            F.grouping_id("yr", "status").alias("grouping_lvl"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("price").cast("double"), 2).alias("revenue"),
        )
        .select("yr", "status", "grouping_lvl", "n_orders", "revenue")
        .orderBy("grouping_lvl", "yr", "status")
    )


@query("orders_pivot_status_by_year", headline=True)
def orders_pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT reshaping: one row per year, one column per order status
    (long→wide). The pivot values are pinned explicitly — at 100 TB an
    unpinned pivot needs a distinct-scan planning pass AND an unpinned
    output schema, both of which a production job avoids by declaring
    its columns. One scan, one shuffle of |years| groups."""
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"), "o_orderstatus"
    )
    return (
        o.groupBy("yr")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))  # count("*") star is invalid inside Pivot
        .select(
            "yr",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
        .orderBy("yr")
    )


@query("part_size_price_unpivot", headline=True)
def part_size_price_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (wide→long): per-brand averages of two numeric part
    attributes unpivoted to (brand, attribute, avg_value) rows — the
    reshaping step feature stores and long-format exporters run.
    Aggregate FIRST, melt the |brands|×2 result (`stack` is evaluated
    on the dimension-sized aggregate, never on fact rows)."""
    p = load(spark, sf_dir, "part")
    per_brand = p.groupBy("p_brand").agg(
        F.round(F.avg("p_size"), 6).alias("avg_size"),
        F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
    )
    return per_brand.selectExpr(
        "p_brand",
        "stack(2, 'avg_size', avg_size, 'avg_price', avg_price)"
        " as (attribute, avg_value)",
    ).orderBy("p_brand", "attribute")


# Static price bands — pinned edges (a production banding table), the
# small side of the non-equi range join below.
_PRICE_BANDS = [
    ("budget", 0.0, 950.0),
    ("mid", 950.0, 1400.0),
    ("premium", 1400.0, 1800.0),
    ("luxury", 1800.0, 10_000.0),
]


@query("range_join_price_bands", headline=True)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi RANGE join: parts classified into static price bands by
    ``lo <= price < hi`` — the interval-lookup join class (banding,
    rate tables, SCD date ranges). The band table is tiny and
    DELIBERATELY broadcast: a broadcast-nested-loop over 4 rows per
    probe is the right physical plan for an interval lookup whose small
    side cannot equi-hash (the plan-audit BNLJ exception, like the
    1-row grand-total joins). If the band table ever grew data-sized,
    the rewrite is binning the probe side to the band key (a CASE
    expression or width_bucket) and equi-joining.

    Scale: one scan of part, zero shuffle (broadcast + partial agg to
    |bands| rows)."""
    bands = spark.createDataFrame(
        _PRICE_BANDS, "band string, lo double, hi double"
    )
    p = load(spark, sf_dir, "part")
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band", "lo", "hi")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
        )
        .orderBy("lo")
    )


@query("supplier_balance_quartiles", headline=True)
def supplier_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile segmentation: suppliers cut into account-balance
    quartiles by RANK ARITHMETIC (ceil(4·rank/n) over a total order —
    engine-portable, unlike ntile whose remainder-distribution rule
    differs across engines), then per-quartile stats. The rank comes
    from stats.cumulative_sum_ordered's two-phase form, so the
    segmentation never sorts the supplier dimension on one task.

    Scale: rank two-phase (range shuffle + config-bounded offsets);
    the report is 4 rows."""
    from nabatshy_spark.operators.stats import cumulative_sum_ordered

    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_acctbal").cast("decimal(28,6)").alias("bal")
    )
    ranked = cumulative_sum_ordered(
        s,
        [F.col("bal").asc(), F.col("s_suppkey").asc()],
        "bal",
        force="twophase",
    )
    q = ranked.withColumn(
        "quartile",
        F.ceil(F.lit(4) * F.col("__rank") / F.col("__n")).cast("int"),
    )
    return (
        q.groupBy("quartile")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.min("bal").cast("double"), 2).alias("min_bal"),
            F.round(F.max("bal").cast("double"), 2).alias("max_bal"),
            F.round(F.avg(F.col("bal").cast("double")), 6).alias("avg_bal"),
        )
        .orderBy("quartile")
    )


@query("customer_order_streaks", headline=True)
def customer_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over DATES: each customer's longest streak of
    consecutive order months (distinct months where month_index −
    dense-order-index is constant within an island) — the retention
    streak the char-level dup_span_chars islands logic generalizes to
    calendars. One shuffle on customer; windows are per-customer.

    Output: streak-length histogram (streak_months, n_customers) —
    bounded by the observation horizon in months."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
            "__m"
        ),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("__m")
    islands = (
        o.withColumn("__rn", F.row_number().over(w))
        .withColumn("__island", F.col("__m") - F.col("__rn"))
        .groupBy("o_custkey", "__island")
        .agg(F.count("*").alias("__len"))
    )
    longest = islands.groupBy("o_custkey").agg(
        F.max("__len").alias("streak_months")
    )
    return (
        longest.groupBy("streak_months")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("streak_months")
    )


@query("bloom_pruned_fact_join", headline=True)
def bloom_pruned_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join (the pattern behind Spark's own
    spark.sql.optimizer.runtime.bloomFilter and ClickHouse's
    set-index pruning): a Bloom filter built over the QUALIFYING dim
    keys (BUILDING-segment customers) becomes a codegen'd predicate ON
    THE FACT SCAN — orders rows whose custkey cannot be in the segment
    never reach the join — and the exact semi-join afterwards clears
    the false positives, so the result is bit-identical to the plain
    join (which is exactly what the oracle checks).

    Scale shape: the bit set packs into ⌈num_bits/64⌉ long words
    however large the dim (collected once — a CONFIG-bounded driver
    transfer, like CMS sketch merges), inlined as a literal array so
    each probe is element_at + shift + AND inside the scan's codegen —
    O(1) per probe, no join and no shuffle until the survivors. At
    billions of fact rows the win is the shuffle writing only rows
    that can match."""
    from nabatshy_spark.operators.sketches import (
        bloom_bitmap,
        bloom_bits,
        bloom_pred,
    )

    num_hashes, num_bits = 5, 1024
    cust = load(spark, sf_dir, "customer")
    seg = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    words = bloom_bitmap(
        (r.bit for r in bloom_bits(seg, "c_custkey", num_hashes, num_bits).collect()),
        num_bits,
    )
    o = load(spark, sf_dir, "orders")
    pruned = o.filter(
        bloom_pred(F.col("o_custkey"), words, num_hashes, num_bits)
    )
    exact = pruned.join(
        F.broadcast(seg),
        pruned.o_custkey == seg.c_custkey,
        "left_semi",
    )
    return (
        exact.groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("yr")
    )


@query("customer_yearly_setops", headline=True)
def customer_yearly_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET OPERATIONS surface (INTERSECT / EXCEPT — the one relational
    operator family the registry had not yet exercised): the 1995 and
    1996 active-customer sets compared as retained (INTERSECT), churned
    (1995 EXCEPT 1996) and new (1996 EXCEPT 1995) cohorts. Spark plans
    both as aggregate + left-semi/anti joins; inputs are
    distinct-custkey relations (dimension-sized), so each set op is one
    small shuffle."""
    o = load(spark, sf_dir, "orders")
    # Each yearly cohort is dimension-sized and consumed three ways
    # (direct count, intersect, subtract): checkpointed so the orders
    # scan + distinct run once per year, not once per set op — the
    # before-plan scanned orders 8×.
    a95 = (
        o.filter(F.year("o_orderdate") == 1995)
        .select("o_custkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a96 = (
        o.filter(F.year("o_orderdate") == 1996)
        .select("o_custkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    cohorts = [
        ("active_1995", a95),
        ("active_1996", a96),
        ("retained", a95.intersect(a96)),
        ("churned", a95.subtract(a96)),
        ("new", a96.subtract(a95)),
    ]
    out = None
    for name, df in cohorts:
        row = df.agg(F.count("*").alias("n_customers")).select(
            F.lit(name).alias("cohort"), "n_customers"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("cohort")


@query("nation_revenue_yoy_growth", headline=True)
def nation_revenue_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation: the lag-window KPI
    every warehouse dashboard carries. The fact table collapses to the
    (nation, year) aggregate FIRST; the lag window runs over that
    |nations|×|years| relation partitioned BY NATION (bounded
    partitions — never a global sort). try_divide keeps a first-year
    NULL a NULL, not a crash."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("__rev")
        )
    )
    w = Window.partitionBy("nation").orderBy("yr")
    prev = F.lag(F.col("__rev").cast("double")).over(w)
    return rev.select(
        "nation",
        "yr",
        F.round(F.col("__rev").cast("double"), 2).alias("revenue"),
        F.round(
            F.try_divide(F.col("__rev").cast("double") - prev, prev), 6
        ).alias("yoy_growth"),
    ).orderBy("nation", "yr")


@query("chi2_priority_returnflag", headline=True)
def chi2_priority_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and
    line-item return flag — the categorical-association audit next to
    the numeric drift family (psi_order_value_drift) and the DiD lift
    (did_purchase_lift): "does return behavior depend on priority?".
    Observed counts from ONE (priority, flag) aggregate; expected
    counts and the χ² sum ride the |priorities|×|flags| contingency
    relation with its margins broadcast back. Exact integer counts in,
    fixed double arithmetic out (rounded), so the oracle replays it
    bit-for-bit.

    Scale: one fact scan + one dimension-bounded aggregate; everything
    after is arithmetic on ≤ 15 rows."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    # The ≤15-row contingency relation is checkpointed: four consumers
    # (cells, both margins, the grand total) would otherwise each
    # re-run the fact join + aggregate — the before-plan scanned
    # lineitem and orders 4× each for a relation of 15 rows (same
    # move as spans_mad_outliers' median relation).
    obs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("l_returnflag").alias("flag"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    row_m = obs.groupBy("priority").agg(F.sum("n").alias("__rn"))
    col_m = obs.groupBy("flag").agg(F.sum("n").alias("__cn"))
    tot = obs.agg(F.sum("n").alias("__t"))
    cells = (
        obs.join(F.broadcast(row_m), "priority")
        .join(F.broadcast(col_m), "flag")
        .join(F.broadcast(tot))
        .withColumn(
            "__e",
            F.col("__rn").cast("double")
            * F.col("__cn").cast("double")
            / F.col("__t").cast("double"),
        )
        .withColumn(
            "__chi",
            (F.col("n").cast("double") - F.col("__e"))
            * (F.col("n").cast("double") - F.col("__e"))
            / F.col("__e"),
        )
    )
    return cells.agg(
        F.max("__t").alias("n_lineitems"),
        F.count("*").alias("n_cells"),
        (
            (F.count_distinct("priority") - 1)
            * (F.count_distinct("flag") - 1)
        ).alias("dof"),
        F.round(F.sum("__chi"), 6).alias("chi2"),
    )
