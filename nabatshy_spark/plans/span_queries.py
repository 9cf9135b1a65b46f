"""Span-native registry queries — trace semantics the TPC-H-ish tables
can't express (FIXTURES.md §1): root-span filters, attribute-array
negation, exception events, the parent→child dependency graph, and the
APM analytics built on them (critical path, SLO burn, exemplars).

These run over the deterministic committed fixture
``tests/data/spans.parquet`` (generated by tools/gen_spans_fixture.py,
seed-fixed); the matching oracles read the same file by path. ``sf_dir``
is accepted but unused — trace semantics don't scale with sf.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nabatshy_spark.operators import spans as S
from nabatshy_spark.plans.queries import query


# The committed span fixture of the checkout this package is imported from.
DEFAULT_SPANS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "data",
    "spans.parquet",
)


def load_spans(spark: SparkSession) -> DataFrame:
    # env resolved per call: bench points this at a scaled multi-file
    # span table (tools/gen_spans_fixture.write_scaled) while the
    # committed fixture stays the semantics/oracle source
    return spark.read.parquet(
        os.environ.get("NABATSHY_SPANS_PATH", DEFAULT_SPANS_PATH)
    )


@query("spans_slowest_traces")
def spans_slowest_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/O1/O2 (api/service.go:177-185): slowest root spans."""
    return S.slowest_traces(load_spans(spark), 20)


@query("spans_endpoint_latency", headline=True)
def spans_endpoint_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A3/A7/A8 on real span durations (api/service.go:315-363)."""
    return S.endpoint_latency(load_spans(spark))


@query("spans_service_dependency", headline=True)
def spans_service_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 true form (api/service.go:365-398)."""
    return S.service_dependency_graph(load_spans(spark))


@query("spans_error_traces")
def spans_error_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/A4 exception rollup per trace."""
    return S.error_traces(load_spans(spark))


@query("spans_attr_negation", headline=True)
def spans_attr_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 independent-arrays negation (api/service.go:753-771):
    ``db.system != postgres``. The fixture plants spans with
    db.system=mysql AND 'postgres' under a different key
    (cache.backend) — the independent-arrays rule REJECTS those
    (value array contains 'postgres'), where map-pair semantics would
    keep them; spans with no db.system key at all are kept by the
    key-absent branch."""
    where = S.attr_pair_negated_sql("span_attributes", ":k", ":v")
    return spark.sql(
        f"SELECT span_id, trace_id, name FROM {{spans}} WHERE {where}",
        {"k": "db.system", "v": "postgres"}, spans=load_spans(spark),
    )


@query("spans_attr_pair", headline=True)
def spans_attr_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 independent-arrays equality (api/service.go:744-751):
    ``env=prod`` over resource attributes."""
    where = S.attr_pair_sql("resource_attributes", ":k", ":v")
    return spark.sql(
        f"SELECT span_id, scope_name FROM {{spans}} WHERE {where}",
        {"k": "env", "v": "prod"}, spans=load_spans(spark),
    )


@query("spans_search_page")
def spans_search_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full search lifecycle (§3.2): typed DSL (scope + attr pair),
    trace mode, sort + pagination."""
    return S.search_spans(
        load_spans(spark),
        query="scope=svc-api,env=prod",
        trace_or_span="trace",
        sort_field="start_time_unix_nano",
        sort_order="desc",
        page=1,
        page_size=15,
    )


@query("spans_trace_details")
def spans_trace_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 trace assembly."""
    return S.trace_details(load_spans(spark), "tr0007")


@query("spans_distinct_services")
def spans_distinct_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 distinct service names from the attribute map
    (api/service.go:1541-1546)."""
    return S.distinct_services(load_spans(spark))


@query("spans_hourly_heatmap")
def spans_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T3 (api/service.go:400-433): hourly heatmap from Int64 ns
    timestamps, µs-floored exactly like the oracle."""
    df = load_spans(spark)
    hour = F.date_trunc(
        "hour", F.timestamp_micros(F.expr("start_time_unix_nano div 1000"))
    )
    return (
        df.groupBy(hour.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(S.duration_ms()), 6).alias("avg_duration_ms"),
        )
        .orderBy("bucket")
        .limit(24)
    )


@query("spans_slow_vs_baseline")
def spans_slow_vs_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11/A3 percentile-vs-self comparison (api/service.go:560-592)."""
    return S.slow_vs_baseline(load_spans(spark))


@query("spans_service_issues")
def spans_service_issues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 nested aggregate on real spans (api/service.go:983-1006)."""
    return S.service_issues(load_spans(spark))


@query("spans_search_sorted")
def spans_search_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 dynamic sort (duration asc) + O4 page 2 — the user-chosen
    sort surface (api/service.go:823-844)."""
    return S.search_spans(
        load_spans(spark),
        query="name=GET /api/v1/users",
        trace_or_span="span",
        sort_field="duration_ms",
        sort_order="asc",
        page=2,
        page_size=10,
    )


@query("spans_search_timerange")
def spans_search_timerange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 time-range bounds + P8 broad fallback ('svc-db' matches
    scope and the service.name attribute value) in one search."""
    return S.search_spans(
        load_spans(spark),
        query="svc-db",
        trace_or_span="trace",
        start_ns=1_706_745_600_000_000_000,          # 2024-02-01 00:00
        end_ns=1_706_745_600_000_000_000 + 2 * 3600 * 1_000_000_000,
        sort_field="start_time_unix_nano",
        sort_order="asc",
        page=1,
        page_size=50,
    )


@query("spans_search_metrics", headline=True)
def spans_search_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 GetSearchMetrics composition (api/service.go:1341-1428 +
    :1431-1531): search predicates feed a 15-bucket combined-metrics
    series (p95 + count + avg) with zero-padded gaps — the reference
    composes this by string-pasting SQL; here every metrics route
    shares one DataFrame plan (operators/spans.py
    search_metric_series, also the serving layer's backend)."""
    lo, hi = 1_706_745_600, 1_706_745_600 + 4 * 3600   # 4h window
    return S.search_metric_series(
        load_spans(spark), lo, hi, query="scope=svc-api"
    )


@query("spans_trace_waterfall")
def spans_trace_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 trace assembly (the UI's waterfall,
    ui/src/components/TraceDetails.tsx:207-303, done engine-side):
    per-trace rollup with the time-ordered span sequence,
    deterministic by (start, span_id). Emitted as a comma-joined
    STRING, not array<string>: the external comparator canonicalizes
    through pandas, where list cells are unhashable (sort crash) and
    numpy/Python list reprs diverge — the nested form stays available
    to the serving API via split(',')."""
    df = load_spans(spark)
    return (
        df.groupBy("trace_id")
        .agg(
            F.count("*").alias("span_count"),
            F.round(F.sum(S.duration_ms()), 6).alias("total_ms"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("start_time_unix_nano").alias("s"),
                                F.col("span_id").alias("id"),
                            )
                        )
                    ),
                    lambda e: e["id"],
                ),
                ",",
            ).alias("span_sequence"),
        )
    )


@query("spans_critical_path", headline=True)
def spans_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trace critical path (max root→leaf duration sum): ONE
    shuffle on trace_id + per-trace DP (operators/spans.py:
    critical_path_grouped) — traces are bounded-size, so grouped DP
    beats the iterative-join form (kept as the unbounded-depth
    fallback; equivalence asserted in tests) by a fixpoint round-trip
    per tree level (measured: 2.8s grouped vs 7.5s iterative vs 36s
    naive per-trace groups, 660k spans)."""
    return S.critical_path_grouped(load_spans(spark))


@query("spans_fanout_stats")
def spans_fanout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree-shape analytics: per-service child fan-out of spans
    (children per parent, then avg/max per parent service) — the
    topology-health stat behind 'which service explodes requests'.
    One self-equi-join shuffle on the parent key + two partial aggs."""
    df = load_spans(spark)
    children = df.filter(S.is_child()).select(
        F.col("trace_id").alias("__t"), F.col("parent_span_id").alias("__p")
    )
    parents = df.select("trace_id", "span_id", "scope_name")
    fanout = (
        parents.join(
            children,
            (F.col("trace_id") == F.col("__t"))
            & (F.col("span_id") == F.col("__p")),
        )
        .groupBy("trace_id", "span_id", "scope_name")
        .agg(F.count("*").alias("__n"))
    )
    return fanout.groupBy("scope_name").agg(
        F.count("*").alias("n_parents"),
        F.round(F.avg("__n"), 6).alias("avg_children"),
        F.max("__n").alias("max_children"),
    )


@query("spans_concurrency", headline=True)
def spans_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent spans per trace — the interval sweep-line: each
    span emits (+1 at start, −1 at end), one running sum per trace
    ordered by (time, delta) with ends before starts at a shared
    timestamp (half-open [start, end)), max of the running sum is the
    trace's peak parallelism. ONE shuffle on trace_id; the per-trace
    max is tie-order invariant (ends only lower the sum, the peak sits
    at the last start of a tie group), so the oracle reproduces it
    with the identical window. Top 50 by (peak desc, trace_id)."""
    df = load_spans(spark)
    ev = df.select(
        "trace_id", F.col("start_time_unix_nano").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        df.select(
            "trace_id", F.col("end_time_unix_nano").alias("t"), F.lit(-1).alias("d")
        )
    )
    w = (
        Window.partitionBy("trace_id")
        .orderBy(F.col("t").asc(), F.col("d").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = ev.select("trace_id", F.sum("d").over(w).alias("c"))
    return (
        running.groupBy("trace_id")
        .agg(F.max("c").alias("max_concurrent"))
        .orderBy(F.col("max_concurrent").desc(), F.col("trace_id").asc())
        .limit(50)
    )


@query("spans_self_time", headline=True)
def spans_self_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-operation SELF time — duration minus the union of child
    span intervals (the flame-graph quantity: where time is actually
    spent, not just attributed transitively). Children clamp to the
    parent's bounds, overlap collapses via the same sweep-line as
    spans_concurrency (running sum > 0 ⇒ covered; covered time is
    Σ gap-to-next-event while covered — tie groups contribute 0, so
    the sum is tie-order invariant and the oracle matches). One
    self-equi-join shuffle on the parent key + one window per parent
    span; leaf spans (no children) count full duration as self."""
    df = load_spans(spark)
    parents = df.select(
        F.col("trace_id").alias("__t"),
        F.col("span_id").alias("__p"),
        F.col("name").alias("__name"),
        F.col("start_time_unix_nano").alias("__ps"),
        F.col("end_time_unix_nano").alias("__pe"),
    )
    children = df.filter(S.is_child()).select(
        F.col("trace_id").alias("__t"),
        F.col("parent_span_id").alias("__p"),
        F.col("start_time_unix_nano").alias("__cs"),
        F.col("end_time_unix_nano").alias("__ce"),
    )
    joined = parents.join(children, ["__t", "__p"]).select(
        "__t", "__p",
        F.greatest("__cs", "__ps").alias("__s"),
        F.least("__ce", "__pe").alias("__e"),
    ).filter(F.col("__s") < F.col("__e"))
    ev = joined.select("__t", "__p", F.col("__s").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        joined.select("__t", "__p", F.col("__e").alias("t"), F.lit(-1).alias("d"))
    )
    w = Window.partitionBy("__t", "__p").orderBy(F.col("t").asc(), F.col("d").asc())
    covered = (
        ev.select(
            "__t", "__p", "t",
            F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("__c"),
            F.lead("t").over(w).alias("__nt"),
        )
        .filter((F.col("__c") > 0) & F.col("__nt").isNotNull())
        .groupBy("__t", "__p")
        .agg(F.sum(F.col("__nt") - F.col("t")).alias("__cov"))
    )
    per_span = parents.join(covered, ["__t", "__p"], "left").select(
        "__name",
        (F.col("__pe") - F.col("__ps")).alias("__dur"),
        (F.col("__pe") - F.col("__ps") - F.coalesce("__cov", F.lit(0))).alias("__self"),
    )
    return (
        per_span.groupBy(F.col("__name").alias("name"))
        .agg(
            F.round(F.sum("__self") / S.NS_PER_MS, 3).alias("total_self_ms"),
            F.round(F.sum("__dur") / S.NS_PER_MS, 3).alias("total_ms"),
            F.count("*").alias("n_spans"),
        )
        .orderBy(F.col("total_self_ms").desc(), F.col("name").asc())
    )


@query("spans_error_root_cause", headline=True)
def spans_error_root_cause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-cause attribution: the LEAF-MOST erroring spans — erroring
    spans none of whose children also error (an ancestor that merely
    propagates a child's exception is symptom, not cause) — rolled up
    per operation name. One self-equi-join of the (small) erroring
    slice against itself as a left-anti (erroring span ⟂ erroring
    child), never the full table squared; the error filter prunes
    before the join on both sides."""
    df = load_spans(spark)
    err = df.filter(S.has_exception()).select(
        "trace_id", "span_id", "parent_span_id", "name"
    )
    err_children = err.filter(S.is_child()).select(
        F.col("trace_id").alias("__t"), F.col("parent_span_id").alias("__p")
    )
    culprits = err.join(
        err_children,
        (F.col("trace_id") == F.col("__t")) & (F.col("span_id") == F.col("__p")),
        "left_anti",
    )
    return (
        culprits.groupBy("name")
        .agg(
            F.count("*").alias("n_root_causes"),
            F.countDistinct("trace_id").alias("n_traces"),
        )
        .orderBy(F.col("n_root_causes").desc(), F.col("name").asc())
    )


@query("spans_exemplars")
def spans_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-endpoint latency exemplars — the trace you'd click into from
    a latency panel (extends api/service.go:315-363's endpoint stats
    with an argmax): count, exact p50, max, and the trace id of the
    slowest span (min trace_id on duration ties, deterministic in both
    engines). The argmax is a broadcast-able join of the tiny per-name
    max back to the fact — no window over the full table."""
    df = load_spans(spark)
    stats = df.groupBy("name").agg(
        F.count("*").alias("n_spans"),
        # percentile over the INTEGER ns: interpolation lands on exact
        # half-integers, bit-identical in Spark and DuckDB with NO
        # rounding step. Converting to ms first (or rounding after a
        # division) creates x.xxxxxx5 ties where Spark's HALF_UP on
        # the shortest decimal repr and DuckDB's binary rounding
        # disagree — measured on this fixture.
        F.percentile(F.col("duration_ns"), F.lit(0.5)).alias("p50_ns"),
        F.max("duration_ns").alias("__max_ns"),
    # per-name rows, consumed by the argmax broadcast AND the final
    # join: checkpointed so the exact-percentile pass over the span
    # table runs once, not twice.
    ).localCheckpoint(eager=False)
    exemplar = (
        df.join(
            F.broadcast(stats.select("name", "__max_ns")),
            ["name"],
        )
        .filter(F.col("duration_ns") == F.col("__max_ns"))
        .groupBy("name")
        .agg(F.min("trace_id").alias("exemplar_trace"))
    )
    return (
        stats.join(exemplar, "name")
        .select(
            "name",
            "n_spans",
            "p50_ns",
            F.col("__max_ns").alias("max_ns"),
            "exemplar_trace",
        )
        .orderBy("name")
    )


@query("spans_error_propagation")
def spans_error_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-propagation rate per service: of this service's spans that
    carry an exception event AND have a parent, how often does the
    parent span also carry one (J1 parent→child self-join on
    span_id=parent_span_id + the F10 exception predicate,
    api/service.go:365-398 / TraceDetails.tsx:112-116). One keyed
    self-join shuffle; the error predicate is an `exists` over the
    events array, codegen'd, evaluated before the join to shrink both
    sides."""
    df = load_spans(spark)
    err = S.has_exception()
    child = (
        df.filter(S.is_child() & err)
        .select(
            F.col("scope_name").alias("service"),
            F.col("parent_span_id").alias("__parent_id"),
        )
    )
    parent = df.select(
        F.col("span_id").alias("__parent_id"),
        err.cast("int").alias("__parent_err"),
    )
    return (
        child.join(parent, "__parent_id")
        .groupBy("service")
        .agg(
            F.count("*").alias("n_child_errors"),
            F.sum("__parent_err").alias("n_parent_also_error"),
        )
        .select(
            "service",
            "n_child_errors",
            "n_parent_also_error",
            F.round(
                F.col("n_parent_also_error") / F.col("n_child_errors"), 6
            ).alias("propagation_rate"),
        )
        .orderBy("service")
    )


@query("spans_apdex", headline=True)
def spans_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex score per endpoint (industry-standard satisfaction index;
    natural extension of the reference's endpoint stats,
    api/service.go:315-363): satisfied ≤ 10 ms, tolerating ≤ 40 ms,
    apdex = (satisfied + tolerating/2) / count. Three conditional
    counts in ONE scan+shuffle (A4/A8 composition); the ratio is
    integer arithmetic over the counts, so the oracle is exact."""
    df = load_spans(spark)
    t_ns = 10_000_000
    sat = F.sum((F.col("duration_ns") <= t_ns).cast("int")).alias("n_satisfied")
    tol = F.sum(
        (
            (F.col("duration_ns") > t_ns) & (F.col("duration_ns") <= 4 * t_ns)
        ).cast("int")
    ).alias("n_tolerating")
    return (
        df.groupBy("name")
        .agg(F.count("*").alias("n_spans"), sat, tol)
        .select(
            "name",
            "n_spans",
            "n_satisfied",
            "n_tolerating",
            F.round(
                (F.col("n_satisfied") + F.col("n_tolerating") / 2.0)
                / F.col("n_spans"),
                6,
            ).alias("apdex"),
        )
        .orderBy("name")
    )


@query("spans_error_budget", headline=True)
def spans_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service SLO error-budget report (ops extension of the
    reference's error-rate surface, api/service.go:808-820): spans are
    bucketed into 10-minute windows, each window's exception rate is
    compared against a 1% budget, and the per-service rollup reports
    how many windows burned the budget and the worst window's rate.
    One scan + one (service, bucket) shuffle + one tiny service
    rollup; the error flag is a codegen'd `exists` over the events
    array — no explode."""
    df = load_spans(spark)
    err = S.has_exception().cast("int")
    bucket = F.expr(
        "CAST(start_time_unix_nano DIV 1000000000 AS BIGINT) DIV 600"
    ).alias("__bucket")
    per_bucket = (
        df.select(F.col("scope_name").alias("service"), bucket, err.alias("__e"))
        .groupBy("service", "__bucket")
        .agg(F.count("*").alias("__n"), F.sum("__e").alias("__errs"))
        .withColumn("__rate", F.col("__errs") / F.col("__n"))
    )
    return (
        per_bucket.groupBy("service")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum((F.col("__rate") > 0.01).cast("int")).alias(
                "n_burned_buckets"
            ),
            F.round(F.max("__rate"), 6).alias("worst_bucket_rate"),
            F.sum("__errs").alias("n_errors"),
        )
        .orderBy("service")
    )


@query("spans_top_endpoints_per_service", headline=True)
def spans_top_endpoints_per_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 slowest endpoints within every service (by avg duration)
    — the drill-down view one level below the reference's global
    endpoint stats (api/service.go:315-363). Group-ranked pattern:
    aggregate per (service, endpoint) first, then row_number within
    the service partition of the AGGREGATED relation — the window
    never sees span-level rows."""
    df = load_spans(spark)
    per = (
        df.groupBy(
            F.col("scope_name").alias("service"), F.col("name").alias("endpoint")
        )
        .agg(
            F.count("*").alias("n_spans"),
            F.round(F.avg(S.duration_ms()), 6).alias("avg_ms"),
        )
    )
    w = Window.partitionBy("service").orderBy(
        F.col("avg_ms").desc(), F.col("endpoint").asc()
    )
    return (
        per.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("service", "rank")
    )


@query("spans_duration_histogram", headline=True)
def spans_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APM latency histogram: per endpoint, span counts in
    power-of-two millisecond buckets (the log-bucket view behind every
    latency heatmap UI). The bucket is length(bin(ms+1))−1 — exact
    integer log2, no float boundary flips; one scan + one
    (endpoint, bucket) agg."""
    df = load_spans(spark)
    ms = S.duration_ms().cast("long")
    bucket = (F.length(F.bin(ms + 1)) - 1).alias("log2_ms_bucket")
    return (
        df.select(F.col("name").alias("endpoint"), bucket)
        .groupBy("endpoint", "log2_ms_bucket")
        .agg(F.count("*").alias("n_spans"))
        .orderBy("endpoint", "log2_ms_bucket")
    )


@query("spans_latency_trend", headline=True)
def spans_latency_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency drift per endpoint: OLS slope (ms per hour) and R² of
    span duration against time — the "is this endpoint degrading"
    signal. Built-in regr_slope/regr_r2 aggregates over an
    epoch-centered x axis (same conditioning as value_trends); one
    scan, one endpoint-keyed agg, no window."""
    df = load_spans(spark)
    x = (
        F.col("start_time_unix_nano") / F.lit(1_000_000_000)
        - F.lit(1_706_745_605)
    ).alias("__x")
    y = S.duration_ms().alias("__y")
    return (
        df.select(F.col("name").alias("endpoint"), x, y)
        .groupBy("endpoint")
        .agg(
            F.round(F.expr("regr_slope(__y, __x)") * 3600, 6).alias(
                "slope_ms_per_hour"
            ),
            F.round(F.expr("regr_r2(__y, __x)"), 6).alias("r2"),
            F.count("*").alias("n_spans"),
        )
        .orderBy("endpoint")
    )


@query("spans_anomalous_traces", headline=True)
def spans_anomalous_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traces whose END-TO-END duration exceeds the p99 of all trace
    durations — the percentile-threshold variant of the reference's
    top-N slowest list (api/service.go:177-185): a rollup to trace
    durations, an exact-percentile scalar over that (tiny) relation,
    and a broadcast 1-row threshold join. No global sort, no top-N
    heuristic — the cutoff adapts to the distribution."""
    df = load_spans(spark)
    traces = df.groupBy("trace_id").agg(
        (
            (F.max("end_time_unix_nano") - F.min("start_time_unix_nano"))
            / S.NS_PER_MS
        ).alias("trace_ms"),
        F.count("*").alias("n_spans"),
    # trace-count-bounded and consumed by the p99 aggregate AND the
    # filter: checkpointed so the trace-assembly shuffle runs once
    # (same shape as spans_tail_sampling).
    ).localCheckpoint(eager=False)
    thr = traces.agg(
        F.percentile("trace_ms", F.lit(0.99)).alias("__p99")
    )
    return (
        traces.crossJoin(F.broadcast(thr))
        .filter(F.col("trace_ms") > F.col("__p99"))
        .select(
            "trace_id",
            F.round("trace_ms", 6).alias("trace_ms"),
            "n_spans",
        )
        .orderBy(F.col("trace_ms").desc(), F.col("trace_id").asc())
    )


@query("spans_burn_rate_alerts", headline=True)
def spans_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alert (the Google SRE workbook
    recipe) over the span surface — ops extension of the reference's
    error-rate route (api/service.go:808-820): per service, the
    exception rate over the trailing LONG (60 min) and SHORT (10 min)
    windows relative to the corpus's newest span, each expressed as a
    burn rate against a 1% SLO budget; a page fires only when BOTH
    windows burn >14.4x (fast burn confirmed by the long window — the
    two-window AND is what kills flappy alerts).

    One scan: the max-timestamp is a 1-row broadcast (bnlj-1row
    pattern), the long-window filter rides the scan, and the short
    window is a conditional aggregate inside the same groupBy — no
    second pass. The page decision compares integers
    (1000*errs > 144*n, i.e. errs/n > 14.4*0.01) so the flag is exact
    on any engine; the reported rates are display-rounded."""
    df = load_spans(spark)
    err = S.has_exception().cast("int")
    base = df.select(
        F.col("scope_name").alias("service"),
        F.col("start_time_unix_nano").alias("__ts"),
        err.alias("__e"),
    )
    mx = base.agg(F.max("__ts").alias("__mx"))
    short_ns = F.lit(600 * 1_000_000_000)
    long_ns = F.lit(3600 * 1_000_000_000)
    in_short = (F.col("__ts") >= F.col("__mx") - short_ns).cast("int")
    agg = (
        base.join(F.broadcast(mx))
        .filter(F.col("__ts") >= F.col("__mx") - long_ns)
        .groupBy("service")
        .agg(
            F.count("*").alias("n_long"),
            F.sum("__e").alias("__errs_long"),
            F.sum(in_short).alias("n_short"),
            F.sum(in_short * F.col("__e")).alias("__errs_short"),
        )
    )
    rate = lambda e, n: F.when(  # noqa: E731
        F.col(n) > 0, F.round(F.col(e) / F.col(n), 6)
    ).otherwise(F.lit(0.0))
    page = (1000 * F.col("__errs_short") > 144 * F.col("n_short")) & (
        1000 * F.col("__errs_long") > 144 * F.col("n_long")
    )
    # lower tier: sustained 6x burn on both windows -> ticket
    ticket = (1000 * F.col("__errs_short") > 60 * F.col("n_short")) & (
        1000 * F.col("__errs_long") > 60 * F.col("n_long")
    )
    return agg.select(
        "service",
        "n_long",
        rate("__errs_long", "n_long").alias("long_rate"),
        "n_short",
        rate("__errs_short", "n_short").alias("short_rate"),
        page.cast("int").alias("page"),
        ticket.cast("int").alias("ticket"),
    ).orderBy("service")


@query("spans_retry_storms", headline=True)
def spans_retry_storms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry-storm detection: operations repeated under the SAME
    parent span in the same trace (client retry loops / fan-out bugs
    amplifying load). Groups on (trace, parent, name) — one shuffle on
    a compound key whose cardinality is bounded by the span count —
    and reports per (service, operation) how many call sites retried,
    the worst amplification, and the total duplicated spans. The
    reference's span schema carries parent_span_id precisely so this
    audit is a grouped count, not a graph traversal."""
    df = load_spans(spark)
    sites = (
        df.filter(S.is_child())
        .groupBy(
            F.col("trace_id"),
            F.col("parent_span_id"),
            F.col("scope_name").alias("service"),
            F.col("name").alias("operation"),
        )
        .agg(F.count("*").alias("__calls"))
        .filter(F.col("__calls") >= 2)
    )
    return (
        sites.groupBy("service", "operation")
        .agg(
            F.count("*").alias("n_retry_sites"),
            F.max("__calls").alias("max_calls_per_site"),
            (F.sum("__calls") - F.count("*")).alias("n_duplicate_spans"),
        )
        .orderBy(
            F.col("n_duplicate_spans").desc(),
            F.col("service"),
            F.col("operation"),
        )
    )


@query("spans_clock_skew_audit", headline=True)
def spans_clock_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumentation sanity audit: child spans that START before
    their parent or END after it — impossible under one clock, so each
    hit is clock skew between hosts or a broken instrumentation scope.
    The parent lookup is the same (trace-scoped) self equi-join as the
    service-dependency query (J1, api/service.go joins on
    parent_span_id); per child-service rollup counts both violation
    kinds and the worst skew magnitude. One shuffle keyed by
    (trace, span) — at 100 TB the join co-locates under the
    trace-bucketed layout like every other span self-join."""
    df = load_spans(spark)
    child = df.filter(S.is_child()).select(
        F.col("trace_id").alias("c_tid"),
        F.col("parent_span_id").alias("c_pid"),
        F.col("scope_name").alias("service"),
        F.col("start_time_unix_nano").alias("c_start"),
        F.col("end_time_unix_nano").alias("c_end"),
    )
    parent = df.select(
        F.col("trace_id").alias("p_tid"),
        F.col("span_id").alias("p_sid"),
        F.col("start_time_unix_nano").alias("p_start"),
        F.col("end_time_unix_nano").alias("p_end"),
    )
    j = child.join(
        parent,
        (F.col("c_tid") == F.col("p_tid")) & (F.col("c_pid") == F.col("p_sid")),
    )
    early = (F.col("c_start") < F.col("p_start")).cast("int")
    late = (F.col("c_end") > F.col("p_end")).cast("int")
    skew = F.greatest(
        F.when(early == 1, F.col("p_start") - F.col("c_start")).otherwise(
            F.lit(0)
        ),
        F.when(late == 1, F.col("c_end") - F.col("p_end")).otherwise(F.lit(0)),
    )
    return (
        j.groupBy("service")
        .agg(
            F.count("*").alias("n_children"),
            F.sum(early).alias("n_start_before_parent"),
            F.sum(late).alias("n_end_after_parent"),
            F.max(skew).alias("max_skew_ns"),
        )
        .orderBy("service")
    )


@query("spans_mad_outliers", headline=True)
def spans_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust latency outliers per service: median / MAD (median
    absolute deviation) instead of mean / stddev, so one straggler
    can't inflate its own threshold — the estimator anomaly detection
    actually wants on heavy-tailed latency. A span is an outlier when
    |dur − median| > 5·MAD.

    Exact medians need the relation twice (median, then median of
    deviations), so the plan is three narrow scans of ONE projected
    column with the tiny per-service medians broadcast between them —
    never a full sort, never a fact-sized shuffle (percentile
    aggregates shuffle per-group sketch state only). At 100 TB the
    swap is `percentile_approx` (t-digest partials) for both medians,
    same plan shape, one scan fewer if fused; the exact form stays as
    the oracle-checked reference semantics."""
    df = load_spans(spark)
    base = df.select(
        F.col("scope_name").alias("service"),
        F.col("duration_ns").cast("double").alias("__d"),
    )
    # The |services|-row median relation is checkpointed: ``dev`` is
    # consumed twice (the MAD aggregate, then the outlier rollup) and
    # each consumption would otherwise re-evaluate the ENTIRE median
    # subtree — a full scan + exact-percentile pass per use (the
    # before-plan shows the spans table scanned 4×, med computed 2×).
    # Materializing 5 rows is free; the big dev relation itself is NOT
    # checkpointed — that variant was measured 13% SLOWER (2.03 →
    # 2.29 s solo): 660k rows through the block store cost more than
    # the cached-parquet re-scan they save.
    med = (
        base.groupBy("service")
        .agg(F.percentile("__d", F.lit(0.5)).alias("__med"))
        .localCheckpoint(eager=False)
    )
    dev = base.join(F.broadcast(med), "service").withColumn(
        "__ad", F.abs(F.col("__d") - F.col("__med"))
    )
    mad = dev.groupBy("service").agg(
        F.percentile("__ad", F.lit(0.5)).alias("__mad")
    )
    return (
        dev.join(F.broadcast(mad), "service")
        .groupBy("service")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(
                (F.col("__ad") > 5 * F.col("__mad")).cast("int")
            ).alias("n_outliers"),
            F.round(F.max("__med") / S.NS_PER_MS, 6).alias("median_ms"),
            F.round(F.max("__mad") / S.NS_PER_MS, 6).alias("mad_ms"),
        )
        .withColumn(
            "outlier_rate",
            F.round(F.col("n_outliers") / F.col("n_spans"), 6),
        )
        .orderBy("service")
    )


@query("spans_tail_sampling", headline=True)
def spans_tail_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-based sampling policy (what an OTel collector's tail
    sampler decides after seeing the whole trace): keep every trace
    with an error span, keep the slow tail (trace duration above the
    corpus p99), hash-keep 10% of the rest (same md5-prefix uniform as
    sampling.hash_sample — deterministic, retry-safe, engine-portable),
    drop the remainder. Output is the per-decision accounting a
    sampling-policy review reads: trace/span counts and share kept.

    One (trace_id) shuffle builds per-trace facts; the p99 is a 1-row
    broadcast; the policy is a codegen'd CASE over the tiny trace
    relation. At 100 TB the trace assembly is the same trace-keyed
    shuffle every other per-trace query pays (exchange-free under
    trace bucketing); the decision layer adds nothing
    fact-proportional."""
    df = load_spans(spark)
    err = S.has_exception().cast("int")
    traces = df.select(
        "trace_id",
        F.col("start_time_unix_nano").alias("__s"),
        F.col("end_time_unix_nano").alias("__e"),
        err.alias("__err"),
    ).groupBy("trace_id").agg(
        F.count("*").alias("__n_spans"),
        (F.max("__e") - F.min("__s")).cast("double").alias("__dur"),
        F.max("__err").alias("__has_err"),
    )
    # trace-count-bounded and consumed by the p99 aggregate AND the
    # decision layer (whose two consumers fan the duplication further):
    # checkpointed so the span scan + trace-assembly shuffle run once,
    # not 3-4×.
    traces = traces.localCheckpoint(eager=False)
    p99 = traces.agg(F.percentile("__dur", F.lit(0.99)).alias("__p99"))
    decided = traces.join(F.broadcast(p99)).withColumn(
        "decision",
        F.when(F.col("__has_err") == 1, F.lit("error_keep"))
        .when(F.col("__dur") > F.col("__p99"), F.lit("slow_tail_keep"))
        .when(
            F.substring(F.md5(F.col("trace_id")), 1, 4) < F.lit("199a"),
            F.lit("random_keep"),
        )
        .otherwise(F.lit("drop")),
    )
    total = decided.agg(F.count("*").cast("double").alias("__total"))
    return (
        decided.groupBy("decision")
        .agg(
            F.count("*").alias("n_traces"),
            F.sum("__n_spans").alias("n_spans"),
        )
        .join(F.broadcast(total))
        .select(
            "decision",
            "n_traces",
            "n_spans",
            F.round(F.col("n_traces") / F.col("__total"), 6).alias(
                "trace_share"
            ),
        )
        .orderBy("decision")
    )


@query("spans_attr_facets", headline=True)
def spans_attr_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute facet counts — the filter sidebar every trace UI
    backs the reference's attribute mini-DSL with (P9,
    api/service.go:271-321 parses `k=v` terms; this is the endpoint
    that tells a user WHICH k and v exist and how often): per span
    attribute key, the top 5 values by span count. One explode of the
    parallel key/value arrays (arrays_zip keeps them aligned), one
    (key, value) count — partial-agg combined, so the shuffle carries
    the attribute vocabulary, not spans — and a per-key top-5 window
    over that tiny relation."""
    from pyspark.sql.window import Window

    df = load_spans(spark)
    kv = df.select(
        F.explode(F.arrays_zip("sa_keys", "sa_values")).alias("__kv")
    ).select(
        F.col("__kv.sa_keys").alias("attr_key"),
        F.col("__kv.sa_values").alias("attr_value"),
    )
    counts = kv.groupBy("attr_key", "attr_value").agg(
        F.count("*").alias("n_spans")
    )
    w = Window.partitionBy("attr_key").orderBy(
        F.col("n_spans").desc(), F.col("attr_value").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("attr_key", "rank", "attr_value", "n_spans")
        .orderBy("attr_key", "rank")
    )


@query("spans_error_pareto", headline=True)
def spans_error_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error Pareto: endpoints ranked by exception count with the
    cumulative share — the 80/20 view that tells an on-call which few
    endpoints produce most of the errors. One scan + one (service,
    endpoint) agg; the ordered cumulative sum runs over the tiny
    endpoint relation (rows-between-unbounded window with the same
    deterministic (count desc, name) order on both engines; integer
    cumsums, exact division at the end)."""
    from pyspark.sql.window import Window

    df = load_spans(spark)
    err = S.has_exception()
    per = (
        df.filter(err)
        .groupBy(
            F.col("scope_name").alias("service"),
            F.col("name").alias("endpoint"),
        )
        .agg(F.count("*").alias("n_errors"))
    )
    total = per.agg(F.sum("n_errors").cast("double").alias("__total"))
    w = (
        Window.orderBy(
            F.col("n_errors").desc(),
            F.col("service").asc(),
            F.col("endpoint").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per.withColumn("cum_errors", F.sum("n_errors").over(w))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(
                    F.col("n_errors").desc(),
                    F.col("service").asc(),
                    F.col("endpoint").asc(),
                )
            ),
        )
        .join(F.broadcast(total))
        .select(
            "rank",
            "service",
            "endpoint",
            "n_errors",
            F.round(F.col("cum_errors") / F.col("__total"), 6).alias(
                "cum_error_share"
            ),
        )
        .orderBy("rank")
    )


@query("spans_trace_shapes", headline=True)
def spans_trace_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trace-pattern mining: traces grouped by structural signature —
    the sorted multiset of (service, operation) calls — with count,
    span count, and mean duration per shape, top 20. The "what do our
    traces look like" view that turns a million raw traces into a
    dozen patterns. One trace-keyed shuffle builds signatures
    (sort_array + md5 of the concatenated calls, engine-portable);
    the shape rollup runs over one row per trace."""
    df = load_spans(spark)
    traces = (
        df.select(
            "trace_id",
            F.concat_ws(
                ":", F.col("scope_name"), F.col("name")
            ).alias("__call"),
            F.col("duration_ns").alias("__d"),
        )
        .groupBy("trace_id")
        .agg(
            F.md5(
                F.concat_ws(",", F.sort_array(F.collect_list("__call")))
            ).alias("shape_id"),
            F.sort_array(F.collect_list("__call")).alias("__calls"),
            F.count("*").alias("__n_spans"),
            F.sum("__d").alias("__dur"),
        )
    )
    return (
        traces.groupBy("shape_id")
        .agg(
            F.count("*").alias("n_traces"),
            F.max(F.size("__calls")).alias("n_spans_per_trace"),
            F.round(F.avg("__dur") / S.NS_PER_MS, 6).alias("avg_trace_ms"),
            F.min(F.concat_ws(",", "__calls")).alias("example_calls"),
        )
        .orderBy(F.col("n_traces").desc(), F.col("shape_id").asc())
        .limit(20)
    )


@query("spans_dependency_drift", headline=True)
def spans_dependency_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-dependency drift (operators/spans.dependency_drift):
    the J1 call-graph edges (api/service.go:365-398) split into first
    vs second half of the observed window, with per-edge deltas — the
    post-deploy "did the topology change" audit."""
    return S.dependency_drift(load_spans(spark))


@query("spans_overlap_pairs", headline=True)
def spans_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join (operators/spans.overlap_pairs): per
    trace, how many span pairs actually overlapped in time and the
    longest pairwise overlap — the range-join shape bounded by the
    trace equi-key. Top 50 traces by pair count."""
    return S.overlap_pairs(load_spans(spark))


@query("spans_service_busy_time", headline=True)
def spans_service_busy_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service BUSY time: the union of each service's span
    intervals (gaps-and-islands merge), so concurrent spans count
    wall-clock once — the utilization number raw duration sums
    overstate by the concurrency factor. Complements spans_concurrency
    (peak parallelism) with total occupied time.

    Scale: one shuffle on service, one running-max window per
    partition (sorted within service, never globally); island
    arithmetic is exact int64 ns."""
    sp = load_spans(spark).select(
        F.element_at(F.col("resource_attributes"), F.lit("service.name")).alias(
            "service_name"
        ),
        F.col("span_id"),
        F.col("start_time_unix_nano").alias("__s"),
        F.col("end_time_unix_nano").alias("__e"),
    ).filter(F.col("service_name").isNotNull())
    w = Window.partitionBy("service_name").orderBy("__s", "__e", "span_id")
    prev_max = F.max("__e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = sp.withColumn(
        "__new_island",
        F.when(prev_max.isNull() | (F.col("__s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "__island",
        F.sum("__new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    islands = flagged.groupBy("service_name", "__island").agg(
        (F.max("__e") - F.min("__s")).alias("__busy"),
        F.count("*").alias("__n"),
    )
    return (
        islands.groupBy("service_name")
        .agg(
            F.sum("__n").alias("n_spans"),
            F.count("*").alias("n_islands"),
            F.sum("__busy").alias("busy_ns"),
        )
        .orderBy("service_name")
    )


@query("spans_latency_exemplars", headline=True)
def spans_latency_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency EXEMPLARS (the Grafana/OpenMetrics pattern: each
    histogram bucket carries one representative trace to click into):
    per (endpoint, power-of-two ms bucket), the span count plus the
    slowest span's ids — deterministic under duration ties via the
    unique span_id tiebreak (max duration, then min span_id), never
    max_by's undefined-on-ties pick.

    Scale: one scan → (endpoint, bucket) aggregate for counts+max, a
    self-join back on the max to pick the exemplar row — the argmax
    join touches only bucket-max spans. Complements
    spans_duration_histogram (counts only) with the drill-in handle."""
    df = load_spans(spark)
    ms = S.duration_ms().cast("long")
    b = df.select(
        F.col("name").alias("endpoint"),
        (F.length(F.bin(ms + 1)) - 1).alias("log2_ms_bucket"),
        "duration_ns",
        "span_id",
        "trace_id",
    )
    m = b.groupBy("endpoint", "log2_ms_bucket").agg(
        F.count("*").alias("n_spans"),
        F.max("duration_ns").alias("__maxd"),
    )
    return (
        b.join(m, ["endpoint", "log2_ms_bucket"])
        .filter(F.col("duration_ns") == F.col("__maxd"))
        .groupBy("endpoint", "log2_ms_bucket", "n_spans", "__maxd")
        .agg(
            F.min("span_id").alias("exemplar_span"),
            F.min_by("trace_id", "span_id").alias("exemplar_trace"),
        )
        .select(
            "endpoint",
            "log2_ms_bucket",
            "n_spans",
            (F.col("__maxd") / S.NS_PER_MS).cast("long").alias("max_ms"),
            "exemplar_span",
            "exemplar_trace",
        )
        .orderBy("endpoint", "log2_ms_bucket")
    )
