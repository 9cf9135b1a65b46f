"""Span-table serving operators — the reference's REST query surface
(api/service.go) re-expressed over the denormalized span DataFrame
(schema: nabatshy_spark.schema.SPAN_SCHEMA).

Each API route is one SQL text with named parameter markers, built
here by a ``*_sql`` function that returns ``(text, args)``; the text
reads the span table as ``{spans}``. The serving layer fills that with
its registered view, and the operator of the same name runs the text
over any span DataFrame with ``spark.sql(text, args, spans=df)``, so a
route and its registry query share one definition. Every value from
outside (DSL keys and values, ids, times, counts, the percentile) is a
parameter; only a sort column from :data:`SEARCH_COLUMNS` and the
ASC/DESC keyword are spliced into a text.

Attribute-predicate semantics replicate the reference *exactly*,
including its independent-arrays quirk: ClickHouse stores attributes
as parallel key/value arrays and the reference tests
``has(keys, k)`` and ``has(values, v)`` separately
(api/service.go:744-771), so ``k=v`` matches a row where k exists and
v appears under ANY key, and ``k!=v`` rejects it. We keep MapType
storage but evaluate over map_keys()/map_values() to preserve those
semantics (SURVEY §7 watch-list: "replicate, don't fix").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nabatshy_spark.functions.timeutil import align_epoch, interval_seconds
from nabatshy_spark.operators.search import AttributeQuery, parse_attribute_query

NS_PER_MS = 1_000_000.0
NS_PER_S = 1_000_000_000


# The span-table predicates, as SQL fragments. Each encodes a decision
# about the stored format, so each has this one definition; every route
# text embeds it, and the Column helpers below parse it.

# P2: a root span has an empty parent id (api/service.go:183)
IS_ROOT = "parent_span_id = ''"
IS_CHILD = "parent_span_id != ''"
# F10: the span carries an event named 'exception'
# (api/service.go:808-820, 1255); events is
# array<struct<time_unix_nano,name,attributes>>
HAS_EXCEPTION = "exists(events, e -> e.name = 'exception')"
# P1: duration_ns / 1000000 (api/service.go:181). Float division, as
# ClickHouse's ``/``: a 1.5 ms span is 1.5, not 1. Each caller rounds
# as its oracle pins.
DURATION_MS = f"duration_ns / {NS_PER_MS!r}D"
# the columns of a span row on the search and detail routes
SPAN_ROW = (
    "trace_id, span_id, parent_span_id, name, scope_name, start_time_unix_nano"
)
DURATION_MS_COL = f"round({DURATION_MS}, 6) AS duration_ms"
HAS_ERROR_COL = f"{HAS_EXCEPTION} AS has_error"


def _has_key(attrs: str, key: str) -> str:
    return f"array_contains(map_keys({attrs}), {key})"


def _has_value(attrs: str, value: str) -> str:
    return f"array_contains(map_values({attrs}), {value})"


def attr_pair_sql(attrs: str, key: str, value: str) -> str:
    """P6 as the reference does it: key present AND value present —
    checked independently (api/service.go:744-751). ``key`` and
    ``value`` are SQL expressions, parameter markers on the routes."""
    return f"({_has_key(attrs, key)} AND {_has_value(attrs, value)})"


def attr_pair_negated_sql(attrs: str, key: str, value: str) -> str:
    """P7: ``NOT has(key,k) OR (has(key,k) AND NOT has(value,v))``
    (api/service.go:753-771)."""
    k = _has_key(attrs, key)
    return f"(NOT {k} OR ({k} AND NOT {_has_value(attrs, value)}))"


def is_root() -> Column:
    return F.expr(IS_ROOT)


def is_child() -> Column:
    return F.expr(IS_CHILD)


def has_exception() -> Column:
    return F.expr(HAS_EXCEPTION)


def duration_ms() -> Column:
    return F.expr(DURATION_MS)


def _condition(c: AttributeQuery, i: int, args: dict) -> str:
    """One DSL condition over a span row (api/service.go:707-771),
    its key and value bound as ``:k{i}`` and ``:v{i}``: special keys
    ``name``/``scope`` hit scalar columns; generic keys check span AND
    resource attributes (match in either; negation must hold in both)."""
    v = f":v{i}"
    args[f"v{i}"] = c.value
    if c.key in ("name", "scope"):
        col = "name" if c.key == "name" else "scope_name"
        return f"{col} {'!=' if c.negate else '='} {v}"
    k = f":k{i}"
    args[f"k{i}"] = c.key
    if c.negate:
        return (
            f"({attr_pair_negated_sql('span_attributes', k, v)}"
            f" AND {attr_pair_negated_sql('resource_attributes', k, v)})"
        )
    return (
        f"({attr_pair_sql('span_attributes', k, v)}"
        f" OR {attr_pair_sql('resource_attributes', k, v)})"
    )


def _search_conditions(query: str, trace_or_span: str, args: dict) -> list[str]:
    """The WHERE conditions shared by search and the search-metrics
    routes (api/service.go:698-811 and :1341-1428 paste the same SQL
    fragments): the DSL's conditions, else the P8 broad OR search
    (api/service.go:778-789: name, scope, trace_id, span_id, or any
    attribute key/value) bound as ``:q``, then trace/span mode (P10).
    Their values go into ``args``."""
    conds = []
    if query:
        parsed = parse_attribute_query(query)
        if parsed is None:
            args["q"] = query
            conds.append(
                "(name = :q OR scope_name = :q OR trace_id = :q OR span_id = :q"
                f" OR {_has_key('span_attributes', ':q')}"
                f" OR {_has_value('span_attributes', ':q')}"
                f" OR {_has_key('resource_attributes', ':q')}"
                f" OR {_has_value('resource_attributes', ':q')})"
            )
        else:
            conds += [_condition(c, i, args) for i, c in enumerate(parsed)]
    if trace_or_span == "trace":
        conds.append(IS_ROOT)
    elif trace_or_span == "span":
        conds.append(IS_CHILD)
    return conds


def _where(conds: list[str]) -> str:
    return f"WHERE {' AND '.join(conds)}" if conds else ""


def _in_range(start_ns: int | None, end_ns: int | None, args: dict) -> list[str]:
    """``start_ns <= start_time_unix_nano < end_ns``, bound as
    ``:lo_ns``/``:hi_ns``; a missing end is unbounded."""
    conds = []
    if start_ns is not None:
        args["lo_ns"] = start_ns
        conds.append("start_time_unix_nano >= :lo_ns")
    if end_ns is not None:
        args["hi_ns"] = end_ns
        conds.append("start_time_unix_nano < :hi_ns")
    return conds


def _run(df: DataFrame, route: tuple[str, dict]) -> DataFrame:
    """A route's text over ``df``, bound to its parameters."""
    text, args = route
    return df.sparkSession.sql(text, args, spans=df)


# the columns search_spans returns, and so its valid sort fields
SEARCH_COLUMNS = (
    "trace_id", "span_id", "parent_span_id", "name", "scope_name",
    "start_time_unix_nano", "duration_ms", "has_error",
)


def search_spans_sql(
    query: str = "",
    trace_or_span: str = "trace",
    start_ns: int | None = None,
    end_ns: int | None = None,
    sort_field: str = "start_time_unix_nano",
    sort_order: str = "desc",
    page: int = 1,
    page_size: int = 20,
) -> tuple[str, dict]:
    """The full search lifecycle (§3.2, api/service.go:698-891):
    DSL parse (fallback → broad search), trace/span mode (P10), time
    range (P3: started at or after ``start_ns``, ended by ``end_ns``),
    has_error projection, dynamic sort (O3), pagination (O4; span_id
    appended as total-order tiebreaker)."""
    if sort_field not in SEARCH_COLUMNS:
        raise ValueError(f"invalid sort field '{sort_field}'")
    order = sort_order.upper()
    if order not in ("ASC", "DESC"):
        raise ValueError(f"invalid sort order '{sort_order}'")
    args: dict = {}
    conds = _search_conditions(query, trace_or_span, args)
    if start_ns is not None:
        args["lo_ns"] = start_ns
        conds.append("start_time_unix_nano >= :lo_ns")
    if end_ns is not None:
        args["hi_ns"] = end_ns
        conds.append("end_time_unix_nano <= :hi_ns")
    args["page_size"] = page_size
    args["page_offset"] = (page - 1) * page_size
    return (
        f"SELECT {SPAN_ROW}, {DURATION_MS_COL}, {HAS_ERROR_COL} FROM {{spans}}"
        f" {_where(conds)} ORDER BY {sort_field} {order}, span_id ASC"
        " LIMIT :page_size OFFSET :page_offset"
    ), args


def search_spans(
    df: DataFrame,
    query: str = "",
    trace_or_span: str = "trace",
    start_ns: int | None = None,
    end_ns: int | None = None,
    sort_field: str = "start_time_unix_nano",
    sort_order: str = "desc",
    page: int = 1,
    page_size: int = 20,
) -> DataFrame:
    """:func:`search_spans_sql` over ``df``."""
    return _run(df, search_spans_sql(
        query, trace_or_span, start_ns, end_ns, sort_field, sort_order,
        page, page_size,
    ))


def slowest_traces_sql(n: int) -> tuple[str, dict]:
    """P1/P2/O1/O2 (api/service.go:177-185): the ``n`` slowest root
    spans; start time then trace id break duration ties."""
    return (
        f"SELECT trace_id, name, scope_name, {DURATION_MS_COL},"
        f" start_time_unix_nano FROM {{spans}} WHERE {IS_ROOT}"
        " ORDER BY duration_ms DESC, start_time_unix_nano DESC, trace_id ASC"
        " LIMIT :n"
    ), {"n": n}


def slowest_traces(df: DataFrame, n: int) -> DataFrame:
    return _run(df, slowest_traces_sql(n))


def endpoint_latency_sql(
    start_ns: int | None = None, end_ns: int | None = None
) -> tuple[str, dict]:
    """Per-endpoint stats (api/service.go:315-363) of the spans started
    in [start_ns, end_ns): count, avg, min, max, p50/p95/p99 over
    duration_ms."""
    args: dict = {}
    # percentiles unrounded: interpolation is bit-identical across
    # engines, and rounding midpoints of 6-decimal ms values hits the
    # 7th-digit-5 boundary where engine rounding modes diverge (see
    # plans/queries.py policy)
    return (
        "SELECT name, call_count, avg_ms, min_ms, max_ms,"
        " __p[0] AS p50_ms, __p[1] AS p95_ms, __p[2] AS p99_ms FROM ("
        f"SELECT name, count(*) AS call_count,"
        f" round(avg({DURATION_MS}), 6) AS avg_ms,"
        f" round(min({DURATION_MS}), 6) AS min_ms,"
        f" round(max({DURATION_MS}), 6) AS max_ms,"
        f" percentile({DURATION_MS}, array(0.5D, 0.95D, 0.99D)) AS __p"
        f" FROM {{spans}} {_where(_in_range(start_ns, end_ns, args))}"
        " GROUP BY name)"
    ), args


def endpoint_latency(df: DataFrame) -> DataFrame:
    return _run(df, endpoint_latency_sql())


def service_dependency_graph_sql() -> tuple[str, dict]:
    """J1 (api/service.go:365-398): self equi-join child.parent_span_id
    = parent.span_id, keep cross-service edges, count call pairs.

    Shuffle partitions on the join key; the ≠ predicate stays a
    post-join filter exactly like the reference's SQL.
    """
    return (
        "SELECT parent_service, child_service, count(*) AS call_count FROM"
        " (SELECT span_id AS __pid, scope_name AS parent_service FROM {spans}) p"
        " JOIN (SELECT parent_span_id AS __pid, scope_name AS child_service"
        f" FROM {{spans}} WHERE {IS_CHILD}) c USING (__pid)"
        " WHERE parent_service != child_service"
        " GROUP BY parent_service, child_service"
    ), {}


def service_dependency_graph(df: DataFrame) -> DataFrame:
    return _run(df, service_dependency_graph_sql())


def trace_details_sql(trace_id: str) -> tuple[str, dict]:
    """P11 point lookup: every span of one trace, time-ordered
    (api/service.go:262, GetTraceSpans)."""
    return (
        f"SELECT {SPAN_ROW}, {DURATION_MS_COL}, {HAS_ERROR_COL} FROM {{spans}}"
        " WHERE trace_id = :trace_id ORDER BY start_time_unix_nano, span_id"
    ), {"trace_id": trace_id}


def trace_details(df: DataFrame, trace_id: str) -> DataFrame:
    return _run(df, trace_details_sql(trace_id))


def span_details_sql(span_id: str) -> tuple[str, dict]:
    """One span by id, with its end time (getSpanDetails)."""
    return (
        f"SELECT {SPAN_ROW}, end_time_unix_nano, {DURATION_MS_COL},"
        f" {HAS_ERROR_COL} FROM {{spans}} WHERE span_id = :span_id"
    ), {"span_id": span_id}


def distinct_services_sql() -> tuple[str, dict]:
    """A9 (api/service.go:1541-1546): DISTINCT resource attr
    'service.name' — `arrayElement(value, indexOf(key, ...))` becomes
    a map lookup."""
    return (
        "SELECT DISTINCT service_name FROM (SELECT"
        " element_at(resource_attributes, 'service.name') AS service_name"
        " FROM {spans}) s WHERE service_name IS NOT NULL"
    ), {}


def distinct_services(df: DataFrame) -> DataFrame:
    return _run(df, distinct_services_sql())


def search_metric_series_sql(
    start_s: int,
    end_s: int,
    query: str = "",
    trace_or_span: str = "",
    percentile: float = 0.95,
    include_errors: bool = False,
) -> tuple[str, dict]:
    """Search-scoped metric time series (api/service.go:1341-1428 +
    1431-1531, backing /api/metrics/{search,pseries,avg,traces,errors}):
    the search predicate slices the spans started in [start_s, end_s),
    rows bucket by start time at the dynamic range/15 interval (T2),
    and each bucket aggregates percentile + count + avg (+ error
    count), gap-filled with zeros (T5).

    The gap fill is ``timeutil.gap_fill``'s, in SQL: one null row per
    bucket from a one-partition ``range`` is unioned into the one
    aggregation, so an empty bucket aggregates only its null row and
    each aggregate's null becomes 0; the few dozen buckets are then
    ordered inside one partition instead of by a global sort."""
    iv = interval_seconds(end_s - start_s)
    # the column name, from the whole percent (the API takes 0-100)
    pcol = f"p{int(round(percentile * 100))}_ms"
    args: dict = {}
    conds = _search_conditions(query, trace_or_span, args)
    conds += _in_range(start_s * NS_PER_S, end_s * NS_PER_S, args)
    # an inverted (zero-length) range is an empty range: no gap rows
    args.update(
        iv=iv, pct=percentile,
        gap_lo=align_epoch(start_s, iv), gap_end=align_epoch(end_s - 1, iv) + 1,
    )
    err_agg, err_col, err_gap = "", "", ""
    if include_errors:
        err_agg = ", coalesce(sum(CAST(__e AS BIGINT)), 0) AS n_errors"
        err_col, err_gap = f", {HAS_EXCEPTION} AS __e", ", NULL"
    epoch = f"(start_time_unix_nano div {NS_PER_S})"
    return (
        "SELECT /*+ COALESCE(1) */ bucket_epoch,"
        f" coalesce(percentile(__d, :pct), 0.0D) AS {pcol},"
        " coalesce(count(__row), 0) AS n,"
        f" coalesce(round(avg(__d), 6), 0.0D) AS avg_ms{err_agg} FROM ("
        f"SELECT {epoch} - {epoch} % :iv AS bucket_epoch, true AS __row,"
        f" {DURATION_MS} AS __d{err_col} FROM {{spans}} {_where(conds)}"
        f" UNION ALL SELECT id, NULL, NULL{err_gap}"
        " FROM range(:gap_lo, :gap_end, :iv, 1))"
        " GROUP BY bucket_epoch SORT BY bucket_epoch"
    ), args


def search_metric_series(
    df: DataFrame, start_s: int, end_s: int, query: str = ""
) -> DataFrame:
    return _run(df, search_metric_series_sql(start_s, end_s, query))


def service_metrics_sql(start_s: int, end_s: int) -> tuple[str, dict]:
    """Per-service rollup of the spans started in [start_s, end_s)
    (api/service.go GetServiceMetrics, /api/metrics/services): count,
    avg, p95, error count — one partial-agg shuffle of |services|
    groups."""
    args: dict = {}
    conds = _in_range(start_s * NS_PER_S, end_s * NS_PER_S, args)
    return (
        f"SELECT scope_name AS service, count(*) AS n,"
        f" round(avg({DURATION_MS}), 6) AS avg_ms,"
        f" round(percentile({DURATION_MS}, 0.95D), 6) AS p95_ms,"
        f" sum(CAST({HAS_EXCEPTION} AS BIGINT)) AS n_errors"
        f" FROM {{spans}} {_where(conds)} GROUP BY scope_name ORDER BY service"
    ), args


def service_metrics(df: DataFrame, start_s: int, end_s: int) -> DataFrame:
    return _run(df, service_metrics_sql(start_s, end_s))


def dependency_drift(df: DataFrame) -> DataFrame:
    """Service-dependency drift: the J1 edge counts
    (:func:`service_dependency_graph`) split into the first vs second
    half of the observed time window, with the per-edge delta — the
    "did the call graph change" question an operator asks after a
    deploy (reference surface: the dependency graph api/service.go:
    365-398 plus a time predicate, composed).

    One self-join keyed on span_id (same shuffle as the plain graph);
    the half assignment is a codegen'd conditional sum against the
    broadcast (min+max)/2 midpoint — integer arithmetic, so Spark and
    the oracle bucket identically. Edges missing from a half count 0
    there (a vanished edge shows calls_h2 = 0, a new one calls_h1 = 0).
    """
    # Integer midpoint: min + (max-min) div 2. (min+max)/2 would round-
    # trip through double and lose precision at ns-epoch magnitude
    # (~3.4e18 ≫ 2^53), diverging from the oracle's integer division.
    mid = df.agg(
        F.min("start_time_unix_nano").alias("__mn"),
        F.max("start_time_unix_nano").alias("__mx"),
    ).select(F.expr("__mn + (__mx - __mn) div 2").alias("__mid"))
    s1 = df.select(
        F.col("span_id").alias("__pid"),
        F.col("scope_name").alias("parent_service"),
    )
    s2 = df.select(
        F.col("parent_span_id").alias("__pid"),
        F.col("scope_name").alias("child_service"),
        F.col("start_time_unix_nano").alias("__ts"),
    ).filter(F.col("__pid") != "")
    h2 = F.col("__ts") >= F.col("__mid")
    return (
        s1.join(s2, "__pid")
        .filter(F.col("parent_service") != F.col("child_service"))
        .join(F.broadcast(mid))
        .groupBy("parent_service", "child_service")
        .agg(
            F.sum(F.when(~h2, 1).otherwise(0)).alias("calls_h1"),
            F.sum(F.when(h2, 1).otherwise(0)).alias("calls_h2"),
        )
        .withColumn("delta", F.col("calls_h2") - F.col("calls_h1"))
        .orderBy("parent_service", "child_service")
    )


def error_traces(df: DataFrame) -> DataFrame:
    """A4/F10: per-trace exception rollup — traces with ≥1 span
    carrying an 'exception' event (api/service.go:598-611 trace list +
    :817 has_error)."""
    return (
        df.groupBy("trace_id")
        .agg(
            F.count("*").alias("span_count"),
            F.sum(F.when(has_exception(), 1).otherwise(0)).alias("error_spans"),
            F.round(F.max(duration_ms()), 6).alias("max_duration_ms"),
        )
        .filter(F.col("error_spans") > 0)
    )


def slow_vs_baseline(df: DataFrame) -> DataFrame:
    """Slow-spans-vs-baseline (api/service.go:560-592): spans slower
    than their endpoint's p95, with the percent-over-baseline (F11).
    The reference issues a second aggregate query and compares
    app-side; here the baseline is a percentile window over the
    endpoint partition — one shuffle, no second scan."""
    from pyspark.sql import Window

    dur = duration_ms()
    w = Window.partitionBy("name")
    return (
        df.withColumn("p95_ms", F.percentile(dur, F.lit(0.95)).over(w))
        .filter(dur > F.col("p95_ms"))
        .select(
            "span_id",
            "name",
            "scope_name",
            F.round(dur, 6).alias("duration_ms"),
            "p95_ms",
            F.round((dur - F.col("p95_ms")) / F.col("p95_ms") * 100.0, 6).alias(
                "pct_over"
            ),
        )
    )


def service_issues(df: DataFrame) -> DataFrame:
    """Issues endpoint (api/service.go:983-1006): per service, spans
    slower than 2× the service average — the A5 nested aggregate
    (`countIf(duration > avg*2)`), rewritten two-phase with a window
    over the same key as the final groupBy (single exchange)."""
    from pyspark.sql import Window

    w = Window.partitionBy("scope_name")
    flagged = df.withColumn("__avg", F.avg("duration_ns").over(w))
    return (
        flagged.groupBy(F.col("scope_name").alias("service"))
        .agg(
            F.count("*").alias("total_spans"),
            F.sum(
                F.when(F.col("duration_ns") > 2 * F.col("__avg"), 1).otherwise(0)
            ).alias("issue_count"),
        )
        .withColumn(
            "issue_rate",
            F.round(F.col("issue_count") / F.col("total_spans") * 100.0, 6),
        )
    )


def critical_path(df: DataFrame) -> DataFrame:
    """Per-trace critical path: the maximum root→leaf duration sum
    through the span tree — the trace-level latency attribution every
    APM digs for (the reference returns the raw tree and leaves the
    walk to the UI; api/service.go:698-757).

    Bottom-up value iteration: best(span) starts at its own duration;
    each round folds children's best into parents
    (groupBy(parent) max + join). Rounds = tree depth — O(log-ish)
    small for real traces, detected by a count/hash fixpoint probe
    exactly like dedup.connected_components; lineage truncated per
    round with lazy localCheckpoint. At 100 TB every round is two
    shuffles keyed on (trace_id, span id) — no driver-side tree walk,
    no trace materialized in one task.
    """
    from pyspark.sql import functions as F

    base = df.select(
        "trace_id",
        "span_id",
        "parent_span_id",
        F.col("duration_ns").cast("double").alias("__d"),
    ).localCheckpoint(eager=False)
    best = base.withColumn("__best", F.col("__d"))

    def _state(b: DataFrame) -> tuple:
        row = b.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(span_id, cast(__best as string)))"),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    state = _state(best)
    for _ in range(32):  # bound ≫ any sane trace depth
        child_max = (
            best.filter(is_child())
            .groupBy(
                F.col("trace_id").alias("__t"),
                F.col("parent_span_id").alias("__p"),
            )
            .agg(F.max("__best").alias("__cmax"))
        )
        best = (
            base.join(
                child_max,
                (F.col("trace_id") == F.col("__t"))
                & (F.col("span_id") == F.col("__p")),
                "left",
            )
            .select(
                "trace_id",
                "span_id",
                "parent_span_id",
                "__d",
                (F.col("__d") + F.coalesce(F.col("__cmax"), F.lit(0.0))).alias(
                    "__best"
                ),
            )
            .localCheckpoint(eager=False)
        )
        new_state = _state(best)
        if new_state == state:
            break
        state = new_state
    else:  # pragma: no cover - loop guard
        raise RuntimeError("critical_path failed to converge in 32 rounds")
    return (
        best.filter(is_root())
        .groupBy("trace_id")
        .agg(F.round(F.max("__best") / NS_PER_MS, 6).alias("critical_ms"))
    )


def critical_path_grouped(df: DataFrame, buckets: int = 256) -> DataFrame:
    """Per-trace critical path via ONE shuffle + per-trace DP: the
    right plan when traces are bounded-size (real traces are KBs),
    which is exactly when the iterative-join form
    (:func:`critical_path`) wastes a fixpoint round-trip per tree
    level.

    Traces are BUCKETED (xxhash64(trace_id) % buckets) before
    applyInPandas: grouping by trace_id directly would spawn one
    pandas frame per trace — measured 5× SLOWER than the iterative
    form at 150k tiny traces from per-group overhead alone. With
    buckets, each task walks hundreds of traces in one Python pass;
    all rows of a trace land in the same bucket by construction.
    Same values as the iterative form (asserted in tests); fall back
    to :func:`critical_path` for adversarial traces too big for one
    task.

    The per-bucket DP is vectorized: a per-trace Python recursion
    walks every span in interpreted code (~30 µs/span); instead, (trace,
    span) keys are factorized once per bucket, parent row indices
    resolved with one sorted lookup, the forest levelled by
    parent-pointer propagation, and children folded into parents
    level-by-level with ``np.maximum.at`` — O(depth) numpy passes over
    the whole bucket instead of O(spans) interpreter steps.
    Identical arithmetic: each span's best is still
    ``duration + max(children best, default 0)`` evaluated bottom-up,
    and per-trace results are max-over-roots (orphan subtrees — parents
    referenced but absent — contribute nothing, exactly like the
    recursive form that only walked from roots). Measured 20× on a
    660k-span bucket (18.9 s → 0.94 s single-core).
    """
    import numpy as np
    import pandas as pd

    def dp_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(
                {
                    "trace_id": pd.Series([], dtype=object),
                    "critical_ms": pd.Series([], dtype=float),
                }
            )
        t_codes, t_uniques = pd.factorize(pdf["trace_id"], sort=False)
        sp = pdf["span_id"].to_numpy()
        pa = pdf["parent_span_id"].to_numpy()
        # one code space for span ids and parent refs so keys agree;
        # width must span parent-only codes too (a parent id that never
        # appears as a span gets a code past the span-id range)
        all_codes, _ = pd.factorize(np.concatenate([sp, pa]), sort=False)
        s_codes = all_codes[:n].astype(np.int64)
        p_codes = all_codes[n:].astype(np.int64)
        width = int(all_codes.max()) + 2
        key = t_codes.astype(np.int64) * width + s_codes
        p_key = t_codes.astype(np.int64) * width + p_codes
        is_root = (pa == "") | pd.isna(pa)
        # parent row index per span (-1 = root or orphan ref)
        order = np.argsort(key, kind="stable")
        sorted_keys = key[order]
        pos = np.clip(np.searchsorted(sorted_keys, p_key), 0, n - 1)
        found = sorted_keys[pos] == p_key
        parent_idx = np.where(found & ~is_root, order[pos], -1)
        # forest levels via parent-pointer propagation
        depth = np.full(n, -1, dtype=np.int64)
        depth[parent_idx < 0] = 0
        for _ in range(n):
            unknown = depth < 0
            if not unknown.any():
                break
            ready = depth[parent_idx[unknown]] >= 0
            idx = np.flatnonzero(unknown)[ready]
            if idx.size == 0:  # pragma: no cover - cycle guard
                raise RuntimeError(
                    "critical_path: parent pointers do not form a forest"
                )
            depth[idx] = depth[parent_idx[idx]] + 1
        best = pdf["duration_ns"].to_numpy(dtype=np.float64).copy()
        for lvl in range(int(depth.max()), 0, -1):
            sel = np.flatnonzero((depth == lvl) & (parent_idx >= 0))
            if sel.size == 0:
                continue
            cmax = np.zeros(n)
            np.maximum.at(cmax, parent_idx[sel], best[sel])
            best += cmax
        out = np.zeros(len(t_uniques))
        roots = np.flatnonzero(is_root)
        np.maximum.at(out, t_codes[roots], best[roots])
        return pd.DataFrame(
            {
                "trace_id": np.asarray(t_uniques, dtype=object),
                "critical_ms": np.round(out / NS_PER_MS, 6),
            }
        )

    return (
        df.select(
            "trace_id",
            "span_id",
            "parent_span_id",
            "duration_ns",
            (F.xxhash64("trace_id") % buckets).alias("__b"),
        )
        .groupBy("__b")
        .applyInPandas(
            lambda pdf: dp_bucket(pdf), "trace_id string, critical_ms double"
        )
    )


def overlap_pairs(df: DataFrame) -> DataFrame:
    """Interval-overlap self-join within each trace: pairs of distinct
    spans whose [start, end) windows intersect, rolled up per trace to
    pair count and the longest pairwise overlap — the "what actually
    ran concurrently" view that the sweep-line peak (spans_concurrency)
    summarizes away (reference surface: the trace-scoped self-join
    family, api/service.go:365-418, plus an interval predicate).

    This is the range-join shape: an equi-key (trace_id) carries the
    shuffle and the interval predicate `a.start < b.end AND b.start <
    a.end` filters inside each co-located group, so the cross product
    is bounded by the trace's own span count — never the table. At
    100 TB the same plan rides the trace-bucketed layout (zero extra
    exchange); for interval joins WITHOUT a bounding equi-key, the
    standard rewrite is to bin time into fixed buckets, equi-join on
    the bucket, and dedup pairs straddling a boundary.

    All arithmetic (overlap = least(ends) − greatest(starts)) is int64
    nanoseconds — engine-exact.
    """
    cols = ["trace_id", "span_id", "start_time_unix_nano", "end_time_unix_nano"]
    a = df.select(*cols)
    b = df.select(
        F.col("trace_id"),
        F.col("span_id").alias("span_id_b"),
        F.col("start_time_unix_nano").alias("start_b"),
        F.col("end_time_unix_nano").alias("end_b"),
    )
    pairs = (
        a.join(b, "trace_id")
        .filter(
            (F.col("span_id") < F.col("span_id_b"))
            & (F.col("start_time_unix_nano") < F.col("end_b"))
            & (F.col("start_b") < F.col("end_time_unix_nano"))
        )
        .select(
            "trace_id",
            (
                F.least("end_time_unix_nano", "end_b")
                - F.greatest("start_time_unix_nano", "start_b")
            ).alias("__ov_ns"),
        )
    )
    return (
        pairs.groupBy("trace_id")
        .agg(
            F.count("*").alias("n_overlap_pairs"),
            F.max("__ov_ns").alias("max_overlap_ns"),
        )
        .orderBy(F.col("n_overlap_pairs").desc(), F.col("trace_id").asc())
        .limit(50)
    )

