"""Span-table serving operators — the reference's REST query surface
(api/service.go) re-expressed over the denormalized span DataFrame
(schema: nabatshy_spark.schema.SPAN_SCHEMA).

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

from nabatshy_spark.operators.search import AttributeQuery, parse_attribute_query

NS_PER_MS = 1_000_000.0


def duration_ms_col() -> Column:
    return F.round(F.col("duration_ns") / F.lit(NS_PER_MS), 6).alias("duration_ms")


def _has_key(attrs: Column, key: str) -> Column:
    return F.array_contains(F.map_keys(attrs), F.lit(key))


def _has_value(attrs: Column, value: str) -> Column:
    return F.array_contains(F.map_values(attrs), F.lit(value))


def attr_pair(attrs: Column, key: str, value: str) -> Column:
    """P6 as the reference does it: key present AND value present —
    checked independently (api/service.go:744-751)."""
    return _has_key(attrs, key) & _has_value(attrs, value)


def attr_pair_negated(attrs: Column, key: str, value: str) -> Column:
    """P7: ``NOT has(key,k) OR (has(key,k) AND NOT has(value,v))``
    (api/service.go:753-771)."""
    return (~_has_key(attrs, key)) | (_has_key(attrs, key) & ~_has_value(attrs, value))


def has_error_col() -> Column:
    """F10: span carries an event named 'exception'
    (api/service.go:808-820 projection)."""
    return F.exists(F.col("events"), lambda e: e["name"] == F.lit("exception")).alias(
        "has_error"
    )


def _condition(c: AttributeQuery) -> Column:
    """One DSL condition over a span row (api/service.go:707-771):
    special keys ``name``/``scope`` hit scalar columns; generic keys
    check span AND resource attributes (match in either; negation must
    hold in both)."""
    if c.key == "name":
        col = F.col("name")
        return col != F.lit(c.value) if c.negate else col == F.lit(c.value)
    if c.key == "scope":
        col = F.col("scope_name")
        return col != F.lit(c.value) if c.negate else col == F.lit(c.value)
    span_attrs, res_attrs = F.col("span_attributes"), F.col("resource_attributes")
    if c.negate:
        return attr_pair_negated(span_attrs, c.key, c.value) & attr_pair_negated(
            res_attrs, c.key, c.value
        )
    return attr_pair(span_attrs, c.key, c.value) | attr_pair(res_attrs, c.key, c.value)


def _broad_search(q: str) -> Column:
    """P8 broad OR search (api/service.go:778-789): name, scope,
    trace_id, span_id, or any attribute key/value."""
    lit = F.lit(q)
    return (
        (F.col("name") == lit)
        | (F.col("scope_name") == lit)
        | (F.col("trace_id") == lit)
        | (F.col("span_id") == lit)
        | _has_key(F.col("span_attributes"), q)
        | _has_value(F.col("span_attributes"), q)
        | _has_key(F.col("resource_attributes"), q)
        | _has_value(F.col("resource_attributes"), q)
    )


def search_predicate(
    query: str = "",
    trace_or_span: str = "trace",
    start_ns: int | None = None,
    end_ns: int | None = None,
) -> Column:
    """The WHERE clause shared by search and the search-metrics
    endpoints (api/service.go:698-811 and :1341-1428 paste the same
    SQL fragments; here it's one Column builder)."""
    pred = F.lit(True)
    if query:
        conds = parse_attribute_query(query)
        if conds is None:
            pred = _broad_search(query)
        else:
            for c in conds:
                pred = pred & _condition(c)
    if trace_or_span == "trace":
        pred = pred & (F.col("parent_span_id") == "")   # P2
    elif trace_or_span == "span":
        pred = pred & (F.col("parent_span_id") != "")
    if start_ns is not None:
        pred = pred & (F.col("start_time_unix_nano") >= F.lit(start_ns))
    if end_ns is not None:
        pred = pred & (F.col("end_time_unix_nano") <= F.lit(end_ns))
    return pred


# the columns search_spans returns, and so its valid sort fields
SEARCH_COLUMNS = (
    "trace_id", "span_id", "parent_span_id", "name", "scope_name",
    "start_time_unix_nano", "duration_ms", "has_error",
)


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
    """The full search lifecycle (§3.2, api/service.go:698-891):
    DSL parse (fallback → broad search), trace/span mode (P10), time
    range (P3), has_error projection, dynamic sort (O3), pagination
    (O4; span_id appended as total-order tiebreaker)."""
    if sort_field not in SEARCH_COLUMNS:
        raise ValueError(f"invalid sort field '{sort_field}'")
    pred = search_predicate(query, trace_or_span, start_ns, end_ns)
    sort_col = F.col(sort_field)
    primary = sort_col.desc() if sort_order == "desc" else sort_col.asc()
    return (
        df.filter(pred)
        .select(
            "trace_id",
            "span_id",
            "parent_span_id",
            "name",
            "scope_name",
            "start_time_unix_nano",
            duration_ms_col(),
            has_error_col(),
        )
        .orderBy(primary, F.col("span_id").asc())
        .offset((page - 1) * page_size)
        .limit(page_size)
    )


def slowest_traces(df: DataFrame, n: int) -> DataFrame:
    """P1/P2/O1/O2 (api/service.go:177-185): the ``n`` slowest root
    spans; start time then trace id break duration ties."""
    return (
        df.filter(F.col("parent_span_id") == "")
        .select(
            "trace_id", "name", "scope_name", duration_ms_col(),
            "start_time_unix_nano",
        )
        .orderBy(
            F.col("duration_ms").desc(),
            F.col("start_time_unix_nano").desc(),
            F.col("trace_id").asc(),
        )
        .limit(n)
    )


def endpoint_latency(df: DataFrame) -> DataFrame:
    """Per-endpoint stats (api/service.go:315-363): count, avg, min,
    max, p50/p95/p99 over duration_ms, sorted by avg desc."""
    dur = F.col("duration_ns") / F.lit(NS_PER_MS)
    p = F.percentile(dur, F.lit([0.5, 0.95, 0.99]))
    return (
        df.groupBy("name")
        .agg(
            F.count("*").alias("call_count"),
            F.round(F.avg(dur), 6).alias("avg_ms"),
            F.round(F.min(dur), 6).alias("min_ms"),
            F.round(F.max(dur), 6).alias("max_ms"),
            p.alias("__p"),
        )
        .select(
            "name",
            "call_count",
            "avg_ms",
            "min_ms",
            "max_ms",
            # percentiles unrounded: interpolation is bit-identical
            # across engines, and rounding midpoints of 6-decimal ms
            # values hits the 7th-digit-5 boundary where engine
            # rounding modes diverge (see plans/queries.py policy)
            F.col("__p")[0].alias("p50_ms"),
            F.col("__p")[1].alias("p95_ms"),
            F.col("__p")[2].alias("p99_ms"),
        )
    )


def service_dependency_graph(df: DataFrame) -> DataFrame:
    """J1 (api/service.go:365-398): self equi-join child.parent_span_id
    = parent.span_id, keep cross-service edges, count call pairs.

    Shuffle partitions on the join key; the ≠ predicate stays a
    post-join filter exactly like the reference's SQL.
    """
    s1 = df.select(
        F.col("span_id").alias("__pid"), F.col("scope_name").alias("parent_service")
    )
    s2 = df.select(
        F.col("parent_span_id").alias("__pid"), F.col("scope_name").alias("child_service")
    ).filter(F.col("__pid") != "")
    return (
        s1.join(s2, "__pid")
        .filter(F.col("parent_service") != F.col("child_service"))
        .groupBy("parent_service", "child_service")
        .agg(F.count("*").alias("call_count"))
    )


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
    has_exc = F.exists("events", lambda e: e["name"] == F.lit("exception"))
    return (
        df.groupBy("trace_id")
        .agg(
            F.count("*").alias("span_count"),
            F.sum(F.when(has_exc, 1).otherwise(0)).alias("error_spans"),
            F.round(F.max(F.col("duration_ns") / F.lit(NS_PER_MS)), 6).alias(
                "max_duration_ms"
            ),
        )
        .filter(F.col("error_spans") > 0)
    )


def trace_details(df: DataFrame, trace_id: str) -> DataFrame:
    """P11 point lookup: every span of one trace, time-ordered
    (api/service.go:262, GetTraceSpans)."""
    return (
        df.filter(F.col("trace_id") == trace_id)
        .select(
            "trace_id",
            "span_id",
            "parent_span_id",
            "name",
            "scope_name",
            "start_time_unix_nano",
            duration_ms_col(),
            has_error_col(),
        )
        .orderBy("start_time_unix_nano", "span_id")
    )


def distinct_services(df: DataFrame) -> DataFrame:
    """A9 (api/service.go:1541-1546): DISTINCT resource attr
    'service.name' — `arrayElement(value, indexOf(key, ...))` becomes
    a map lookup."""
    return (
        df.select(
            F.element_at(F.col("resource_attributes"), F.lit("service.name")).alias(
                "service_name"
            )
        )
        .filter(F.col("service_name").isNotNull())
        .distinct()
    )


def slow_vs_baseline(df: DataFrame, pct: float = 0.95) -> DataFrame:
    """Slow-spans-vs-baseline (api/service.go:560-592): spans slower
    than their endpoint's p95, with the percent-over-baseline (F11).
    The reference issues a second aggregate query and compares
    app-side; here the baseline is a percentile window over the
    endpoint partition — one shuffle, no second scan."""
    from pyspark.sql import Window

    dur = F.col("duration_ns") / F.lit(NS_PER_MS)
    w = Window.partitionBy("name")
    return (
        df.withColumn("p95_ms", F.percentile(dur, F.lit(pct)).over(w))
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


def search_metric_series(
    df: DataFrame,
    start_s: int,
    end_s: int,
    query: str = "",
    trace_or_span: str = "",
    percentile: float = 0.95,
    include_errors: bool = False,
) -> DataFrame:
    """Search-scoped metric time series (api/service.go:1341-1428 +
    1431-1531, backing /api/metrics/{search,pseries,avg,traces,errors}):
    the search predicate slices the spans, rows bucket by start time at
    the dynamic range/15 interval (T2), and each bucket aggregates
    percentile + count + avg (+ error count), gap-filled with zeros
    (T5). The reference string-pastes this SQL per endpoint; here every
    metrics route is the same single-scan DataFrame plan."""
    from nabatshy_spark.functions.timeutil import gap_fill, interval_seconds

    iv = interval_seconds(end_s - start_s)
    pcol = f"p{int(round(percentile * 100))}_ms"
    sliced = df.filter(
        search_predicate(query, trace_or_span)
        & (F.col("start_time_unix_nano") >= F.lit(start_s * 1_000_000_000))
        & (F.col("start_time_unix_nano") < F.lit(end_s * 1_000_000_000))
    )
    ep = F.expr("start_time_unix_nano div 1000000000")
    dur_ms = F.col("duration_ns") / F.lit(NS_PER_MS)
    aggs = [
        F.percentile(dur_ms, F.lit(percentile)).alias(pcol),
        F.count("*").alias("n"),
        F.round(F.avg(dur_ms), 6).alias("avg_ms"),
    ]
    fills: dict = {pcol: 0.0, "n": 0, "avg_ms": 0.0}
    if include_errors:
        aggs.append(
            F.sum(has_error_col().cast("long")).alias("n_errors")
        )
        fills["n_errors"] = 0
    agg = sliced.groupBy((ep - ep % F.lit(iv)).alias("bucket_epoch")).agg(*aggs)
    agg_ts = agg.select(
        F.timestamp_seconds("bucket_epoch").alias("bucket"), *fills.keys()
    )
    filled = gap_fill(agg_ts, "bucket", fills, start_s, end_s - 1, iv)
    out = [
        F.unix_timestamp("bucket").alias("bucket_epoch"),
        pcol,
        F.col("n").cast("long").alias("n"),
        "avg_ms",
    ]
    if include_errors:
        out.append(F.col("n_errors").cast("long").alias("n_errors"))
    return filled.select(*out)


def service_metrics(
    df: DataFrame, start_s: int, end_s: int, percentile: float = 0.95
) -> DataFrame:
    """Per-service rollup in a time range (api/service.go
    GetServiceMetrics, /api/metrics/services): count, avg, pNN, error
    count — one partial-agg shuffle of |services| groups."""
    pcol = f"p{int(round(percentile * 100))}_ms"
    dur_ms = F.col("duration_ns") / F.lit(NS_PER_MS)
    return (
        df.filter(
            (F.col("start_time_unix_nano") >= F.lit(start_s * 1_000_000_000))
            & (F.col("start_time_unix_nano") < F.lit(end_s * 1_000_000_000))
        )
        .groupBy(F.col("scope_name").alias("service"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(dur_ms), 6).alias("avg_ms"),
            F.round(F.percentile(dur_ms, F.lit(percentile)), 6).alias(pcol),
            F.sum(has_error_col().cast("long")).alias("n_errors"),
        )
        .orderBy("service")
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
            best.filter(F.col("parent_span_id") != "")
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
        best.filter(F.col("parent_span_id") == "")
        .groupBy("trace_id")
        .agg(F.round(F.max("__best") / 1_000_000.0, 6).alias("critical_ms"))
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

    The per-bucket DP is vectorized (round 12, guide §4.2): the former
    per-trace Python recursion walked every span in interpreted code
    (~30 µs/span); this version factorizes (trace, span) keys once per
    bucket, resolves parent row indices with one sorted lookup, levels
    the forest by parent-pointer propagation, and folds children into
    parents level-by-level with ``np.maximum.at`` — O(depth) numpy
    passes over the whole bucket instead of O(spans) interpreter steps.
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
                "critical_ms": np.round(out / 1_000_000.0, 6),
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
