"""Statistical operators over fact tables: rolling time-range
aggregates, z-score outliers, equi-width histograms, correlation — the
profiling/monitoring layer a pipeline runs next to ingest (the
reference exposes only fixed-bucket series, api/service.go:1341-1428;
these are the standard generalizations).

All pure DataFrame plans: one shuffle each (the window partition or
the group-by), aggregation JVM-side, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# lag terms of ewma_last: weights below 2^-7 are dropped
_EWMA_DEPTH = 8


def rolling_range_agg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_seconds: int,
) -> DataFrame:
    """Per row: count/sum of the key's rows in the trailing
    ``window_seconds`` (inclusive of the current row) — the
    RANGE-frame window (§2.8) behind rate limiting, rolling quotas and
    trailing-average features. One hash shuffle on the key; within a
    partition Spark keeps a sliding frame over the sorted rows, so
    cost is O(rows), not O(rows × frame)."""
    sec = F.unix_micros(F.col(ts_col).cast("timestamp")) / 1_000_000.0
    w = (
        Window.partitionBy(key_col)
        .orderBy(sec)
        .rangeBetween(-window_seconds, 0)
    )
    return df.select(
        F.col(key_col),
        F.col(ts_col),
        F.count("*").over(w).alias("n_trailing"),
        F.round(F.sum(value_col).over(w), 4).alias("sum_trailing"),
    )


def zscore_outliers(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Rows whose value deviates more than 2.5 sample
    standard deviations from their group mean. Group moments come from
    an aggregate + broadcast-back join (NOT an unbounded window — a
    whole-partition window frame would buffer each group in one task,
    while the agg is partial/map-side combined and its result is
    group-cardinality-sized)."""
    moments = df.groupBy(group_col).agg(
        F.avg(value_col).alias("__mu"),
        F.stddev_samp(value_col).alias("__sd"),
    )
    z = (F.col(value_col) - F.col("__mu")) / F.col("__sd")
    return (
        df.join(F.broadcast(moments), group_col)
        .filter(F.col("__sd") > 0)
        .withColumn("zscore", F.round(z, 6))
        .filter(F.abs(F.col("zscore")) > 2.5)
        .drop("__mu", "__sd")
    )


def equi_width_histogram(df: DataFrame, value_col: str) -> DataFrame:
    """Equi-width 20-bucket histogram: global min/max (one O(1)-output agg,
    broadcast back as a 1-row join) then width_bucket per row and a
    bucket count — two scans, no sort, no driver loop. The max value
    lands in the top bucket (width_bucket's half-open upper edge is
    folded down) so counts sum to n."""
    bounds = df.agg(
        F.min(value_col).alias("__lo"), F.max(value_col).alias("__hi")
    )
    buckets = 20
    width = (F.col("__hi") - F.col("__lo")) / buckets
    # explicit floor arithmetic (≡ width_bucket for in-range values)
    # so an oracle can replicate the exact same FP operations
    b = F.least(
        F.floor((F.col(value_col) - F.col("__lo")) / width).cast("int") + 1,
        F.lit(buckets),
    )
    return (
        df.join(F.broadcast(bounds))
        .select(
            b.alias("bucket"),
            F.round(F.col("__lo") + (b - 1) * width, 4).alias("bucket_lo"),
            F.round(F.col("__lo") + b * width, 4).alias("bucket_hi"),
        )
        .groupBy("bucket", "bucket_lo", "bucket_hi")
        .agg(F.count("*").alias("n"))
    )


def correlations(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation over ``cols`` in ONE aggregate
    pass (all pairs as expressions in a single agg — one scan, one
    tiny shuffle of the combined moment state), unpivoted to
    (col_a, col_b, corr) rows."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"__c{i}") for i, (a, b) in enumerate(pairs)
    ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', __c{i}" for i, (a, b) in enumerate(pairs)
    )
    return one.selectExpr(
        f"stack({len(pairs)}, {stack_args}) as (col_a, col_b, corr)"
    )


def winsorize(
    df: DataFrame, value_col: str
) -> DataFrame:
    """Winsorization: clip ``value_col`` to its [1%, 99%] exact
    percentiles — the outlier-taming pre-pass before scaling/training.
    Bounds come from ONE scalar aggregate broadcast back (two numbers;
    never a sort of the data); the clip is codegen'd least/greatest.
    At 100 TB the same-alias switch is approx_percentile bounds."""
    bounds = df.agg(
        F.expr(f"percentile({value_col}, 0.01)").alias("__lo"),
        F.expr(f"percentile({value_col}, 0.99)").alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds))
        .withColumn(
            f"{value_col}_winsorized",
            F.round(
                F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")),
                6,
            ),
        )
        .drop("__lo", "__hi")
    )


def ewma_last(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    order_col: str,
) -> DataFrame:
    """Per-key exponentially-weighted moving average (α=1/2) of the
    last 8 values, reported at each key's latest row — the
    classic "current smoothed level" feature for monitoring/features.

    Implemented as 8 explicit ``lag`` terms over one window
    (no recursion — Spark has no recursive per-row state, and a bounded
    lag pyramid is the scale-safe shape: one partition-local pass).
    Cross-engine determinism by construction: weights are powers of
    two (exact doubles) and the weighted sum is a FIXED left-to-right
    expression tree, so Spark and DuckDB compute identical IEEE bits —
    no aggregate reassociation anywhere.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, order_col)
    out = df.select(
        key_col, ts_col, order_col, F.col(val_col).cast("double").alias("__v0")
    )
    for j in range(1, _EWMA_DEPTH):
        out = out.withColumn(f"__v{j}", F.lag("__v0", j).over(w))
    num = " + ".join(
        f"coalesce(__v{j}, 0.0d) * {0.5 ** j!r}d" for j in range(_EWMA_DEPTH)
    )
    den = " + ".join(
        f"(CASE WHEN __v{j} IS NULL THEN 0.0d ELSE {0.5 ** j!r}d END)"
        for j in range(_EWMA_DEPTH)
    )
    rn = F.row_number().over(
        Window.partitionBy(key_col).orderBy(
            F.col(ts_col).desc(), F.col(order_col).desc()
        )
    )
    # try_divide: a key whose visible lag window is entirely NULL has
    # denominator 0 — the smoothed level is undefined (NULL), not a
    # crash (ANSI mode raises DIVIDE_BY_ZERO on plain `/`).
    scored = (
        out.withColumn("__ewma", F.expr(f"try_divide(({num}), ({den}))"))
        .withColumn("__rn", rn)
        .withColumn(
            "__n", F.count("*").over(Window.partitionBy(key_col))
        )
    )
    return (
        scored.filter(F.col("__rn") == 1)
        .select(
            key_col,
            F.col("__n").alias("n_events"),
            F.round("__ewma", 6).alias("ewma_value"),
        )
        .orderBy(key_col)
    )


def cumulative_sum_ordered(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    extra_value_cols: list[str] | None = None,
) -> DataFrame:
    """Running sum of ``value_col`` over a GLOBAL total order, plus the
    grand total — appended as ``__cum`` / ``__tot`` — without ever
    sorting the whole relation on one task.

    A plain ``Window.orderBy(...)`` with no partition moves every row
    to a single partition: fine for a config-bounded input, a
    scale-killer for a data-sized one (a 20B-row part dimension at
    100 TB). This is the classic partitioned prefix sum instead:

    1. ``repartitionByRange`` on the order — partitions are globally
       ordered ranges, rows sort locally within each;
    2. per-partition running sums (window PARTITIONED by
       ``spark_partition_id`` — never a global sort);
    3. per-partition totals (one tiny aggregate, ≤ shuffle-partitions
       rows) turned into exclusive prefix offsets by a window over
       that CONFIG-bounded relation (partitioned by a constant so no
       single-partition WindowExec warning fires), broadcast-joined
       back: ``__cum = local_cum + offset``.

    The result equals the global window exactly for DECIMAL values
    (decimal addition is associative, so regrouping by partition cannot
    change the sum) whenever ``order_cols`` define a TOTAL order —
    include a unique tiebreaker; a tie straddling a range boundary
    would otherwise split its running sum nondeterministically.

    Alongside ``__cum`` / ``__tot`` the operator emits ``__rank`` (the
    1-based position in the global order — a running COUNT through the
    same two phases) and ``__n`` (total rows), so rank-arithmetic
    consumers (revenue_gini's Lorenz index) scale the same way.
    ``__rank`` is LONG: the operator exists for dimensions past one
    task's sort (billions of rows), where an int rank — and consumer
    arithmetic like 4·rank — would overflow at 2^31.
    ``extra_value_cols`` adds further running sums over the SAME order
    as ``__cum_<name>`` columns in the same pass (heaps_law_fit
    cumulates tokens and new-term introductions together).
    """
    extra = list(extra_value_cols or [])
    # Pin the range-partitioned relation ONCE:
    # repartitionByRange samples nondeterministically for its bounds,
    # and `ranged` feeds two separate plan subtrees (`local` windows
    # and the `psums` aggregate). Without pinning, consistent __pid
    # values across the two consumers rest entirely on Catalyst's
    # ReuseExchange deduplicating the exchange — if reuse is disabled
    # or a future edit de-canonicalizes the subtrees, boundary rows
    # get DIFFERENT partition ids in the two branches and __cum/__rank
    # silently corrupt. localCheckpoint (lazy; MEMORY_AND_DISK, so it
    # spills rather than OOMs) materializes the sampled partitioning
    # exactly once by construction, not by optimizer rule.
    ranged = (
        df.repartitionByRange(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    wloc_sort = Window.partitionBy("__pid").orderBy(*order_cols)
    wloc = wloc_sort.rowsBetween(Window.unboundedPreceding, 0)
    local = ranged.withColumn(
        "__lcum", F.sum(value_col).over(wloc)
    ).withColumn("__lrn", F.row_number().over(wloc_sort))
    for c in extra:
        local = local.withColumn(f"__lcum_{c}", F.sum(c).over(wloc))
    psums = ranged.groupBy("__pid").agg(
        F.sum(value_col).alias("__s"),
        F.count("*").alias("__c"),
        *[F.sum(c).alias(f"__s_{c}") for c in extra],
    )
    # Partition the offsets window by a NON-FOLDABLE constant: a bare
    # lit(0) is constant-folded out of the partition spec, which turns
    # this back into the global-order WindowExec (and its
    # single-partition warning) the operator exists to avoid. pmod of
    # a non-negative column by 1 is always 0 but involves a column, so
    # it survives folding; the window input is the per-partition sum
    # relation — bounded by spark.sql.shuffle.partitions (config), not
    # by data.
    woff = Window.partitionBy(F.pmod(F.col("__pid"), F.lit(1))).orderBy(
        "__pid"
    )
    offs = psums.select(
        "__pid",
        F.coalesce(
            F.sum("__s").over(
                woff.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__off"),
        F.coalesce(
            F.sum("__c").over(
                woff.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__coff"),
        F.sum("__s")
        .over(
            woff.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("__tot"),
        F.sum("__c")
        .over(
            woff.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("__n"),
        *[
            F.coalesce(
                F.sum(f"__s_{c}").over(
                    woff.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias(f"__off_{c}")
            for c in extra
        ],
    )
    out = (
        local.join(F.broadcast(offs), "__pid")
        .withColumn("__cum", F.col("__lcum") + F.col("__off"))
        .withColumn(
            "__rank", (F.col("__lrn") + F.col("__coff")).cast("long")
        )
    )
    for c in extra:
        out = out.withColumn(
            f"__cum_{c}", F.col(f"__lcum_{c}") + F.col(f"__off_{c}")
        )
    return out.drop(
        "__pid",
        "__lcum",
        "__lrn",
        "__off",
        "__coff",
        *[f"__lcum_{c}" for c in extra],
        *[f"__off_{c}" for c in extra],
    )


def running_min_prev_ordered(
    df: DataFrame,
    order_cols: list,
    value_col: str,
) -> DataFrame:
    """EXCLUSIVE-prefix running minimum over a global total order,
    appended as ``__prevmin`` (NULL for the globally first row) — the
    staircase primitive behind 2-D skylines (pareto_suppliers), in the
    same two-phase shape as :func:`cumulative_sum_ordered`.

    Range-partition on the order; within each partition take the local
    exclusive-prefix min; per-partition FULL mins (a config-bounded
    aggregate) give each partition the min over all earlier
    partitions; ``least`` of the two (Spark's least skips NULLs) is the
    global exclusive-prefix min. Min is associative and idempotent, so
    regrouping cannot change it, and the exclusive frame splits
    cleanly: rows before row r are exactly the rows before it in its
    own partition plus every row of earlier partitions.
    """
    # Pinned once for the same two-consumer reason as
    # cumulative_sum_ordered: `local` and `pmins` must see identical
    # sampled range bounds by construction.
    ranged = (
        df.repartitionByRange(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    wloc = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn("__lprev", F.min(value_col).over(wloc))
    pmins = ranged.groupBy("__pid").agg(F.min(value_col).alias("__m"))
    # Non-foldable constant partition — see cumulative_sum_ordered.
    woff = Window.partitionBy(F.pmod(F.col("__pid"), F.lit(1))).orderBy(
        "__pid"
    )
    offs = pmins.select(
        "__pid",
        F.min("__m")
        .over(woff.rowsBetween(Window.unboundedPreceding, -1))
        .alias("__prevpart"),
    )
    return (
        local.join(F.broadcast(offs), "__pid")
        .withColumn("__prevmin", F.least("__lprev", "__prevpart"))
        .drop("__pid", "__lprev", "__prevpart")
    )
