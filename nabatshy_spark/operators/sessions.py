"""Sessionization + top-K-per-group — window-function operators beyond
the reference's surface (SURVEY §2.8 notes the reference exposes no
window functions; these are the standard log-analytics extensions a
user of an events table expects, built on Window specs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# a session ends after this long without an event from its user
GAP_MINUTES = 30
# rows kept per group by topk_per_group
TOPK = 3
# events per path of top_session_paths: the sessions of the events
# table are short enough that longer paths are all unique
PATH_LEN = 2


def sessionize(df: DataFrame) -> DataFrame:
    """Assign session ids over (user_id, ts): a new session starts when
    the gap since the user's previous event exceeds ``GAP_MINUTES``
    (lag + running sum — the classic batch sessionization).

    One shuffle on user_id; both window functions share the same
    partitioning and ordering, so Catalyst plans a single sort+exchange.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(
        F.lag("ts").over(w)
    )
    new_session = F.when(
        gap.isNull() | (gap > GAP_MINUTES * 60), 1
    ).otherwise(0)
    return df.withColumn(
        "session_seq",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def session_stats(df: DataFrame) -> DataFrame:
    """Per-session rollup: event count, start/end, duration seconds."""
    s = sessionize(df)
    return s.groupBy(F.col("user_id"), F.col("session_seq")).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("duration_secs"),
    )


def funnel(
    df: DataFrame,
    steps: list[str],
) -> DataFrame:
    """Ordered-sequence funnel: for each user, the first event of
    step[i] must occur strictly after — and within 24 hours
    of — their first qualifying event of step[i-1]. Returns one row:
    per-step distinct-user counts plus the overall conversion rate
    (last step / first step, rounded).

    Each step is a groupBy(user) min(ts) followed by a join back on
    user — all stages share the user_id hash partitioning, so after the
    first exchange the per-step joins and aggregations co-locate and
    AQE collapses them without extra shuffles. The per-step frontier
    (one row per surviving user) only shrinks, so later stages are
    broadcast-size long before the funnel ends even at 100 TB of raw
    events.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    cur = (
        df.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    for i, step in enumerate(steps[1:], 1):
        nxt = df.filter(F.col("event_type") == step).select(
            F.col("user_id"), F.col("ts").alias("e_ts")
        )
        keep = [F.first(f"t{j}").alias(f"t{j}") for j in range(i)]
        cur = (
            cur.join(nxt, "user_id", "left")
            .groupBy("user_id")
            .agg(
                *keep,
                F.min(
                    F.when(
                        (F.col("e_ts") > F.col(f"t{i-1}"))
                        & (
                            F.col("e_ts")
                            <= F.col(f"t{i-1}")
                            + F.expr("INTERVAL 24 HOURS")
                        ),
                        F.col("e_ts"),
                    )
                ).alias(f"t{i}"),
            )
        )
    last = len(steps) - 1
    return cur.agg(
        *[F.count(f"t{i}").alias(f"n_{s}") for i, s in enumerate(steps)],
        # try_divide: an empty funnel (no step-0 users) yields NULL
        # conv_rate, not an ANSI DIVIDE_BY_ZERO error
        F.round(F.try_divide(F.count(f"t{last}"), F.count("t0")), 6).alias(
            "conv_rate"
        ),
    )


def topk_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Top-``TOPK`` rows per group via row_number — per-group heaps
    after one shuffle on the group key; never a global sort."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(order_col).desc(), F.col(tiebreak_col).asc()
    )
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
    )


def top_session_paths(df: DataFrame, k: int = 20) -> DataFrame:
    """Most common length-``PATH_LEN`` event-type paths WITHIN sessions
    — the sequence-mining rollup behind "what do users do next"
    analyses. Composes :func:`sessionize` with a lead-window n-gram:
    every window of ``PATH_LEN`` consecutive events inside one session
    becomes a '>'-joined path, counted corpus-wide, top ``k``.

    The sequence order is (ts, id) — the id tiebreak makes paths
    deterministic under equal timestamps (session ASSIGNMENT is
    tie-invariant, sequences are not). Two shuffles total: the
    session window (user key) and the path count; leads never cross a
    session boundary because the window partitions on (user, session).
    """
    s = sessionize(df)
    w = Window.partitionBy("user_id", "session_seq").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    steps = [F.col("event_type")] + [
        F.lead("event_type", i).over(w) for i in range(1, PATH_LEN)
    ]
    path = F.concat_ws(">", *steps)
    complete = F.lead("event_type", PATH_LEN - 1).over(w).isNotNull()
    return (
        s.select(path.alias("path"), complete.alias("__ok"))
        .filter(F.col("__ok"))
        .groupBy("path")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(k)
    )
