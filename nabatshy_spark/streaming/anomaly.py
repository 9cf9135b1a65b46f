"""Streaming per-key anomaly detection: each key carries Welford
running mean/variance in operator state, and an arriving value is
flagged when it deviates more than ``z`` standard deviations from the
statistics of the PRIOR values — the online twin of the batch
``series_anomalies`` query (which scores against the whole series
after the fact).

Scale shape: state is three floats per key, hash-partitioned like any
groupBy — 10⁹ keys is 10⁹ small tuples spread across executors, and a
micro-batch touches only keys with new data. Values inside a batch are
processed in event-time order so the emitted flags are deterministic
for a given chunking; cross-batch order is whatever arrived, which is
the honest semantics of an online detector (the batch twin is the
exact-after-the-fact answer, same division of labor as sessionization
vs ``operators/sessions``).

State TTL: a key idle past ``idle_ttl`` (event time, enforced via
EventTimeTimeout once the watermark passes last-seen + TTL) is
EVICTED — its statistics are forgotten and rebuild on the next
arrival. Unbounded key churn (one-shot users) otherwise grows state
forever; the cost of eviction is only that a returning key warms up
through ``min_obs`` again.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("zscore", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("mean", DoubleType()),
        StructField("m2", DoubleType()),
    ]
)


def _anomaly_fn(z: float, min_obs: int, idle_ttl_ms: int):
    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # idle key: forget its statistics
            return
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        rows = []
        parts = [pdf for pdf in pdfs]
        batch = pd.concat(parts).sort_values("ts") if parts else pd.DataFrame()
        last_ms = 0
        for ts, v in zip(batch.get("ts", []), batch.get("value", [])):
            v = float(v)
            last_ms = max(last_ms, int(pd.Timestamp(ts).value // 1_000_000))
            if n >= min_obs:
                sd = math.sqrt(m2 / n)
                if sd > 0 and abs(v - mean) > z * sd:
                    rows.append(
                        (key[0], ts, v, round((v - mean) / sd, 6))
                    )
            # Welford update AFTER scoring: a spike never vouches for
            # itself.
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)
        state.update((n, mean, m2))
        if last_ms:
            state.setTimeoutTimestamp(last_ms + idle_ttl_ms)
        if rows:
            yield pd.DataFrame(rows, columns=["user_id", "ts", "value", "zscore"])

    return fn


def anomaly_stream(
    events: DataFrame,
    z: float = 3.0,
    min_obs: int = 5,
    idle_ttl_days: int = 30,
) -> DataFrame:
    """Streaming z-score anomaly flags per user: rows more than ``z``
    running standard deviations from that user's prior values, once
    ``min_obs`` observations have been seen. A key idle (event-time)
    for ``idle_ttl_days`` is evicted from state. ``events`` must be a
    streaming frame with ``user_id``, event-time ``ts``, and a numeric
    ``value`` column."""
    return (
        events.select("user_id", "ts", F.col("value").cast("double"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.col("user_id"))
        .applyInPandasWithState(
            _anomaly_fn(z, min_obs, idle_ttl_days * 86_400_000),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
