"""Streaming observability: a StreamingQueryListener that records
per-micro-batch progress (input rows, processing rate, batch duration,
state size) into a driver-side buffer — the numbers an operator alerts
on (falling rate, growing batch duration, state blow-up).

Driver-side by design: progress events are emitted once per batch on
the driver regardless of cluster size, so the buffer grows at
batches/sec, not data volume — the one place collecting to the driver
is the RIGHT scale shape.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class ProgressRecorder(StreamingQueryListener):
    """Buffers one row per micro-batch in ``rows``."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        self.rows.append({
            "query_name": p.get("name") or p.get("id", ""),
            "batch_id": int(p.get("batchId", -1)),
            "input_rows": int(p.get("numInputRows", 0)),
            "rows_per_sec": float(p.get("processedRowsPerSecond") or 0.0),
            "batch_duration_ms": int(
                (p.get("durationMs") or {}).get("triggerExecution", 0)
            ),
            "state_rows": int(
                sum(
                    s.get("numRowsTotal", 0)
                    for s in (p.get("stateOperators") or [])
                )
            ),
        })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def attach(spark: SparkSession) -> ProgressRecorder:
    """Register a recorder on the session; returns it (detach with
    ``spark.streams.removeListener``)."""
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    return rec
