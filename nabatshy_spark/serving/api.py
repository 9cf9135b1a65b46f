"""Serving/REST edge: the reference's query API surface
(api/receiver.go:12-29 on :3000, route table api/controller.go:380-397)
over the Spark engine, stdlib-only.

Every route maps to the operator that already backs the corresponding
registry query — this layer only parses URL params, calls the operator,
and answers the result as a JSON array whose elements the plan itself
encodes (S9: ``to_json(struct(*))`` under the row cap, so a response
runs the route's own stages and no more).
Param semantics mirror api/controller.go: ``n`` (slowest), ``query`` /
``page`` / ``pageSize`` / ``sortField`` / ``sortOrder`` /
``traceOrSpan`` (search), RFC3339 ``start``/``end`` or relative
``timeRange`` for every metrics endpoint (utils/utils.go:87-135 →
functions/timeutil.parse_time_range), ``percentile`` for pseries and
search metrics.

Serving note for scale: each request runs interactive Spark jobs on a
cached spans table. The cache holds the table in one partition per
``spark.sql.autoBroadcastJoinThreshold`` of its size estimate, so a
table under the threshold is one ``SinglePartition`` and every request
is one job of one task, with no exchange; a larger table keeps several
partitions (never more than its scan's) and its routes shuffle as
before. A production deployment fronts this with Spark Connect or a
thrift/JDBC gateway, but the route → plan mapping is exactly this
module.
"""

from __future__ import annotations

import json
import logging
import math
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nabatshy_spark.functions.timeutil import parse_time_range
from nabatshy_spark.operators import spans as S

MAX_ROWS = 10_000  # serving cap: an API response is not a bulk export
# Spark's row counts (LIMIT, OFFSET and their sum) are 32-bit ints
MAX_INT = 2**31 - 1
# the latest second whose epoch nanoseconds fit Spark's 64-bit long
MAX_EPOCH_S = (2**63 - 1) // 1_000_000_000
log = logging.getLogger(__name__)


def _positive_int(q: dict[str, str], key: str, default: int) -> int:
    try:
        v = int(q.get(key, default))
    except ValueError:
        raise ValueError(f"invalid parameter '{key}'") from None
    if v < 1:
        raise ValueError(f"parameter '{key}' must be at least 1")
    if v > MAX_INT:
        raise ValueError(f"parameter '{key}' must be at most {MAX_INT}")
    return v


def _percentile(q: dict[str, str]) -> float:
    """``percentile`` (an integer in [0, 100], default 95) as the
    fraction Spark's ``percentile`` takes."""
    try:
        v = int(q.get("percentile", "95"))
    except ValueError:
        raise ValueError("invalid parameter 'percentile'") from None
    if not 0 <= v <= 100:
        raise ValueError("parameter 'percentile' must be between 0 and 100")
    return v / 100.0


def _rfc3339(s: str) -> datetime:
    t = datetime.fromisoformat(s.replace("Z", "+00:00"))
    # RFC 3339 requires an offset; a naive value would be read in the
    # server's local time zone
    if t.tzinfo is None:
        raise ValueError(f"{s!r} has no UTC offset")
    return t.astimezone(timezone.utc)


def _served_partitions(scan: DataFrame) -> DataFrame:
    """``scan`` in as few partitions as Spark would broadcast whole:
    one per ``spark.sql.autoBroadcastJoinThreshold`` of the planner's
    size estimate (the number its broadcast decision reads). A table
    under the threshold becomes one partition, which reports
    ``SinglePartition``: that meets every distribution an aggregate,
    join, distinct or sort requires, so no route plans an exchange and
    each request is one job of one task. With the threshold disabled
    (at most 0) the scan's own partitions stay."""
    threshold = scan.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if threshold <= 0:
        return scan
    size = scan._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    # coalesce never adds partitions: a larger n keeps the scan's count
    return scan.coalesce(max(1, math.ceil(size / threshold)))


class TelemetryAPI:
    """The 16-route query API over a spans DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        spans_path: str,
        host: str = "0.0.0.0",
        port: int = 3000,
        now: datetime | None = None,
    ):
        self.spark = spark
        # cached: every route re-reads this table; the cache holds the
        # columnar batches, not per-request copies
        self.spans = _served_partitions(spark.read.parquet(spans_path)).cache()
        self._now = now  # fixed clock for deterministic tests
        api = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_GET(self) -> None:
                url = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(url.query).items()}
                try:
                    df = api._route(url.path, q)
                    # each row encoded inside the plan, so the row cap
                    # stays its root: a CollectLimit or
                    # TakeOrderedAndProject, not an extra exchange
                    rows = df.select(F.to_json(F.struct("*"))).limit(MAX_ROWS).collect()
                    body = "[" + ",".join(r[0] for r in rows) + "]"
                    status = 200
                except KeyError:
                    self.send_error(404)
                    return
                except ValueError as e:
                    # the message goes in the body: it can echo a
                    # parameter, which a Latin-1 reason phrase cannot
                    # always carry
                    body = json.dumps({"error": str(e)})
                    status = 400
                except Exception as e:
                    # a failed plan or job answers 500 instead of
                    # dropping the connection
                    log.exception("GET %s failed", self.path)
                    msg = (str(e).strip().splitlines() or [""])[0]
                    body = json.dumps({"error": f"{type(e).__name__}: {msg}"})
                    status = 500
                data = body.encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="telemetry-api", daemon=True
        )

    # -- routing ---------------------------------------------------------

    def _range_s(self, q: dict[str, str]) -> tuple[int, int]:
        """start/end (RFC3339) or timeRange ('30m', '24h') → epoch
        seconds, mirroring ParseDateRange (api/controller.go:206-213)."""
        try:
            start = _rfc3339(q["start"]) if "start" in q else None
            end = _rfc3339(q["end"]) if "end" in q else None
        except (ValueError, OverflowError) as e:
            raise ValueError(f"invalid start/end: {e}") from None
        outside = "time range reaches outside the span table's dates (1677-2262)"
        try:
            lo, hi = parse_time_range(q.get("timeRange"), start, end, now=self._now)
        except OverflowError:
            raise ValueError(outside) from None
        if lo > hi:
            raise ValueError("time range starts after it ends")
        lo_s, hi_s = int(lo.timestamp()), int(hi.timestamp())
        # the routes compare epoch nanoseconds, which Spark holds in longs
        if lo_s < -MAX_EPOCH_S or hi_s > MAX_EPOCH_S:
            raise ValueError(outside)
        return lo_s, hi_s

    def _route(self, path: str, q: dict[str, str]) -> DataFrame:
        df = self.spans
        parts = [p for p in path.split("/") if p]
        # --- /v1/traces/* (api/controller.go:381-386) ---
        if path == "/v1/traces/slowest":
            return S.slowest_traces(df, _positive_int(q, "n", 10))
        if path == "/v1/traces/endpoints":
            return S.endpoint_latency(df)
        if path == "/v1/traces/dependencies":
            return S.service_dependency_graph(df)
        if path == "/v1/traces/heatmap":
            lo, hi = self._range_s(q)
            return S.search_metric_series(df, lo, hi)
        if len(parts) == 4 and parts[:3] == ["v1", "traces", "service"]:
            return S.search_spans(
                df, query=f"scope={parts[3]}", trace_or_span="trace",
                page_size=100,
            )
        if len(parts) == 3 and parts[:2] == ["v1", "traces"]:
            return S.trace_details(df, parts[2])
        if len(parts) == 3 and parts[:2] == ["v1", "spans"]:
            return df.filter(F.col("span_id") == parts[2]).select(
                "trace_id", "span_id", "parent_span_id", "name",
                "scope_name", "start_time_unix_nano", "end_time_unix_nano",
                S.duration_ms_col(), S.has_error_col(),
            )
        if path == "/v1/search":
            lo, hi = self._range_s(q)
            page = _positive_int(q, "page", 1)
            page_size = _positive_int(q, "pageSize", 20)
            if page * page_size > MAX_INT:  # offset + limit
                raise ValueError(f"page * pageSize must be at most {MAX_INT}")
            return S.search_spans(
                df,
                query=q.get("query", ""),
                trace_or_span=q.get("traceOrSpan", "trace"),
                start_ns=lo * 1_000_000_000,
                end_ns=hi * 1_000_000_000,
                sort_field=q.get("sortField", "start_time_unix_nano"),
                sort_order=q.get("sortOrder", "desc"),
                page=page,
                page_size=page_size,
            )
        # --- /api/metrics/* (api/controller.go:390-397) ---
        if path in ("/api/metrics/traces", "/api/metrics/avg"):
            lo, hi = self._range_s(q)
            return S.search_metric_series(df, lo, hi)
        if path == "/api/metrics/errors":
            lo, hi = self._range_s(q)
            return S.search_metric_series(df, lo, hi, include_errors=True)
        if path == "/api/metrics/pseries":
            lo, hi = self._range_s(q)
            return S.search_metric_series(df, lo, hi, percentile=_percentile(q))
        if path == "/api/metrics/search":
            lo, hi = self._range_s(q)
            return S.search_metric_series(
                df, lo, hi,
                query=q.get("query", ""),
                trace_or_span=q.get("traceOrSpan", ""),
                percentile=_percentile(q),
            )
        if path == "/api/metrics/services":
            lo, hi = self._range_s(q)
            return S.service_metrics(df, lo, hi)
        if path == "/api/metrics/endpoints":
            lo, hi = self._range_s(q)
            return S.endpoint_latency(
                df.filter(
                    (F.col("start_time_unix_nano") >= lo * 1_000_000_000)
                    & (F.col("start_time_unix_nano") < hi * 1_000_000_000)
                )
            )
        if path == "/api/services":
            return S.distinct_services(df)
        raise KeyError(path)

    # -- lifecycle -------------------------------------------------------

    def start(self) -> "TelemetryAPI":
        self._thread.start()
        return self

    def stop(self) -> None:
        # shutdown() waits for the serve_forever loop, which only runs
        # after start()
        if self._thread.is_alive():
            self._server.shutdown()
        self._server.server_close()
        self.spans.unpersist()
