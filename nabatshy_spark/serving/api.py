"""Serving/REST edge: the reference's query API surface
(api/receiver.go:12-29 on :3000, route table api/controller.go:380-397)
over the Spark engine, stdlib-only.

Every route maps to the operator that already backs the corresponding
registry query — this layer only parses URL params, calls the operator,
and streams the result as a JSON array (S9: stock ``df.toJSON()``).
Param semantics mirror api/controller.go: ``n`` (slowest), ``query`` /
``page`` / ``pageSize`` / ``sortField`` / ``sortOrder`` /
``traceOrSpan`` (search), RFC3339 ``start``/``end`` or relative
``timeRange`` for every metrics endpoint (utils/utils.go:87-135 →
functions/timeutil.parse_time_range), ``percentile`` for pseries and
search metrics.

Serving note for scale: each request runs an interactive Spark job on a
cached spans table; a production deployment fronts this with Spark
Connect or a thrift/JDBC gateway, but the route → plan mapping is
exactly this module.
"""

from __future__ import annotations

import json
import logging
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nabatshy_spark.functions.timeutil import parse_time_range
from nabatshy_spark.operators import spans as S

MAX_ROWS = 10_000  # serving cap: an API response is not a bulk export
log = logging.getLogger(__name__)


def _positive_int(q: dict[str, str], key: str, default: int) -> int:
    try:
        v = int(q.get(key, default))
    except ValueError:
        raise ValueError(f"invalid parameter '{key}'") from None
    if v < 1:
        raise ValueError(f"parameter '{key}' must be at least 1")
    return v


def _rfc3339(s: str) -> datetime:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).astimezone(
        timezone.utc
    )


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
        self.spans = spark.read.parquet(spans_path).cache()
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
                    body = "[" + ",".join(df.limit(MAX_ROWS).toJSON().collect()) + "]"
                    status = 200
                except KeyError:
                    self.send_error(404)
                    return
                except ValueError as e:
                    self.send_error(400, str(e))
                    return
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
        except ValueError as e:
            raise ValueError(f"invalid start/end: {e}") from None
        lo, hi = parse_time_range(q.get("timeRange"), start, end, now=self._now)
        return int(lo.timestamp()), int(hi.timestamp())

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
            return S.search_spans(
                df,
                query=q.get("query", ""),
                trace_or_span=q.get("traceOrSpan", "trace"),
                start_ns=lo * 1_000_000_000,
                end_ns=hi * 1_000_000_000,
                sort_field=q.get("sortField", "start_time_unix_nano"),
                sort_order=q.get("sortOrder", "desc"),
                page=_positive_int(q, "page", 1),
                page_size=_positive_int(q, "pageSize", 20),
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
            pct = int(q.get("percentile", "95"))
            return S.search_metric_series(df, lo, hi, percentile=pct / 100.0)
        if path == "/api/metrics/search":
            lo, hi = self._range_s(q)
            pct = int(q.get("percentile", "95"))
            return S.search_metric_series(
                df, lo, hi,
                query=q.get("query", ""),
                trace_or_span=q.get("traceOrSpan", ""),
                percentile=pct / 100.0,
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
        self._server.shutdown()
        self._server.server_close()
        self.spans.unpersist()
