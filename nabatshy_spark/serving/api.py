"""Serving/REST edge: the reference's query API surface
(api/receiver.go:12-29 on :3000, route table api/controller.go:380-397)
over the Spark engine, stdlib-only.

Every route is one parameterized SQL text, as the reference's are
(api/service.go): this layer only parses URL params and picks the
route's ``(text, args)`` from ``operators/spans.py`` — the text the
registry query behind that route also runs. A request is then one
``SparkSession.sql`` call over the API's own temp view of the served
table, with the row encoding and the row cap in the same text
(``SELECT to_json(struct(*)) FROM (…) LIMIT 10000``), and its collect.
Every outside value (DSL keys and values, ids, the service path
segment, times, counts, the percentile) is a named parameter, never
pasted into the text.
Param semantics mirror api/controller.go: ``n`` (slowest), ``query`` /
``page`` / ``pageSize`` / ``sortField`` / ``sortOrder`` (``asc`` or
``desc``, any case) / ``traceOrSpan`` (search), RFC3339 ``start``/``end`` or relative
``timeRange`` for every metrics endpoint (utils/utils.go:87-135 →
functions/timeutil.parse_time_range), ``percentile`` for pseries and
search metrics. Path segments are percent-decoded one by one, so an id
holding an encoded ``/`` is one segment.

Serving note for scale: each request runs interactive Spark jobs on a
cached spans table. The cache holds the table in one partition per
``spark.sql.autoBroadcastJoinThreshold`` of its size estimate, so a
table under the threshold is one ``SinglePartition`` and every request
is one job of one task, with no exchange; a larger table keeps several
partitions (never more than its scan's) and its routes shuffle as
before. A production deployment fronts this with Spark Connect or a
thrift/JDBC gateway, but the route → SQL mapping is exactly this
module.
"""

from __future__ import annotations

import json
import logging
import math
import threading
import uuid
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

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
        # the routes' texts read the table under a name of this API's own
        self.view = f"served_spans_{uuid.uuid4().hex}"
        self.spans.createOrReplaceTempView(self.view)
        self._now = now  # fixed clock for deterministic tests
        api = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_GET(self) -> None:
                try:
                    rows = api.plan(self.path).collect()
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

    def plan(self, target: str) -> DataFrame:
        """What a GET of ``target`` (path and query string) collects:
        the route's text over this API's view, one JSON string per row.
        Each row is encoded inside the plan, so the row cap stays its
        root: a CollectLimit or TakeOrderedAndProject, not an extra
        exchange."""
        url = urlparse(target)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        text, args = self._route(url.path, q)
        sql = f"SELECT to_json(struct(*)) FROM ({text.format(spans=self.view)}) LIMIT {MAX_ROWS}"
        # the values go to the JVM as they are, where each becomes a
        # literal; PySpark's spark.sql first wraps each in a lit Column,
        # 4 py4j round trips per parameter instead of 1
        return DataFrame(self.spark._jsparkSession.sql(sql, args), self.spark)

    def _route(self, path: str, q: dict[str, str]) -> tuple[str, dict]:
        """The route's SQL text and its parameters; ``KeyError`` for no
        route, ``ValueError`` for a bad parameter."""
        # decoded after the split, so an id with an encoded '/' stays
        # one segment; unquote, not unquote_plus: '+' is base64
        parts = [unquote(p) for p in path.split("/") if p]
        # --- /v1/traces/* (api/controller.go:381-386) ---
        if path == "/v1/traces/slowest":
            return S.slowest_traces_sql(_positive_int(q, "n", 10))
        if path == "/v1/traces/endpoints":
            return S.endpoint_latency_sql()
        if path == "/v1/traces/dependencies":
            return S.service_dependency_graph_sql()
        if path == "/v1/traces/heatmap":
            lo, hi = self._range_s(q)
            return S.search_metric_series_sql(lo, hi)
        if len(parts) == 4 and parts[:3] == ["v1", "traces", "service"]:
            return S.search_spans_sql(
                query=f"scope={parts[3]}", trace_or_span="trace", page_size=100
            )
        if len(parts) == 3 and parts[:2] == ["v1", "traces"]:
            return S.trace_details_sql(parts[2])
        if len(parts) == 3 and parts[:2] == ["v1", "spans"]:
            return S.span_details_sql(parts[2])
        if path == "/v1/search":
            lo, hi = self._range_s(q)
            page = _positive_int(q, "page", 1)
            page_size = _positive_int(q, "pageSize", 20)
            if page * page_size > MAX_INT:  # offset + limit
                raise ValueError(f"page * pageSize must be at most {MAX_INT}")
            return S.search_spans_sql(
                query=q.get("query", ""),
                trace_or_span=q.get("traceOrSpan", "trace"),
                start_ns=lo * S.NS_PER_S,
                end_ns=hi * S.NS_PER_S,
                sort_field=q.get("sortField", "start_time_unix_nano"),
                sort_order=q.get("sortOrder", "desc"),
                page=page,
                page_size=page_size,
            )
        # --- /api/metrics/* (api/controller.go:390-397) ---
        if path in ("/api/metrics/traces", "/api/metrics/avg"):
            lo, hi = self._range_s(q)
            return S.search_metric_series_sql(lo, hi)
        if path == "/api/metrics/errors":
            lo, hi = self._range_s(q)
            return S.search_metric_series_sql(lo, hi, include_errors=True)
        if path == "/api/metrics/pseries":
            lo, hi = self._range_s(q)
            return S.search_metric_series_sql(lo, hi, percentile=_percentile(q))
        if path == "/api/metrics/search":
            lo, hi = self._range_s(q)
            return S.search_metric_series_sql(
                lo, hi,
                query=q.get("query", ""),
                trace_or_span=q.get("traceOrSpan", ""),
                percentile=_percentile(q),
            )
        if path == "/api/metrics/services":
            lo, hi = self._range_s(q)
            return S.service_metrics_sql(lo, hi)
        if path == "/api/metrics/endpoints":
            lo, hi = self._range_s(q)
            return S.endpoint_latency_sql(lo * S.NS_PER_S, hi * S.NS_PER_S)
        if path == "/api/services":
            return S.distinct_services_sql()
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
        self.spark.catalog.dropTempView(self.view)
        self.spans.unpersist()
