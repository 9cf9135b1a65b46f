"""Serving/REST edge: all 16 reference routes (api/controller.go:
380-397) answer over the Spark engine with the same results as the
operators they wrap."""

from __future__ import annotations

import gc
import json
import os
import shutil
import threading
import urllib.error
import urllib.parse
import urllib.request
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nabatshy_spark.functions.timeutil import align_epoch, interval_seconds
from nabatshy_spark.operators.spans import search_metric_series
from nabatshy_spark.serving.api import MAX_ROWS, TelemetryAPI
from nabatshy_spark.session import CODEGEN_CACHE_ENTRIES
from tools.route_profile import engine_counts, engine_delta

SPANS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "spans.parquet")
NOW = datetime(2024, 2, 1, 6, 0, 0, tzinfo=timezone.utc)  # fixture day
NON_LATIN1 = urllib.parse.quote("日")

ROUTES = [
    "/v1/traces/slowest?n=5",
    "/v1/traces/service/svc-api",
    "/v1/traces/endpoints",
    "/v1/traces/dependencies",
    "/v1/traces/heatmap?timeRange=24h",
    "/v1/search?query=scope=svc-db&timeRange=24h&pageSize=10",
    "/api/metrics/traces?timeRange=24h",
    "/api/metrics/services?timeRange=24h",
    "/api/metrics/endpoints?timeRange=24h",
    "/api/metrics/pseries?timeRange=24h&percentile=99",
    "/api/metrics/avg?timeRange=24h",
    "/api/metrics/errors?timeRange=24h",
    "/api/metrics/search?query=scope=svc-api&timeRange=24h",
    "/api/services",
]

# the metric-series routes (search_metric_series) and the routes whose
# plan is one sort under the row cap
SERIES_ROUTES = [
    "/v1/traces/heatmap?timeRange=24h",
    "/api/metrics/traces?timeRange=24h",
    "/api/metrics/avg?timeRange=24h",
    "/api/metrics/errors?timeRange=24h",
    "/api/metrics/pseries?timeRange=24h&percentile=99",
    "/api/metrics/search?query=scope=svc-api&timeRange=24h",
]
SORT_ROUTES = [
    "/v1/traces/slowest?n=5",
    "/v1/traces/service/svc-api",
    "/v1/search?query=scope=svc-db&timeRange=24h&pageSize=10",
]


@pytest.fixture(scope="module")
def api(spark):
    a = TelemetryAPI(spark, SPANS, host="127.0.0.1", port=0, now=NOW).start()
    yield a
    a.stop()


def _get(api, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{api.port}{path}") as r:
        assert r.headers["Content-Type"] == "application/json"
        return json.load(r)


def test_all_routes_answer(api):
    for route in ROUTES:
        rows = _get(api, route)
        assert isinstance(rows, list), route
        assert rows, f"{route} returned no rows"


def test_detail_routes_roundtrip(api):
    # pick a real trace/span id off the search route, then hit the
    # detail routes with it (getTraceDetails / getSpanDetails)
    hit = _get(api, "/v1/search?timeRange=24h&pageSize=1")[0]
    trace = _get(api, f"/v1/traces/{hit['trace_id']}")
    assert {r["trace_id"] for r in trace} == {hit["trace_id"]}
    span = _get(api, f"/v1/spans/{hit['span_id']}")
    assert len(span) == 1 and span[0]["span_id"] == hit["span_id"]


def test_search_matches_operator(api, spark):
    from nabatshy_spark.operators.spans import search_spans

    got = _get(api, "/v1/search?query=scope=svc-db&timeRange=24h&pageSize=10")
    want = [
        json.loads(s)
        for s in search_spans(
            spark.read.parquet(SPANS),
            query="scope=svc-db",
            trace_or_span="trace",
            start_ns=int((NOW.timestamp() - 86400) * 1e9),
            end_ns=int(NOW.timestamp() * 1e9),
            page_size=10,
        ).toJSON().collect()
    ]
    assert got == want


def test_services_and_errors(api):
    services = _get(api, "/api/services")
    assert {s["service_name"] for s in services} == {
        "svc-auth", "svc-api", "svc-db", "svc-cache", "svc-worker"
    }
    errors = _get(api, "/api/metrics/errors?timeRange=24h")
    assert sum(b["n_errors"] for b in errors) > 0
    assert all("bucket_epoch" in b for b in errors)


def test_error_codes(api):
    for path, code in [
        ("/nope", 404),
        ("/v1/traces/slowest?n=x", 400),
        ("/v1/traces/slowest?n=-3", 400),
        ("/v1/search?timeRange=24h&sortField=bogus", 400),
        ("/v1/search?timeRange=24h&sortOrder=sideways", 400),
        ("/v1/search?timeRange=24h&pageSize=-1", 400),
        ("/v1/search?timeRange=24h&page=0", 400),
        # percentile outside [0, 100]
        ("/api/metrics/pseries?timeRange=24h&percentile=250", 400),
        ("/api/metrics/pseries?timeRange=24h&percentile=-1", 400),
        ("/api/metrics/search?timeRange=24h&percentile=-1", 400),
        # an inverted time range: relative, absolute, and on search
        ("/api/metrics/traces?timeRange=-5h", 400),
        ("/api/metrics/avg?start=2024-02-01T02:00:00Z&end=2024-02-01T01:00:00Z", 400),
        ("/v1/search?timeRange=-2h", 400),
        # RFC 3339 times carry an offset
        ("/api/metrics/avg?start=2024-02-01T01:00:00&end=2024-02-01T02:00:00Z", 400),
        # row counts past Spark's 32-bit LIMIT/OFFSET
        ("/v1/traces/slowest?n=99999999999", 400),
        ("/v1/search?timeRange=24h&pageSize=99999999999", 400),
        ("/v1/search?timeRange=24h&page=107374183&pageSize=20", 400),
        # messages that echo a non-Latin-1 parameter
        (f"/api/metrics/avg?start={NON_LATIN1}&end=2024-02-01T02:00:00Z", 400),
        (f"/api/metrics/avg?timeRange={NON_LATIN1}h", 400),
        (f"/v1/search?timeRange=24h&sortField={NON_LATIN1}", 400),
        # times outside the dates Python represents
        ("/api/metrics/avg?timeRange=1000000d", 400),
        ("/api/metrics/avg?timeRange=10000000000s", 400),
        ("/api/metrics/avg?start=0001-01-01T00:00:00%2B14:00&end=2024-02-01T02:00:00Z", 400),
        # epoch nanoseconds past a 64-bit long, relative and absolute
        ("/v1/search?timeRange=700000d", 400),
        ("/api/metrics/endpoints?start=2024-02-01T00:00:00Z&end=9999-12-31T23:59:59Z", 400),
    ]:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(api, path)
        assert e.value.code == code, path
        if code == 400:
            assert e.value.headers["Content-Type"] == "application/json"
            assert json.load(e.value)["error"], path
    # sortOrder is read in any case; only asc and desc are valid
    route = "/v1/search?timeRange=24h&sortField=name&pageSize=15&sortOrder="
    assert _raw(api, route + "DESC") == _raw(api, route + "desc")
    assert _raw(api, route + "DESC") != _raw(api, route + "asc")


def test_zero_length_range_answers_empty(api):
    """start == end is a valid range with nothing in it, on the series
    routes (which gap-fill buckets) as on the others."""
    at = "start=2024-02-01T01:00:00Z&end=2024-02-01T01:00:00Z"
    for route in (
        "/api/metrics/avg", "/v1/traces/heatmap", "/v1/search",
        "/api/metrics/services", "/api/metrics/traces", "/api/metrics/errors",
        "/api/metrics/pseries", "/api/metrics/search",
    ):
        assert _get(api, f"{route}?{at}") == [], route


def _detail_routes(api):
    hit = _get(api, "/v1/search?timeRange=24h&pageSize=1")[0]
    return [f"/v1/traces/{hit['trace_id']}", f"/v1/spans/{hit['span_id']}"]


def _raw(api, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{api.port}{path}") as r:
        return r.read().decode()


def test_bodies_equal_the_route_dataframe_as_json(api):
    """Encoding rows inside the plan changes no byte of any of the 16
    bodies against the route DataFrame's own ``toJSON()``."""
    routes = ROUTES + _detail_routes(api)
    assert len(routes) == 16
    for route in routes:
        url = urllib.parse.urlparse(route)
        q = {k: v[0] for k, v in urllib.parse.parse_qs(url.query).items()}
        text, args = api._route(url.path, q)
        df = api.spark.sql(text.format(spans=api.view), args)
        want = "[" + ",".join(df.limit(MAX_ROWS).toJSON().collect()) + "]"
        assert _raw(api, route) == want, route


def test_route_jobs_and_stages(api, spark):
    """The fixture is served from one partition, so no route plans an
    exchange: every series, sort, trace-id and span-id request is one
    job of one stage and one task, and shuffles nothing. Counts are
    read from the status store around one sequential request."""
    sc = spark.sparkContext
    assert api.spans.rdd.getNumPartitions() == 1
    one = {"jobs": 1, "stages": 1, "tasks": 1, "widest": 1, "shuffle_bytes": 0}

    def counts(route):
        _raw(api, route)  # warm: the cache is filled, the plan compiled
        before = engine_counts(sc)
        _raw(api, route)
        c = engine_delta(before, engine_counts(sc))
        return {k: c[k] for k in one}

    for route in SERIES_ROUTES + SORT_ROUTES + _detail_routes(api):
        assert counts(route) == one, route


def _split_fixture(tmp_path, files: int) -> str:
    """The fixture rewritten as ``files`` parquet files."""
    table = pq.read_table(SPANS)
    out = tmp_path / "spans"
    out.mkdir()
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), str(out / f"part-{i}.parquet"))
    return str(out)


def test_table_above_the_broadcast_threshold_keeps_partitions(spark, tmp_path):
    """The served table holds one partition per
    ``spark.sql.autoBroadcastJoinThreshold`` of the scan's size
    estimate, never more than the scan's own: a 4-file table just under
    twice the threshold is served from 2 partitions, and from its 4
    scan partitions with the threshold disabled."""
    path = _split_fixture(tmp_path, 4)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 4
    size = scan._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for threshold, want in [(size // 2 + 1, 2), (-1, 4)]:
            spark.conf.set(key, str(threshold))
            a = TelemetryAPI(spark, path, host="127.0.0.1", port=0, now=NOW)
            try:
                assert a.spans.rdd.getNumPartitions() == want, threshold
                assert a.spans.count() == scan.count()
            finally:
                a.stop()
    finally:
        spark.conf.set(key, old)


def test_series_fills_empty_edge_buckets_in_order(api):
    """A range wider than the data on both sides: every bucket comes
    back, in order, the empty ones zero; every span is counted in
    ``n``, and ``n_errors`` counts the spans with an exception event."""
    lo = int(datetime(2024, 1, 31, 22, tzinfo=timezone.utc).timestamp())
    hi = int(datetime(2024, 2, 1, 5, tzinfo=timezone.utc).timestamp())
    iv = interval_seconds(hi - lo)
    rows = _get(
        api, "/api/metrics/errors?start=2024-01-31T22:00:00Z&end=2024-02-01T05:00:00Z"
    )
    want = list(range(align_epoch(lo, iv), align_epoch(hi - 1, iv) + 1, iv))
    assert [r["bucket_epoch"] for r in rows] == want
    for r in (rows[0], rows[-1]):
        assert r == {"bucket_epoch": r["bucket_epoch"], "p95_ms": 0.0,
                     "n": 0, "avg_ms": 0.0, "n_errors": 0}
    table = pq.read_table(SPANS, columns=["events"]).column("events").to_pylist()
    assert sum(r["n"] for r in rows) == len(table)
    assert sum(r["n_errors"] for r in rows) == sum(
        any(e["name"] == "exception" for e in events or []) for events in table
    )


def test_series_counts_spans_without_a_duration(spark):
    """``n`` counts spans, not durations: nulling the durations of one
    service changes no bucket's count."""
    lo = int(NOW.timestamp()) - 86400
    hi = int(NOW.timestamp())
    spans = spark.read.parquet(SPANS)
    nulled = spans.withColumn(
        "duration_ns",
        F.when(F.col("scope_name") == "svc-db", F.lit(None)).otherwise(F.col("duration_ns")),
    )
    assert nulled.filter(F.col("duration_ns").isNull()).count() > 0
    want = search_metric_series(spans, lo, hi).select("bucket_epoch", "n").collect()
    got = search_metric_series(nulled, lo, hi).select("bucket_epoch", "n").collect()
    assert got == want
    assert sum(r.n for r in got) == spans.count()


def test_session_sizes_the_codegen_cache(spark):
    """The codegen cache size is a static conf: it is on the session's
    SparkConf, set by ``get_spark``."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_cycled_routes_stay_compiled(api, spark):
    """A dashboard cycles the 16 routes: once one cycle has compiled
    their classes, the next compiles none (with Spark's default
    100-entry cache each cycle evicts and recompiles ~80)."""
    sc = spark.sparkContext
    routes = ROUTES + _detail_routes(api)
    assert len(routes) == 16
    for route in routes:
        _raw(api, route)
    before = engine_counts(sc)
    for route in routes:
        _raw(api, route)
    assert engine_delta(before, engine_counts(sc))["compiles"] == 0


def test_stop_without_start_returns(spark, tmp_path):
    """``stop()`` on an API that never started closes its socket and
    releases its cache instead of waiting for a serve loop that never
    ran. A copy of the fixture keeps its cache apart from the module's
    API."""
    path = str(tmp_path / "spans.parquet")
    shutil.copy(SPANS, path)
    a = TelemetryAPI(spark, path, host="127.0.0.1", port=0, now=NOW)
    a.spans.count()
    t = threading.Thread(target=a.stop, daemon=True)
    t.start()
    t.join(timeout=30)
    assert not t.is_alive(), "stop() blocked"
    assert a._server.socket.fileno() == -1
    assert not a.spans.storageLevel.useMemory


GOLDEN = os.path.join(os.path.dirname(SPANS), "route_bodies.json")
# DSL queries holding SQL metacharacters in keys and values
HOSTILE = [
    "x' OR '1'='1", "name=a'b", "k!=v)--", "k!=v)--,scope=svc-db",
    'scope=svc-db,db.statement!=x";--', "a:b=c\\d", ":k0=:v0", "name={spans}",
    "db.statement=SELECT * FROM t WHERE id = ?", "'); DROP TABLE t; --",
    "svc-db' --", "name!=a\\',scope=svc-api",
]


def _golden():
    with open(GOLDEN) as f:
        return json.load(f)


def test_bodies_equal_the_golden_file(api):
    """Every body in ``tests/data/route_bodies.json`` (the 16 routes and
    their other parameterizations on the fixture, captured from the
    DataFrame-built routes) comes back byte for byte."""
    golden = _golden()
    assert len(golden) >= 70
    for route, body in golden.items():
        assert _raw(api, route) == body, route


def test_sql_metacharacters_are_parameters(api):
    """Quotes, comments, colons, braces and parentheses in DSL keys and
    values, and in the service segment, are bound as values: each
    request answers 200 with the golden rows, and the negated ones
    still match spans."""
    golden = _golden()
    routes = ["/v1/traces/service/svc-api,svc-db", "/v1/traces/service/x');--"]
    for h in HOSTILE:
        q = urllib.parse.quote(h)
        routes += [f"/v1/search?timeRange=24h&query={q}&pageSize=25",
                   f"/api/metrics/search?timeRange=24h&query={q}"]
    for route in routes:
        assert _raw(api, route) == golden[route], route
    assert _get(api, "/v1/search?timeRange=24h&query=" + urllib.parse.quote("k!=v)--"))


def test_path_segments_are_percent_decoded(api, spark, tmp_path):
    """Ids are base64, so they can hold '/', '+' and '='. A segment is
    decoded after the path is split: ``%2F`` stays inside the id and a
    literal '+' stays '+'."""
    assert _raw(api, "/v1/traces/tr%30000") == _raw(api, "/v1/traces/tr0000")
    assert _raw(api, "/v1/traces/service/svc%2Dapi") == _raw(api, "/v1/traces/service/svc-api")
    table = pq.read_table(SPANS)
    ids = {"tr0000": "a/b+c==", "sp00000": "x/y+z="}

    def swap(col):
        return [ids.get(v, v) for v in table.column(col).to_pylist()]

    for col in ("trace_id", "span_id", "parent_span_id"):
        table = table.set_column(table.schema.get_field_index(col), col,
                                 pa.array(swap(col), pa.string()))
    path = str(tmp_path / "spans.parquet")
    pq.write_table(table, path)
    a = TelemetryAPI(spark, path, host="127.0.0.1", port=0, now=NOW).start()
    try:
        trace = _get(a, "/v1/traces/a%2Fb+c%3D%3D")
        assert len(trace) == table.column("trace_id").to_pylist().count("a/b+c==") > 1
        assert {r["trace_id"] for r in trace} == {"a/b+c=="}
        span = _get(a, "/v1/spans/x%2Fy+z%3D")
        assert [r["span_id"] for r in span] == ["x/y+z="]
    finally:
        a.stop()


def test_request_py4j_budget(api, spark, monkeypatch):
    """A request is one SQL call plus its collect: at most 30 py4j
    round trips on the handler thread for each of the 16 routes,
    counted with the GC off (its finalizers send detach commands)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*a, **k):
        if threading.current_thread().name.endswith("(process_request_thread)"):
            calls.append(1)
        return send(*a, **k)

    routes = ROUTES + _detail_routes(api)
    assert len(routes) == 16
    for route in routes:
        _raw(api, route)
    monkeypatch.setattr(client, "send_command", counting)
    gc.disable()
    try:
        for route in routes:
            calls.clear()
            _raw(api, route)
            assert 0 < len(calls) <= 30, (route, len(calls))
    finally:
        gc.enable()


def test_stop_drops_the_view(api, spark, tmp_path):
    """Each API reads its table under a temp view of its own name;
    ``stop()`` drops it."""
    path = str(tmp_path / "spans.parquet")
    shutil.copy(SPANS, path)
    a = TelemetryAPI(spark, path, host="127.0.0.1", port=0, now=NOW)
    assert a.view != api.view
    assert spark.catalog.tableExists(a.view)
    a.stop()
    assert not spark.catalog.tableExists(a.view)
    assert spark.catalog.tableExists(api.view)
