"""Serving/REST edge: all 16 reference routes (api/controller.go:
380-397) answer over the Spark engine with the same results as the
operators they wrap."""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from datetime import datetime, timezone

import pytest

from nabatshy_spark.serving.api import TelemetryAPI

SPANS = "/root/repo/tests/data/spans.parquet"
NOW = datetime(2024, 2, 1, 6, 0, 0, tzinfo=timezone.utc)  # fixture day

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
        ("/v1/search?timeRange=24h&pageSize=-1", 400),
        ("/v1/search?timeRange=24h&page=0", 400),
        ("/api/metrics/pseries?timeRange=24h&percentile=250", 500),
    ]:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(api, path)
        assert e.value.code == code
