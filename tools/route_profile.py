"""Per-route cost of the query API: wall time, the Spark jobs, stages
and tasks each request runs, and the classes it compiles.

Usage:
    python tools/route_profile.py SPANS_PATH

Serves ``SPANS_PATH`` (a span table, e.g. ``tests/data/spans.parquet``
or a ``tools/gen_spans_fixture.write_scaled`` table) through
``TelemetryAPI`` on a ``get_spark`` session, whose core count is
``$SPARK_GRAFT_CPUS``, with the routes' clock at NOW. The 16 routes
are requested round-robin, as a dashboard client sends them: one warm
cycle, then REPS timed cycles, so a route's classes must survive the
other 15 routes in Spark's codegen cache. Around each request of the
last cycle the status store (it works with the UI off) and the codegen
compile count are read, so the counts are exactly that request's
engine work. Then each route's builder (``TelemetryAPI.plan``, the one
SQL call of a request, without its collect) runs REPS times on a
non-main thread, as the handler threads run it, with Python's GC off,
counting the py4j round trips that thread makes. Prints one JSON
object: route → ``{"ms_p50", "build_ms", "py4j_calls", "jobs",
"stages", "tasks", "widest", "shuffle_bytes", "compiles"}``
(``widest``: the most tasks in one stage; ``shuffle_bytes``: shuffle
bytes read plus written; ``compiles``: classes compiled, 0 when every
one came from the cache), the session's ``cores``, and ``totals``: the
cycle's jobs, stages, tasks and shuffle bytes summed over the routes,
with ``ms_p50_sum``, the sum of the route medians, ``build_ms`` (the
sum of the median builds) and ``py4j_calls``. Skipped stages are not
counted.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import threading
import time
import urllib.request
from datetime import datetime, timezone
from urllib.parse import quote

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the 16 routes (api/controller.go:380-397); {tid}, {sid} and {svc}
# are bound to ids and a service taken from the table
ROUTES = {
    "traces_slowest": "/v1/traces/slowest?n=10",
    "traces_service": "/v1/traces/service/{svc}",
    "traces_endpoints": "/v1/traces/endpoints",
    "traces_dependencies": "/v1/traces/dependencies",
    "traces_heatmap": "/v1/traces/heatmap?timeRange=24h",
    "traces_id": "/v1/traces/{tid}",
    "spans_id": "/v1/spans/{sid}",
    "search": "/v1/search?query=scope%3Dsvc-db&timeRange=24h&pageSize=20",
    "metrics_traces": "/api/metrics/traces?timeRange=24h",
    "metrics_avg": "/api/metrics/avg?timeRange=24h",
    "metrics_errors": "/api/metrics/errors?timeRange=24h",
    "metrics_pseries": "/api/metrics/pseries?timeRange=24h&percentile=99",
    "metrics_search": "/api/metrics/search?query=scope%3Dsvc-api&timeRange=24h",
    "metrics_services": "/api/metrics/services?timeRange=24h",
    "metrics_endpoints": "/api/metrics/endpoints?timeRange=24h",
    "services": "/api/services",
}
# tools/gen_spans_fixture.BASE_NS + 6 h: every table it writes starts there
NOW = datetime(2024, 2, 1, 6, 0, 0, tzinfo=timezone.utc)
REPS = 9


def engine_counts(sc) -> tuple[set[int], dict[int, tuple[int, str, int]], int]:
    """Job ids and stage id → (tasks, status, shuffle bytes read plus
    written) in the status store, once the listener bus has delivered
    every event posted so far, and the number of classes the JVM's code
    generator has compiled."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    empty = sc._jvm.java.util.ArrayList()
    jobs = store.jobsList(empty)
    job_ids = {jobs.apply(i).jobId() for i in range(jobs.size())}
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    it = store.stageList(empty, False, False, quantiles, empty).iterator()
    stages = {}
    while it.hasNext():
        s = it.next()
        stages[s.stageId()] = (
            s.numTasks(), s.status().toString(),
            s.shuffleReadBytes() + s.shuffleWriteBytes(),
        )
    codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return job_ids, stages, codegen.METRIC_COMPILATION_TIME().getCount()


def engine_delta(before, after) -> dict[str, int]:
    """Jobs, stages and tasks that ran between two ``engine_counts``,
    the task count of the widest stage, the shuffle bytes, and the
    classes compiled."""
    jobs = after[0] - before[0]
    ran = [(t, b) for sid, (t, status, b) in after[1].items()
           if sid not in before[1] and status != "SKIPPED"]
    tasks = [t for t, _ in ran]
    return {"jobs": len(jobs), "stages": len(ran), "tasks": sum(tasks),
            "widest": max(tasks, default=0),
            "shuffle_bytes": sum(b for _, b in ran),
            "compiles": after[2] - before[2]}


def build_cost(api, target: str) -> tuple[float, int]:
    """Milliseconds and py4j round trips of one ``api.plan(target)``
    on a new thread, with Python's GC off (its finalizers send detach
    commands from whichever thread they run on)."""
    client = api.spark.sparkContext._gateway._gateway_client
    send = client.send_command
    out = {}

    def run():
        calls = 0

        def counting(*a, **k):
            nonlocal calls
            if threading.current_thread() is worker:
                calls += 1
            return send(*a, **k)

        client.send_command = counting
        try:
            t = time.perf_counter()
            api.plan(target)
            out["ms"] = (time.perf_counter() - t) * 1e3
        finally:
            del client.send_command
        out["calls"] = calls

    worker = threading.Thread(target=run, name="route-build")
    gc.disable()
    try:
        worker.start()
        worker.join()
    finally:
        gc.enable()
    return out["ms"], out["calls"]


def route_urls(spans) -> dict[str, str]:
    """Each route's path, bound to the table's first trace and span
    (by id) and its first service."""
    from pyspark.sql import functions as F

    row = spans.select(F.min("trace_id"), F.min("scope_name")).first()
    sid = spans.filter(F.col("trace_id") == row[0]).select(F.min("span_id")).first()[0]
    binds = {"tid": quote(row[0], safe="=+"), "sid": quote(sid, safe="=+"), "svc": row[1]}
    return {r: t.format(**binds) for r, t in ROUTES.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("spans_path")
    args = ap.parse_args()

    from nabatshy_spark.serving.api import TelemetryAPI
    from nabatshy_spark.session import get_spark

    spark = get_spark("route_profile")
    sc = spark.sparkContext
    api = TelemetryAPI(spark, args.spans_path, host="127.0.0.1", port=0, now=NOW)
    api.spans.count()
    api.start()
    try:
        paths = route_urls(api.spans)
        urls = {r: f"http://127.0.0.1:{api.port}{p}" for r, p in paths.items()}

        def get(url) -> float:
            t = time.perf_counter()
            with urllib.request.urlopen(url) as r:
                r.read()
            return (time.perf_counter() - t) * 1e3

        for url in urls.values():
            get(url)
        times: dict[str, list[float]] = {r: [] for r in urls}
        for _ in range(REPS - 1):
            for route, url in urls.items():
                times[route].append(get(url))
        out: dict = {"cores": sc.defaultParallelism, "routes": {}}
        for route, url in urls.items():
            before = engine_counts(sc)
            times[route].append(get(url))
            out["routes"][route] = {
                "ms_p50": round(statistics.median(times[route]), 1),
                **engine_delta(before, engine_counts(sc)),
            }
        for route, path in paths.items():
            costs = [build_cost(api, path) for _ in range(REPS)]
            out["routes"][route]["build_ms"] = round(
                statistics.median(ms for ms, _ in costs), 1)
            out["routes"][route]["py4j_calls"] = costs[-1][1]
        out["totals"] = {
            k: sum(r[k] for r in out["routes"].values())
            for k in ("jobs", "stages", "tasks", "shuffle_bytes", "py4j_calls")
        }
        out["totals"]["build_ms"] = round(
            sum(r["build_ms"] for r in out["routes"].values()), 1)
        out["totals"]["ms_p50_sum"] = round(
            sum(r["ms_p50"] for r in out["routes"].values()), 1)
    finally:
        api.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
