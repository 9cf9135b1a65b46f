"""Trace-engine benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 22 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``backfill``  one sender spools a fixed OTLP backlog through the
  receiver, then both ingest streams drain it with ``availableNow``;
- ``dashboard`` two closed-loop clients cycle the 16 API routes over the
  cached span table for ``--seconds``;
- ``analytics`` one driver thread runs 7 of the ``spans_*`` registry
  queries over the span table: a warm-up lap, then timed laps for
  ``--seconds``.

This process is the load generator. The system under test runs in a
separate process (``server.py``). The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A traced run also writes its spans and engine counters
to ``.perfbench_out/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import math
import os
import queue
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from urllib.parse import quote

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import Tracer  # noqa: E402

RUN_DEADLINE_S = 170  # the whole run, set-up included
DRAIN_DEADLINE_S = 100  # a backlog not committed by then counts as failed
CALL_TIMEOUT_S = 150

# sizes of one run; --smoke shrinks them for the benchmark's own tests
# warm_s: dashboard warm-up before the timed window (JIT, heap growth)
# seed_traces: the base table backfill seeds its ingest table with
FULL = dict(base_traces=4000, seed_traces=1000, backlog=160, probes=6, analytics_names=None,
            setup_reps=3, warm_s=20)
SMOKE = dict(base_traces=200, seed_traces=200, backlog=8, probes=4, analytics_names=3,
             setup_reps=1, warm_s=1)

# the registry queries of the analytics laps: 7 of the 39 ``spans_*``
# queries, one or two per plan family (scan and sort, self-join,
# aggregates, the pandas-UDF critical path, localCheckpoint hubs,
# window plans), so that a warm-up lap and repeated timed laps fit the
# run's time budget; bench.py times all of them
ANALYTICS_QUERIES = (
    "spans_slowest_traces spans_service_dependency spans_search_metrics "
    "spans_critical_path spans_concurrency spans_exemplars spans_tail_sampling"
).split()
# analytics tables: the seed picks one of this many recorded variants
ANALYTICS_VARIANTS = 4
ANALYTICS_TRACES = 2000
# timed laps of a run, at least: a query's time is its median over them
ANALYTICS_MIN_LAPS = 2
# seconds of timed laps in dashboard's traced run
ANALYTICS_TRACED_S = 10

SERVICES = ["svc-auth", "svc-api", "svc-db", "svc-cache", "svc-worker"]
SEARCHES = ["scope=svc-db", "db.system=postgres", "http.status=500", "db.system!=postgres", "svc-api"]

# route name → (URL template, operator whose direct result must equal the body)
ROUTES = {
    "traces_slowest": ("/v1/traces/slowest?n=10", None),
    "traces_service": ("/v1/traces/service/{svc}", None),
    "traces_endpoints": ("/v1/traces/endpoints", "endpoint_latency"),
    "traces_dependencies": ("/v1/traces/dependencies", "service_dependency_graph"),
    "traces_heatmap": ("/v1/traces/heatmap?timeRange=24h", None),
    "traces_id": ("/v1/traces/{tid}", "trace_details"),
    "spans_id": ("/v1/spans/{sid}", None),
    "search": ("/v1/search?query={q}&timeRange=24h&pageSize=20", "search_spans"),
    "metrics_traces": ("/api/metrics/traces?timeRange=24h", "search_metric_series"),
    "metrics_avg": ("/api/metrics/avg?timeRange=24h", None),
    "metrics_errors": ("/api/metrics/errors?timeRange=24h", None),
    "metrics_pseries": ("/api/metrics/pseries?timeRange=24h&percentile=99", None),
    "metrics_search": ("/api/metrics/search?query={q}&timeRange=24h", None),
    "metrics_services": ("/api/metrics/services?timeRange=24h", "service_metrics"),
    "metrics_endpoints": ("/api/metrics/endpoints?timeRange=24h", None),
    "services": ("/api/services", "distinct_services"),
}
OPERATORS = [
    "search_spans", "endpoint_latency", "service_dependency_graph",
    "search_metric_series", "trace_details", "service_metrics", "distinct_services",
]

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
    "ok_share": "ratio",
}


def per_layer_units() -> dict[str, str]:
    u = {"session.start_s": "s", "data.gen_s": "s"}
    u.update({
        "receiver.requests": "count", "receiver.spooled_bytes": "bytes",
        "receiver.rejected": "count", "receiver.ack_p50_ms": "ms", "receiver.ack_p90_ms": "ms",
    })
    u.update({
        "ingest.batches": "count", "ingest.batch_ms_p50": "ms", "ingest.batch_ms_max": "ms",
        "ingest.add_batch_ms_p50": "ms", "ingest.planning_ms_p50": "ms",
        "ingest.files_per_batch_p50": "count", "ingest.rows_per_batch_p50": "count",
        "ingest.backlog_files_end": "count", "ingest.lost_spans": "count",
        "ingest.duplicate_spans": "count", "ingest.tmp_files_listed": "count",
    })
    u.update({
        "otlp_json.parse_s": "s", "otlp_pb.decode_s": "s",
        "otlp_json.plan_s": "s", "otlp_pb.plan_s": "s",
        "sink.write_s": "s", "sink.files_written": "count", "sink.bytes_per_span": "B/span",
    })
    u.update({f"api.{r}.p50_ms": "ms" for r in ROUTES})
    u.update({"api.overhead_ms_p50": "ms", "api.visible_probes": "count", "api.visible_hits": "count"})
    for op in OPERATORS:
        u[f"op.{op}.collect_ms"] = "ms"
        u[f"op.{op}.stages"] = "count"
    u.update({f"query.{q}.wall_s": "s" for q in ANALYTICS_QUERIES})
    u.update({"analytics.pre_action_s": "s", "analytics.sweep_s": "s"})
    u.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.shuffle_bytes": "bytes",
        "spark.spill_bytes": "bytes", "spark.gc_s": "s", "spark.busy_share": "ratio",
    })
    u.update({"process.peak_rss_mb": "MB", "host.steal_share": "ratio"})
    u.update({"loadgen.late_max_ms": "ms", "trace.overhead_s": "s"})
    return u


def _betainc(a: float, b: float, x: float) -> float:
    """The regularized incomplete beta function I_x(a, b), by its
    continued fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betainc(b, a, 1.0 - x)
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    ) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    f = d
    for m in range(1, 500):
        step = 1.0
        for num in (
            m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1)),
        ):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            step = c * d
            f *= step
        if abs(step - 1.0) < 1e-13:
            break
    return front * f


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean
    of all order statistics. On the few samples of one run it moves far
    less than any single order statistic does. 0.0 for no samples."""
    s = sorted(values)
    n = len(s)
    if n < 2:
        return float(s[0]) if s else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(s))


class ServerError(RuntimeError):
    pass


class Server:
    """The process under test, in its own process group so that it and
    the JVM it launches are stopped together."""

    def __init__(self, work: str, traced: bool) -> None:
        cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_LOCAL_DIRS=tmp,
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            PYTHONUNBUFFERED="1",
        )
        if traced:
            # keep every stage of the run in the status store
            env["PYSPARK_SUBMIT_ARGS"] = (
                "--conf spark.ui.retainedStages=100000 "
                "--conf spark.ui.retainedJobs=100000 pyspark-shell"
            )
        self.log_path = os.path.join(work, "server.log")
        self._log = open(self.log_path, "w")
        args = [sys.executable, os.path.join(HERE, "server.py")] + (["--trace"] if traced else [])
        self.proc = subprocess.Popen(
            args, cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True, start_new_session=True,
        )
        self.pgid = self.proc.pid
        self._replies: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self._replies.put(line)
        self._replies.put(None)

    def call(self, op: str, timeout: float = CALL_TIMEOUT_S, **args):
        self.proc.stdin.write(json.dumps({"op": op, "args": args}) + "\n")
        self.proc.stdin.flush()
        try:
            line = self._replies.get(timeout=timeout)
        except queue.Empty:
            raise ServerError(f"{op}: no reply within {timeout} s") from None
        if line is None:
            raise ServerError(f"{op}: server exited ({self.tail()})")
        reply = json.loads(line)
        if not reply["ok"]:
            raise ServerError(f"{op}: {reply['error']}")
        return reply["result"]

    def tail(self) -> str:
        self._log.flush()
        with open(self.log_path, errors="replace") as fh:
            return fh.read()[-3000:]

    def group_pids(self) -> list[int]:
        pids = []
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == self.pgid:
                pids.append(int(d))
        return pids

    def rss(self) -> int:
        """Resident bytes of the whole group, JVM and Python workers included."""
        total = 0
        page = os.sysconf("SC_PAGE_SIZE")
        for pid in self.group_pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * page
            except OSError:
                pass
        return total

    def close(self) -> None:
        """Stop the whole group at once: every measurement is taken by
        now, so nothing needs a graceful shutdown."""
        self.kill_group()
        self._log.close()

    def kill_group(self) -> None:
        try:
            os.killpg(self.pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        end = time.time() + 10
        while time.time() < end:
            if self.proc.poll() is not None and not self.group_pids():
                return
            time.sleep(0.05)


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests: noise that
    slows every layer at once."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


class RssSampler(threading.Thread):
    """Samples the resident memory of the process under test."""

    def __init__(self, server: Server, period_s: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.server, self.period_s = server, period_s
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, self.server.rss())
            self._stop_event.wait(self.period_s)

    def stop(self) -> int:
        self._stop_event.set()
        self.join(timeout=5)
        return self.peak


class Run:
    """State of one benchmark run: failures, metrics, the trace."""

    def __init__(self, args) -> None:
        self.args = args
        self.size = SMOKE if args.smoke else FULL
        self.tracer = Tracer(bool(args.trace), "loadgen")
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.server: Server | None = None
        self.sampler: RssSampler | None = None
        self._lock = threading.Lock()
        self._t0 = time.time()

    def mark(self, phase: str) -> None:
        """Note when a phase ended (seconds since the run started)."""
        self.detail.setdefault("timeline", []).append((phase, round(time.time() - self._t0, 2)))

    def count(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failures.append(what)

    def http(self, port: int, method: str, path: str, body: bytes | None = None,
             ctype: str | None = None, timeout: float = 60) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
        try:
            headers = {"Content-Type": ctype} if ctype else {}
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()


# -- shared steps -----------------------------------------------------------


def make_table(run: Run, n_traces: int, seed: int) -> str:
    import gen

    path = os.path.join(run.work, "spans")
    with run.tracer.span("data.gen"):
        t = time.perf_counter()
        gen.write_span_table(path, n_traces, seed)
        run.layer["data.gen_s"] = time.perf_counter() - t
    return path


def start_server(run: Run, meanwhile=lambda: None):
    """Launch the process under test; run ``meanwhile`` while its
    session starts and return what it returns."""
    run.server = Server(run.work, bool(run.args.trace))
    run.sampler = RssSampler(run.server)
    run.sampler.start()
    out = meanwhile()
    hello = run.server.call("hello", timeout=120)
    run.layer["session.start_s"] = hello["session_start_s"]
    return out


def table_ids(path: str) -> tuple[list[str], list[str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["trace_id", "span_id"])
    return t.column("trace_id").to_pylist(), t.column("span_id").to_pylist()


# -- dashboard ----------------------------------------------------------------


def route_url(route: str, b: dict) -> str:
    """The route's URL with the ids and the query of bind ``b``."""
    return ROUTES[route][0].format(
        tid=quote(b["tid"], safe="=+"), sid=quote(b["sid"], safe="=+"),
        svc=b["svc"], q=quote(b["q"], safe=""),
    )


def operator_bind(op: str, b: dict) -> str:
    """What the route passes its operator: a trace id, a query or nothing."""
    return {"trace_details": b["tid"], "search_spans": b["q"]}.get(op, "")


def draw_params(rng: random.Random, trace_ids: list[str], span_ids: list[str]) -> dict:
    tids = sorted(set(trace_ids))
    return {
        "tids": rng.sample(tids, 4),
        "sids": rng.sample(span_ids, 4),
        # every run asks all the searches, so the seed picks values,
        # never how much work a run does
        "queries": list(SEARCHES),
    }


def client_loop(run: Run, port: int, params: dict, bodies: dict, client: int,
                warm_until: float, until: float, samples: list, late: list) -> None:
    """One closed-loop client cycling the 16 routes in a seeded order
    until ``until``. Requests sent before ``warm_until``, or before the
    client's first full cycle ends, are warm-up: checked, not timed.
    Timed samples are ``(route, ms, end, client, cycle)``. Bodies of
    routes with a direct-operator check go to ``bodies``."""
    from server import canonical_rows

    rng = random.Random(run.args.seed * 1000 + client)
    cycle = 0
    last_end = None
    while True:
        order = list(ROUTES)
        rng.shuffle(order)
        for route in order:
            t_send = time.time()
            if t_send >= until:
                return
            timed = cycle > 0 and t_send >= warm_until
            op = ROUTES[route][1]
            b = dict(
                tid=rng.choice(params["tids"]), sid=rng.choice(params["sids"]),
                svc=rng.choice(SERVICES), q=rng.choice(params["queries"]),
            )
            url = route_url(route, b)
            if timed and last_end is not None:
                late.append((t_send - last_end) * 1e3)
            with run.tracer.span(f"api.{route}", req=f"c{client}-{cycle}-{route}"):
                try:
                    status, body = run.http(port, "GET", url)
                except OSError as e:
                    status, body = -1, repr(e).encode()
            last_end = time.time()
            ok = status == 200
            if ok and op is not None:
                key = (f"{op}|{operator_bind(op, b)}", tuple(canonical_rows(json.loads(body))))
                with run._lock:
                    bodies[key] = bodies.get(key, 0) + 1
            else:
                run.count(ok, f"{url}: HTTP {status} {body[:200]!r}")
            if timed and ok:
                samples.append((route, (last_end - t_send) * 1e3, last_end, client, cycle))
        cycle += 1


def whole_cycles(samples: list) -> list:
    """The samples of the cycles in which a client timed all 16 routes,
    so that every route weighs the same in the latency percentiles
    whichever routes the end of the window cut off. All samples when no
    cycle is whole (a very short window)."""
    routes: dict[tuple[int, int], int] = {}
    for s in samples:
        routes[s[3], s[4]] = routes.get((s[3], s[4]), 0) + 1
    whole = [s for s in samples if routes[s[3], s[4]] == len(ROUTES)]
    return whole or samples


def check_bodies(run: Run, params: dict, bodies: dict) -> None:
    """Each checked response must equal its operator called directly on
    the API's table; a response that differs counts as failed."""
    expected = run.server.call("expected", tids=params["tids"], queries=params["queries"])
    for (key, rows), n in bodies.items():
        for _ in range(n):
            run.count(list(rows) == expected[key], f"{key}: body differs from the operator called directly")


def operator_profile(run: Run, port: int, params: dict, reps: int = 3) -> None:
    """Per route operator: a direct collect on the API's table, then
    its route with the same bind, one after the other with no other
    load; the medians of ``reps`` pairs. The route's median minus the
    collect's, pooled over the operators by median, is the serving
    layer's own cost."""
    route_of = {op: r for r, (_, op) in ROUTES.items() if op}
    b = dict(tid=params["tids"][0], sid="", svc="", q=params["queries"][0])
    over = []
    for op in OPERATORS:
        direct, routed, stages = [], [], []
        for _ in range(reps):
            d = run.server.call("operator_collect", name=op, bind=operator_bind(op, b))
            direct.append(d["collect_ms"])
            stages.append(d["stages"])
            t = time.perf_counter()
            try:
                status, _ = run.http(port, "GET", route_url(route_of[op], b))
            except OSError:
                status = -1
            routed.append((time.perf_counter() - t) * 1e3)
            run.count(status == 200, f"{route_of[op]} (profile): HTTP {status}")
        run.layer[f"op.{op}.collect_ms"] = statistics.median(direct)
        run.layer[f"op.{op}.stages"] = statistics.median(stages)
        over.append(statistics.median(routed) - statistics.median(direct))
        run.detail.setdefault("operators", {})[op] = {
            "collect_ms": direct, "route_ms": routed, "stages": stages,
        }
    run.layer["api.overhead_ms_p50"] = statistics.median(over)


def run_dashboard(run: Run) -> None:
    seed, size = run.args.seed, run.size
    table = start_server(run, lambda: make_table(run, size["base_traces"], seed))
    trace_ids, span_ids = table_ids(table)
    params = draw_params(random.Random(seed), trace_ids, span_ids)
    setup = run.server.call("setup_api", table=table, reps=size["setup_reps"])
    run.e2e["setup_s"] = run.layer["data.gen_s"] + run.layer["session.start_s"] + setup["setup_s"]
    run.mark("set up")
    bodies: dict = {}
    samples: list = []
    late: list = []
    t0 = time.time() + size["warm_s"]
    until = t0 + run.args.seconds
    threads = [
        threading.Thread(target=client_loop, args=(
            run, setup["api_port"], params, bodies, c, t0, until, samples, late))
        for c in range(2)
    ]
    for th in threads:
        th.start()
    if run.args.trace:
        time.sleep(max(0.0, t0 - time.time()))
        run.server.call("engine_mark", name="window")
    for th in threads:
        th.join()
    run.mark("timed window")
    check_bodies(run, params, bodies)
    # from the first timed send to the last timed answer
    window = (
        max(s[2] for s in samples) - min(s[2] - s[1] / 1e3 for s in samples)
        if samples else run.args.seconds
    )
    lat = [s[1] for s in whole_cycles(samples)]
    run.e2e["latency_p50_ms"] = quantile(lat, 0.5)
    run.e2e["latency_p90_ms"] = quantile(lat, 0.9)
    run.e2e["throughput_per_s"] = len(samples) / window
    run.detail["samples"] = [(r, round(ms, 1), round(t - t0, 2), c, k) for r, ms, t, c, k in samples]
    by_route: dict[str, list[float]] = {}
    for route, ms, *_ in samples:
        by_route.setdefault(route, []).append(ms)
    for route in ROUTES:
        run.layer[f"api.{route}.p50_ms"] = statistics.median(by_route.get(route) or [0.0])
    run.layer["loadgen.late_max_ms"] = max(late, default=0.0)
    if run.args.trace:
        engine = run.server.call("engine_since", name="window", wall_s=window)
        run.detail["engine"] = engine
        run.layer.update({k: v for k, v in engine.items() if k.startswith("spark.")})
        operator_profile(run, setup["api_port"], params)
        variant = seed % ANALYTICS_VARIANTS
        registry_laps(run, registry_table(run, variant), variant, ANALYTICS_TRACED_S)


# -- backfill -------------------------------------------------------------------


def spool_seq(name: str) -> int:
    """Receiver spool names end in the receiver's request counter."""
    return int(name.split(".")[0].rsplit("-", 1)[1])


def post_backlog(run: Run, port: int, requests: list) -> list[float]:
    """One closed-loop sender spools every request; returns send times."""
    sent, acks, rejected, spooled_bytes = [], [], 0, 0
    for i, req in enumerate(requests):
        t = time.time()
        with run.tracer.span("receiver.post", req=f"r{i}"):
            try:
                status, _ = run.http(port, "POST", "/v1/traces", req.body, req.content_type)
            except OSError as e:
                status = -1
                run.detail.setdefault("post_errors", []).append(repr(e))
        sent.append(t)
        acks.append((time.time() - t) * 1e3)
        ok = status == 200
        rejected += not ok
        spooled_bytes += len(req.body) if ok else 0
        run.count(ok, f"POST request {i}: HTTP {status}")
    run.mark("backlog posted")
    run.layer.update({
        "receiver.requests": len(requests), "receiver.rejected": rejected,
        "receiver.spooled_bytes": spooled_bytes,
        "receiver.ack_p50_ms": quantile(acks, 0.5), "receiver.ack_p90_ms": quantile(acks, 0.9),
    })
    return sent


def ingest_layer(run: Run, drain: dict) -> dict[int, float]:
    """Per-batch ingest metrics from streaming progress and the
    checkpoint logs; returns request number → commit time."""
    committed: dict[int, float] = {}
    listed, tmp_listed = set(), 0
    files_per_batch, batch_ms, add_ms, plan_ms, rows_per_batch = [], [], [], [], []
    for batches in drain["commits"].values():
        for b in batches.values():
            files_per_batch.append(len(b["files"]))
            for f in b["files"]:
                listed.add(f)
                tmp_listed += f.endswith(".tmp")
                if b["commit"] is not None and not f.endswith(".tmp"):
                    committed[spool_seq(f)] = b["commit"]
    for progress in drain["progress"].values():
        for p in progress:
            if p["numInputRows"] == 0 and "addBatch" not in p["durationMs"]:
                continue  # an empty trigger
            batch_ms.append(p["durationMs"].get("triggerExecution", 0))
            add_ms.append(p["durationMs"].get("addBatch", 0))
            plan_ms.append(p["durationMs"].get("queryPlanning", 0))
            rows_per_batch.append(p["numInputRows"])
    spool_files = [
        f for sub in ("json", "pb") for f in os.listdir(os.path.join(run.work, "spool", sub))
    ]
    run.layer.update({
        "ingest.batches": len(batch_ms),
        "ingest.batch_ms_p50": statistics.median(batch_ms or [0]),
        "ingest.batch_ms_max": max(batch_ms, default=0),
        "ingest.add_batch_ms_p50": statistics.median(add_ms or [0]),
        "ingest.planning_ms_p50": statistics.median(plan_ms or [0]),
        "ingest.files_per_batch_p50": statistics.median(files_per_batch or [0]),
        "ingest.rows_per_batch_p50": statistics.median(rows_per_batch or [0]),
        "ingest.backlog_files_end": sum(1 for f in spool_files if f not in listed),
        "ingest.tmp_files_listed": tmp_listed,
    })
    return committed


def check_landed(run: Run, out: str, requests: list, committed: dict[int, float]) -> dict:
    """Every posted span must land exactly once, with its duration, and
    every request must be in a committed batch."""
    # base-table trace ids are "tr" + digits; stream ids are base64
    landed = run.server.call("landed", out=out, base_id_pattern="^tr[0-9]+$")
    want = {(tid, sid): dur for req in requests for tid, sid, dur in req.spans}
    seen: dict[tuple[str, str], int] = {}
    wrong = 0
    for tid, sid, dur in landed["rows"]:
        seen[(tid, sid)] = seen.get((tid, sid), 0) + 1
        wrong += want.get((tid, sid)) != dur
    lost = sum(1 for k in want if k not in seen)
    dups = sum(n - 1 for n in seen.values())
    run.layer["ingest.lost_spans"] = lost
    run.layer["ingest.duplicate_spans"] = dups
    for i, req in enumerate(requests):
        if i not in committed:
            run.count(False, f"request {i} not committed by the drain deadline")
        else:
            run.count(all(s[:2] in seen for s in req.spans), f"request {i}: spans lost")
    if dups:
        run.count(False, f"{dups} spans landed more than once")
    if wrong:
        run.count(False, f"{wrong} landed rows are unknown or carry a wrong duration")
    landed["spans"] = len(want) - lost
    return landed


def probe_visibility(run: Run, port: int, requests: list, committed: dict[int, float]) -> None:
    """Does the API serve traces whose batch has committed? Each probe
    asks ``/v1/traces/{id}``; an empty answer counts as failed."""
    rng = random.Random(run.args.seed)
    committed_traces = [t for i in sorted(committed) for t in requests[i].trace_ids]
    probes = rng.sample(committed_traces, min(run.size["probes"], len(committed_traces)))
    hits = 0
    for tid in probes:
        with run.tracer.span("api.visible_probe"):
            try:
                status, body = run.http(port, "GET", f"/v1/traces/{quote(tid, safe='=+')}")
            except OSError as e:
                status, body = -1, repr(e).encode()
        hit = status == 200 and bool(json.loads(body))
        hits += hit
        run.count(hit, f"probe {tid}: HTTP {status}, {body[:80]!r}")
    run.layer["api.visible_probes"] = len(probes)
    run.layer["api.visible_hits"] = hits


def run_backfill(run: Run) -> None:
    import gen

    seed, size = run.args.seed, run.size
    table = make_table(run, size["seed_traces"], seed)
    requests = start_server(run, lambda: gen.request_stream(size["backlog"], seed))
    out = os.path.join(run.work, "table")
    setup = run.server.call("setup_api", table=table, seed_into=out, reps=size["setup_reps"])
    rcv = run.server.call("start_receiver", spool=os.path.join(run.work, "spool"))
    run.e2e["setup_s"] = (
        run.layer["data.gen_s"] + run.layer["session.start_s"] + setup["seed_s"] + setup["setup_s"]
    )
    run.mark("set up")
    sent = post_backlog(run, rcv["port"], requests)

    if run.args.trace:
        run.server.call("engine_mark", name="drain")
    drain = run.server.call(
        "drain", out=out, checkpoint=os.path.join(run.work, "checkpoint"),
        deadline_s=DRAIN_DEADLINE_S, timeout=DRAIN_DEADLINE_S + 60,
    )
    for err in drain["errors"]:
        run.count(False, f"stream exception: {err}")
    run.detail["drain"] = {
        k: drain[k] for k in ("errors", "timed_out", "progress", "recorder", "commits")
    }
    committed = ingest_layer(run, drain)
    drain_s = max(committed.values(), default=drain["stream_end"]) - drain["stream_start"]
    run.mark("drained")
    if run.args.trace:
        engine = run.server.call("engine_since", name="drain", wall_s=drain_s)
        run.detail["engine"] = engine
        run.layer.update({k: v for k, v in engine.items() if k.startswith("spark.")})
    landed = check_landed(run, out, requests, committed)

    commit_lat = [(t - sent[i]) * 1e3 for i, t in committed.items()]
    run.e2e["latency_p50_ms"] = quantile(commit_lat, 0.5)
    run.e2e["latency_p90_ms"] = quantile(commit_lat, 0.9)
    run.e2e["throughput_per_s"] = landed["spans"] / max(drain_s, 1e-9)
    run.layer["sink.files_written"] = len(landed["files"]) - setup["seed_files"]
    new_bytes = sum(sz for _, sz in landed["files"]) - setup["seed_bytes"]
    run.layer["sink.bytes_per_span"] = new_bytes / max(landed["spans"], 1)

    run.mark("checked")
    probe_visibility(run, setup["api_port"], requests, committed)
    run.mark("probed")

    if run.args.trace:
        probe = run.server.call(
            "layer_probe", spool=os.path.join(run.work, "spool"), n_files=20,
            table=table, scratch=os.path.join(run.work, "probe"),
        )
        run.layer.update(probe)


# -- analytics --------------------------------------------------------------------


REFERENCE = os.path.join(HERE, "analytics_ref.json")


def load_reference() -> dict:
    with open(REFERENCE) as fh:
        return json.load(fh)


def registry_laps(run: Run, table: str, variant: int, seconds: float) -> dict:
    """A warm-up lap over ``ANALYTICS_QUERIES`` on ``table`` (each
    query's first run in the session pays for its code generation),
    then timed laps for about ``seconds``, at least
    ``ANALYTICS_MIN_LAPS`` of them. A query's time is its median over
    the timed laps. Every lap must match the recorded row counts and
    digests of table variant ``variant``."""
    names = ANALYTICS_QUERIES[: run.size["analytics_names"]]

    def lap() -> dict:
        return run.server.call("analytics", table=table, names=names, laps=1)["laps"][0]

    warm = lap()
    if run.args.trace:
        run.server.call("engine_mark", name="lap")
    run.mark("registry warmed up")
    t0 = time.perf_counter()
    laps = []
    # no lap starts that would end, on the laps so far, after ``seconds``
    while len(laps) < ANALYTICS_MIN_LAPS or (
        (time.perf_counter() - t0) * (len(laps) + 1) / len(laps) <= seconds
    ):
        laps.append(lap())
    timed_s = time.perf_counter() - t0
    run.mark("registry timed laps")
    got = {n: {"rows": laps[-1][n]["rows"], "digest": laps[-1][n]["digest"]} for n in names}
    if run.args.record_reference:
        ref = load_reference() if os.path.exists(REFERENCE) else {}
        ref.setdefault(str(variant), {}).update(got)
        with open(REFERENCE, "w") as fh:
            json.dump(ref, fh, indent=1, sort_keys=True)
    # the smoke table has no recorded reference; its laps must agree
    want = got if run.args.smoke else load_reference()[str(variant)]
    for res in [warm] + laps:
        for n in res:
            have = {"rows": res[n]["rows"], "digest": res[n]["digest"]}
            run.count(have == want[n], f"{n}: {have} != reference {want[n]}")
    walls = {n: statistics.median(res[n]["wall_s"] for res in laps) for n in names}
    for n in names:
        run.layer[f"query.{n}.wall_s"] = walls[n]
    run.layer["analytics.sweep_s"] = sum(walls.values())
    run.layer["analytics.pre_action_s"] = sum(
        statistics.median(res[n]["pre_action_s"] for res in laps) for n in names
    )
    run.detail["analytics"] = {"warm": warm, "timed": laps}
    return {"walls": list(walls.values()), "timed_s": timed_s, "queries": len(names) * len(laps)}


def registry_table(run: Run, variant: int) -> str:
    """A table variant with recorded query results (the smoke run's
    small table has none)."""
    import gen

    path = os.path.join(run.work, f"registry-{variant}")
    n_traces = run.size["base_traces"] if run.args.smoke else ANALYTICS_TRACES
    return gen.write_span_table(path, n_traces, variant)


def run_analytics(run: Run) -> None:
    """The registry laps on their own, on table variant ``seed % 4``.
    Not gated: ``dashboard``'s traced run measures the same laps."""
    variant = run.args.seed % ANALYTICS_VARIANTS

    def gen_table() -> str:
        with run.tracer.span("data.gen"):
            t = time.perf_counter()
            path = registry_table(run, variant)
            run.layer["data.gen_s"] = time.perf_counter() - t
        return path

    table = start_server(run, gen_table)
    run.e2e["setup_s"] = run.layer["data.gen_s"] + run.layer["session.start_s"]
    run.mark("set up")
    res = registry_laps(run, table, variant, run.args.seconds)
    run.e2e["latency_p50_ms"] = quantile(res["walls"], 0.5) * 1e3
    run.e2e["latency_p90_ms"] = quantile(res["walls"], 0.9) * 1e3
    run.e2e["throughput_per_s"] = res["queries"] / res["timed_s"]
    if run.args.trace:
        engine = run.server.call("engine_since", name="lap", wall_s=res["timed_s"])
        run.detail["engine"] = engine
        run.layer.update({k: v for k, v in engine.items() if k.startswith("spark.")})


WORKLOADS = {"backfill": run_backfill, "dashboard": run_dashboard, "analytics": run_analytics}


# -- main ---------------------------------------------------------------------


def check_checkout() -> str | None:
    for rel in ("nabatshy_spark/__init__.py", "tools/gen_spans_fixture.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from a full checkout"
    try:
        import pyarrow  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        return f"missing dependency: {e}"
    return None


def result_line(run: Run) -> dict:
    run.e2e["ok_share"] = 1.0 - len(run.failures) / max(run.attempted, 1)
    if run.args.trace:
        units = per_layer_units()
        values = {name: run.layer.get(name, 0) for name in units}
    else:
        units = END_TO_END
        values = {name: run.e2e[name] for name in units}
    return {
        "correct": not run.failures,
        "attempted": max(run.attempted, 1),
        "failed": len(run.failures),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def write_record(run: Run, server_trace: dict) -> None:
    """The run's record in .perfbench_out: metrics, failures, details;
    a traced run adds its spans and the overhead against the untraced
    record of the same seed, when there is one."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{run.args.workload}-seed{run.args.seed}"
    doc = {
        "workload": run.args.workload, "seed": run.args.seed, "seconds": run.args.seconds,
        "trace": run.args.trace, "end_to_end": run.e2e, "per_layer": run.layer,
        "failures": run.failures[:50], "detail": run.detail,
    }
    if run.args.trace:
        doc["spans"] = run.tracer.spans + server_trace.get("spans", [])
        untraced = os.path.join(out_dir, f"result-{stem}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            doc["tracing_overhead"] = {
                k: run.e2e[k] / base[k] - 1 for k in base if base.get(k) and k in run.e2e
            }
        path = os.path.join(out_dir, f"trace-{stem}.json")
    else:
        path = os.path.join(out_dir, f"result-{stem}-trace0.json")
    with open(path, "w") as fh:
        json.dump(doc, fh, default=str)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the benchmark's tests")
    ap.add_argument("--record-reference", action="store_true",
                    help="analytics: store this table variant's row counts and digests")
    args = ap.parse_args(argv)
    problem = check_checkout()
    if problem:
        print(problem, file=sys.stderr)
        return 2

    # a terminated run still stops the process under test (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.work)
    timer = threading.Timer(RUN_DEADLINE_S, _deadline, args=(run,))
    timer.daemon = True
    timer.start()
    server_trace: dict = {}
    cpu0 = cpu_times()
    try:
        WORKLOADS[args.workload](run)
        if args.trace:
            server_trace = run.server.call("trace")
            run.layer["trace.overhead_s"] = run.tracer.self_s + server_trace["self_s"]
    except ServerError as e:
        print(f"benchmark aborted: {e}", file=sys.stderr)
        if run.server is not None:
            print(run.server.tail(), file=sys.stderr)
        return 1
    finally:
        run.layer["host.steal_share"] = steal_share(cpu0, cpu_times())
        if run.sampler:
            run.layer["process.peak_rss_mb"] = run.sampler.stop() / 2**20
        if run.server is not None:
            run.server.close()
            run.mark("server stopped")
        timer.cancel()
        shutil.rmtree(run.work, ignore_errors=True)
    line = result_line(run)
    write_record(run, server_trace)
    for f in run.failures[:20]:
        print(f"FAILED: {f}", file=sys.stderr)
    print(json.dumps(line))
    return 0


def _deadline(run: Run) -> None:
    print(f"benchmark aborted: run exceeded {RUN_DEADLINE_S} s", file=sys.stderr)
    if run.server is not None:
        run.server.kill_group()
    os._exit(1)


if __name__ == "__main__":
    sys.exit(main())
