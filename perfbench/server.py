"""The process under test: Spark session, OTLP receiver, ingest streams
and the query API, driven by ``run.py`` over stdin/stdout.

Each stdin line is ``{"op": name, "args": {...}}``; each reply is one
stdout line ``{"ok": true, "result": ...}`` or ``{"ok": false,
"error": traceback}``. Spark's own logging goes to stderr. Every layer
is reached through its public functions and HTTP endpoints, so the
numbers here are what a caller of the package would see.

The process runs from the checkout root and imports ``nabatshy_spark``
from there, as a deployment of the package would.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
import traceback
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from tracing import Tracer  # noqa: E402

# the fixed clock of every time-ranged route: 3 h after the span
# table's first hour (tools/gen_spans_fixture.BASE_NS + 6 h)
NOW = datetime(2024, 2, 1, 6, 0, 0, tzinfo=timezone.utc)
DAY_S = 86400
ROUND_DIGITS = 9  # float digits kept when comparing results


def canonical_rows(rows: list) -> list[str]:
    """Rows (dicts or Spark Rows) → sorted canonical JSON strings, with
    floats rounded so that summation order cannot flip a comparison."""

    def norm(v):
        if isinstance(v, float):
            return float(f"{v:.{ROUND_DIGITS}g}")
        if isinstance(v, dict):
            return {k: norm(x) for k, x in sorted(v.items())}
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        if hasattr(v, "asDict"):
            return norm(v.asDict(recursive=True))
        return v

    return sorted(json.dumps(norm(r), sort_keys=True, default=str) for r in rows)


def operator_calls(S, now_s: int) -> dict:
    """The seven span operators behind the routes, as the routes call
    them. ``tid`` binds the trace id, ``q`` the search query."""
    lo, hi = now_s - DAY_S, now_s
    return {
        "search_spans": lambda df, q="", **_: S.search_spans(
            df, query=q, trace_or_span="trace",
            start_ns=lo * 1_000_000_000, end_ns=hi * 1_000_000_000, page_size=20,
        ),
        "endpoint_latency": lambda df, **_: S.endpoint_latency(df),
        "service_dependency_graph": lambda df, **_: S.service_dependency_graph(df),
        "search_metric_series": lambda df, **_: S.search_metric_series(df, lo, hi),
        "trace_details": lambda df, tid="", **_: S.trace_details(df, tid),
        "service_metrics": lambda df, **_: S.service_metrics(df, lo, hi),
        "distinct_services": lambda df, **_: S.distinct_services(df),
    }


class Harness:
    def __init__(self, traced: bool) -> None:
        self.tracer = Tracer(traced, "server")
        t = time.perf_counter()
        from nabatshy_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.apis: list = []
        self.receiver = None
        self.engine_marks: dict[str, tuple[int, int]] = {}

    # -- engine counters ------------------------------------------------

    def _jobs(self):
        jobs = self.sc._jsc.sc().statusStore().jobsList(self.sc._jvm.java.util.ArrayList())
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def _stages(self):
        jl = self.sc._jvm.java.util.ArrayList()
        empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        it = self.sc._jsc.sc().statusStore().stageList(jl, False, False, empty, jl).iterator()
        while it.hasNext():
            yield it.next()

    def op_engine_mark(self, name: str) -> dict:
        """Remember the newest job and stage ids; ``engine_since`` sums
        everything after them."""
        self.engine_marks[name] = (
            max(self._jobs(), default=-1),
            max((s.stageId() for s in self._stages()), default=-1),
        )
        return {}

    def op_engine_since(self, name: str, wall_s: float) -> dict:
        job0, stage0 = self.engine_marks[name]
        n_jobs = sum(1 for j in self._jobs() if j > job0)
        tot = dict(stages=0, tasks=0, run_ms=0, cpu_ns=0, shuffle=0, spill=0, gc_ms=0)
        per_stage = []
        for s in self._stages():
            if s.stageId() <= stage0 or s.status().toString() == "SKIPPED":
                continue
            row = dict(
                id=s.stageId(), tasks=s.numTasks(), run_ms=s.executorRunTime(),
                cpu_ns=s.executorCpuTime(),
                shuffle=s.shuffleReadBytes() + s.shuffleWriteBytes(),
                spill=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                gc_ms=s.jvmGcTime(), name=s.name(),
            )
            per_stage.append(row)
            tot["stages"] += 1
            for k in ("tasks", "run_ms", "cpu_ns", "shuffle", "spill", "gc_ms"):
                tot[k] += row[k]
        cores = self.sc.defaultParallelism
        return {
            "spark.jobs": n_jobs,
            "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
            "spark.task_run_s": tot["run_ms"] / 1e3,
            "spark.task_cpu_s": tot["cpu_ns"] / 1e9,
            "spark.shuffle_bytes": tot["shuffle"],
            "spark.spill_bytes": tot["spill"],
            "spark.gc_s": tot["gc_ms"] / 1e3,
            "spark.busy_share": tot["run_ms"] / 1e3 / max(wall_s * cores, 1e-9),
            "stages": per_stage,
        }

    # -- serving ----------------------------------------------------------

    def op_setup_api(self, table: str, seed_into: str | None = None, reps: int = 3) -> dict:
        """Build the query API over ``table`` ``reps`` times (construct
        and fill its cache) and keep the last one serving. With
        ``seed_into``, the base table is first appended into that path
        through the span sink and the API serves that path instead."""
        from nabatshy_spark.serving.api import TelemetryAPI
        from nabatshy_spark.sources.sink import append_spans

        out = {}
        if seed_into:
            with self.tracer.span("sink.seed_table"):
                t = time.perf_counter()
                append_spans(self.spark.read.parquet(table), seed_into)
                out["seed_s"] = time.perf_counter() - t
            files = glob.glob(os.path.join(seed_into, "**", "*.parquet"), recursive=True)
            out["seed_files"] = len(files)
            out["seed_bytes"] = sum(os.path.getsize(f) for f in files)
            table = seed_into
        times = []
        for _ in range(reps):
            for api in self.apis:
                api.stop()
            with self.tracer.span("api.setup"):
                t = time.perf_counter()
                api = TelemetryAPI(self.spark, table, host="127.0.0.1", port=0, now=NOW)
                api.spans.count()
                times.append(time.perf_counter() - t)
            self.apis = [api.start()]
        out.update(api_port=self.apis[0].port, setup_s=statistics.median(times), setup_reps=times)
        return out

    def op_expected(self, tids: list[str], queries: list[str]) -> dict:
        """Each route operator called directly on the API's own table,
        keyed ``"<operator>|<bound id or query>"``."""
        from nabatshy_spark.operators import spans as S

        df = self.apis[0].spans
        out = {}
        for name, fn in operator_calls(S, int(NOW.timestamp())).items():
            binds = {"trace_details": tids, "search_spans": queries}.get(name, [""])
            for b in binds:
                rows = fn(df, tid=b, q=b).limit(10_000).toJSON().collect()
                out[f"{name}|{b}"] = canonical_rows([json.loads(r) for r in rows])
        return out

    def op_operator_collect(self, name: str, bind: str = "") -> dict:
        """One direct collect of a route operator on the API's table,
        from a fresh plan: wall time and stage count."""
        from nabatshy_spark.operators import spans as S

        fn = operator_calls(S, int(NOW.timestamp()))[name]
        group = f"op.{name}.{time.monotonic_ns()}"
        self.sc.setJobGroup(group, group)
        try:
            with self.tracer.span(f"op.{name}"):
                t = time.perf_counter()
                fn(self.apis[0].spans, tid=bind, q=bind).limit(10_000).toJSON().collect()
                ms = (time.perf_counter() - t) * 1e3
        finally:
            self.sc.setJobGroup("perfbench", "perfbench")
        st = self.sc.statusTracker()
        stages = sum(len(st.getJobInfo(j).stageIds) for j in st.getJobIdsForGroup(group))
        return {"collect_ms": ms, "stages": stages}

    # -- ingest -----------------------------------------------------------

    def op_start_receiver(self, spool: str) -> dict:
        from nabatshy_spark.streaming.receiver import OTLPReceiver

        self.receiver = OTLPReceiver(spool, host="127.0.0.1", port=0).start()
        return {"port": self.receiver.port}

    def op_drain(self, out: str, checkpoint: str, deadline_s: float) -> dict:
        """Drain the spooled backlog with both ingest streams
        (``availableNow``) and wait up to ``deadline_s`` for them."""
        from nabatshy_spark.streaming import metrics
        from nabatshy_spark.streaming.ingest import (
            start_file_ingest,
            start_protobuf_file_ingest,
        )

        recorder = metrics.attach(self.spark)
        rcv = self.receiver
        t0 = time.time()
        with self.tracer.span("ingest.drain"):
            queries = {
                "json": start_file_ingest(
                    self.spark, rcv.spool_json, out, os.path.join(checkpoint, "json")
                ),
                "pb": start_protobuf_file_ingest(
                    self.spark, rcv.spool_pb, out, os.path.join(checkpoint, "pb")
                ),
            }
            errors, timed_out = [], []
            for kind, q in queries.items():
                left = max(0.0, t0 + deadline_s - time.time())
                try:
                    if not q.awaitTermination(left):
                        timed_out.append(kind)
                        q.stop()
                except Exception as e:  # a failed stream is a counted failure
                    errors.append(f"{kind}: {type(e).__name__}: {str(e)[:500]}")
        t_end = time.time()
        progress = {
            kind: [json.loads(p.json) for p in q.recentProgress] for kind, q in queries.items()
        }
        for kind, rows in progress.items():
            for p in rows:
                start = _iso_s(p["timestamp"])
                end = start + p["durationMs"].get("triggerExecution", 0) / 1e3
                self.tracer.add(f"ingest.batch.{kind}", start, end,
                                batch=p["batchId"], rows=p["numInputRows"])
        self.spark.streams.removeListener(recorder)
        return {
            "stream_start": t0,
            "stream_end": t_end,
            "errors": errors,
            "timed_out": timed_out,
            "progress": progress,
            "recorder": recorder.rows,
            "commits": {k: read_commit_log(os.path.join(checkpoint, k)) for k in queries},
        }

    def op_landed(self, out: str, base_id_pattern: str) -> dict:
        """Span rows of the request stream found in the table: (trace,
        span, duration) for every row whose trace id does not match
        ``base_id_pattern``, plus the table's parquet files."""
        from pyspark.sql import functions as F

        rows = (
            self.spark.read.parquet(out)
            .filter(~F.col("trace_id").rlike(base_id_pattern))
            .select("trace_id", "span_id", "duration_ns")
            .collect()
        )
        files = [
            (p, os.path.getsize(p))
            for p in glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
        ]
        return {"rows": [list(r) for r in rows], "files": files}

    def op_layer_probe(self, spool: str, n_files: int, table: str, scratch: str) -> dict:
        """Time the parse and decode layers on a fixed spooled batch
        (``n_files`` of each kind, parsed and executed without a sink),
        and the sink on the spans of ``table``."""
        from nabatshy_spark.sources.otlp import parse_otlp_json
        from nabatshy_spark.sources.otlp_pb import parse_otlp_protobuf
        from nabatshy_spark.sources.sink import append_spans
        from nabatshy_spark.streaming.ingest import RAW_SCHEMA

        json_files = sorted(glob.glob(os.path.join(spool, "json", "*.jsonl")))[:n_files]
        pb_files = sorted(glob.glob(os.path.join(spool, "pb", "*.pb")))[:n_files]
        raw_json = self.spark.read.schema(RAW_SCHEMA).text(json_files)
        raw_pb = self.spark.read.format("binaryFile").load(pb_files).select("content")
        out = {}
        for layer, wall_name, build in (
            ("otlp_json", "parse_s", lambda: parse_otlp_json(raw_json, "value")),
            ("otlp_pb", "decode_s", lambda: parse_otlp_protobuf(raw_pb, "content")),
        ):
            with self.tracer.span(f"{layer}.{wall_name}"):
                t = time.perf_counter()
                # planned once and executed once: every row is produced
                # and counted, none is written
                qe = build()._jdf.queryExecution()
                qe.toRdd().count()
                out[f"{layer}.{wall_name}"] = time.perf_counter() - t
            out[f"{layer}.plan_s"] = sum(_phases(qe).values()) / 1e3
        dest = os.path.join(scratch, "sink_probe")
        with self.tracer.span("sink.write"):
            t = time.perf_counter()
            append_spans(self.spark.read.parquet(table), dest)
            out["sink.write_s"] = time.perf_counter() - t
        return out

    # -- registry -----------------------------------------------------------

    def op_analytics(self, table: str, names: list[str], laps: int) -> dict:
        """Run the registry queries ``names`` over ``table`` for
        ``laps`` laps: per query, DataFrame construction time (which
        includes any eager jobs), total wall time, row count and an
        order-insensitive digest of the rows."""
        import hashlib

        os.environ["NABATSHY_SPANS_PATH"] = table
        import nabatshy_spark.plans.span_queries  # noqa: F401  (registers them)
        from nabatshy_spark.plans.queries import QUERIES

        out = []
        for lap in range(laps):
            res = {}
            for name in names:
                self.sc.setJobGroup(f"query.{name}", name)
                with self.tracer.span(f"query.{name}", lap=lap):
                    t = time.perf_counter()
                    df = QUERIES[name](self.spark, "")
                    t_built = time.perf_counter()
                    rows = df.collect()
                    t_done = time.perf_counter()
                digest = hashlib.sha256("\n".join(canonical_rows(rows)).encode()).hexdigest()[:16]
                res[name] = {
                    "wall_s": t_done - t,
                    "pre_action_s": t_built - t,
                    "rows": len(rows),
                    "digest": digest,
                }
            out.append(res)
        self.sc.setJobGroup("perfbench", "perfbench")
        return {"laps": out}

    # -- lifecycle ------------------------------------------------------------

    def op_hello(self) -> dict:
        return {
            "pid": os.getpid(),
            "session_start_s": self.session_start_s,
            "cores": self.sc.defaultParallelism,
            "spark": self.spark.version,
        }

    def op_trace(self) -> dict:
        return {"spans": self.tracer.spans, "self_s": self.tracer.self_s}


def _phases(qe) -> dict[str, int]:
    """Catalyst phase durations (ms) from a QueryExecution's tracker."""
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def read_commit_log(checkpoint: str) -> dict:
    """Which spool files each micro-batch read (``sources/0/<batch>``)
    and when that batch committed (mtime of ``commits/<batch>``)."""
    batches = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        name = os.path.basename(p)
        if not name.isdigit():
            continue
        with open(p) as fh:
            lines = fh.read().splitlines()[1:]
        files = [os.path.basename(json.loads(x)["path"]) for x in lines if x.strip()]
        commit = os.path.join(checkpoint, "commits", name)
        batches[int(name)] = {
            "files": files,
            "commit": os.path.getmtime(commit) if os.path.exists(commit) else None,
        }
    return batches


def main() -> None:
    traced = "--trace" in sys.argv
    h = Harness(traced)
    h.sc.setJobGroup("perfbench", "perfbench")
    reply_out = sys.stdout
    sys.stdout = sys.stderr  # stray prints must not corrupt the protocol
    for line in sys.stdin:
        if not line.strip():
            continue
        cmd = json.loads(line)
        try:
            res = getattr(h, "op_" + cmd["op"])(**cmd.get("args", {}))
            reply = {"ok": True, "result": res}
        except Exception:
            reply = {"ok": False, "error": traceback.format_exc()[-4000:]}
        reply_out.write(json.dumps(reply, default=str) + "\n")
        reply_out.flush()


if __name__ == "__main__":
    main()
