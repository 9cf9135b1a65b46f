"""Benchmark harness: runs the headline queries (``headline=True`` in the
registry) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line: {"metric": ...,
"value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Methodology: steady-state timing with the protocol of tools/measure.py.
Table footers are warmed; each query runs once unmeasured (plan
compilation, codegen, broadcast and artifact builds) and is then timed
in two interleaved laps over the whole set, keeping the min. Slow and
regressed queries are re-measured, and regressions that survive are
re-measured again in a fresh session. The full per-query map goes to
BENCH_DETAIL.json.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from nabatshy_spark import artifacts
from nabatshy_spark.plans.queries import HEADLINE, QUERIES
from tools.measure import measure, sf_number, use_scaled_spans, warm_session

# The driver keeps only the last 2000 bytes of stdout and parses the
# final JSON line from that tail; 400 bytes stay free for whatever the
# JVM writes after our print.
LINE_BUDGET = 1600
# Regression gates vs the previous recorded round: only bases of at
# least 0.2 s, where 25% is signal rather than scheduler jitter.
MIN_BASE_S = 0.2
REGRESSION = 1.25


def _prev_bench() -> tuple[int | None, dict[str, float], bool]:
    """Latest BENCH_r{N}.json in the repo root → (round, per-query
    times, whether the map covers the whole sweep)."""
    best: tuple[int, dict[str, float], float | None, int | None] | None = None
    for p in glob.glob(os.path.join(HERE, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if not m:
            continue
        try:
            with open(p) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        # the driver wraps our JSON line under "parsed" (null when the
        # line overflowed its tail buffer)
        line = data if data.get("queries") else (data.get("parsed") or {})
        q = line.get("queries") or {}
        n = int(m.group(1))
        if q and (best is None or n > best[0]):
            q = {k: float(v) for k, v in q.items()}
            best = (n, q, line.get("value"), line.get("n_queries"))
    if best is None:
        return (None, {}, False)
    n, line_q, total, n_queries = best
    # The recorded line folds the fast tail, so it carries only the
    # slowest ~50 queries. BENCH_DETAIL.json holds the full map but is
    # overwritten by every bench run; merge it only when its stamped
    # total equals the line's value (same run), otherwise the regression
    # gates would re-measure the wrong queries.
    try:
        with open(os.path.join(HERE, "BENCH_DETAIL.json")) as fh:
            detail = json.load(fh)
        same_run = (
            detail.get("total") is not None
            and total is not None
            and abs(float(detail["total"]) - float(total)) < 1e-6
        )
        if detail.get("sf") == 0.1 and detail.get("queries") and same_run:
            merged = {k: float(v) for k, v in detail["queries"].items()}
            merged.update(line_q)  # the recorded line stays canonical
            return (n, merged, True)
    except (OSError, json.JSONDecodeError):
        pass
    return (n, line_q, n_queries is not None and len(line_q) >= n_queries)


def _regressed(timings: dict[str, float], prev: dict[str, float], cap: int) -> list[str]:
    """The ``cap`` worst ratios among queries slower than REGRESSION x
    their previous time."""
    return sorted(
        (
            k
            for k, v in timings.items()
            if k in prev and prev[k] >= MIN_BASE_S and v > REGRESSION * prev[k]
        ),
        key=lambda k: timings[k] / prev[k],
        reverse=True,
    )[:cap]


def _artifact_root() -> str | None:
    """A fresh per-run artifact root, so every fingerprint-keyed artifact
    is rebuilt (and its build time recorded) this run instead of timing
    warm reads of a possibly stale build. An explicit
    SPARK_GRAFT_ARTIFACT_DIR is respected (correctness-only runs)."""
    if "SPARK_GRAFT_ARTIFACT_DIR" in os.environ:
        return None
    # Crashed runs leave their roots behind; sweep ones older than 6 h.
    tmp = tempfile.gettempdir()
    cutoff = time.time() - 6 * 3600
    for e in os.listdir(tmp):
        if e.startswith("nabatshy_bench_artifacts_"):
            p = os.path.join(tmp, e)
            try:
                if os.stat(p).st_mtime < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    root = tempfile.mkdtemp(prefix="nabatshy_bench_artifacts_")
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = root
    return root


def _line(timings: dict[str, float], total: float, sf, top_n: int) -> str:
    by_cost = sorted(timings, key=timings.get, reverse=True)
    rest = by_cost[top_n:]
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": {k: timings[k] for k in by_cost[:top_n]},
        "sf": sf,
        "n_queries": len(timings),
        "omitted_fast_queries": len(rest),
        "omitted_fast_sec": round(sum(timings[k] for k in rest), 4),
        # once-per-corpus build cost, not part of `value`
        "artifact_build_sec": round(sum(artifacts.BUILD_TIMES.values()), 4),
        "detail": "BENCH_DETAIL.json",
    }
    return json.dumps(payload, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    run_artifact_dir = _artifact_root()
    artifacts.BUILD_TIMES.clear()
    use_scaled_spans(sf_number(sf_dir))
    spark = warm_session("nabatshy_bench", sf_dir)

    def timed(name: str, **kw) -> float:
        return measure(spark, lambda: QUERIES[name](spark, sf_dir), **kw)

    # Two interleaved laps rather than back-to-back runs: slow host/JVM
    # drift over the sweep then hits each query in at most one lap and
    # the min cancels it. Lap 0 also carries the warm run.
    names = [n for n in QUERIES if n in HEADLINE]
    lap_times: dict[str, list[float]] = {}
    for lap in range(2):
        for i, name in enumerate(names, start=1):
            t = timed(name, warm=lap == 0, jvm_gc=i % 10 == 0)
            lap_times.setdefault(name, []).append(round(t, 4))
    timings = {k: min(v) for k, v in lap_times.items()}

    # Re-measure the slowest queries and the worst regressors (min-of-2
    # more after a full GC): a long single-JVM sweep shows transient
    # mid-run inflation that is position-in-sweep luck, not query cost.
    # The regressor cap keeps an environmental shift of the whole sweep
    # from doubling the run.
    spark.sparkContext._jvm.System.gc()
    prev_round, prev, prev_full = _prev_bench()
    slowest = sorted(timings, key=timings.get, reverse=True)[:10]
    remeasured = list(dict.fromkeys(slowest + _regressed(timings, prev, 20)))
    for name in remeasured:
        timings[name] = round(min(timings[name], timed(name, runs=2)), 4)

    total = round(sum(timings.values()), 4)
    delta = {k: round(v - prev[k], 4) for k, v in timings.items() if k in prev}

    # Fresh-session solo adjudication, only at the recorded scale (the
    # baseline is sf0.1): every query still past the regression gate,
    # and every query with no previous time, is re-measured min-of-4 in
    # a new session so the session's storage/GC debt is ruled out. The
    # sweep number stays canonical; the solo number is the evidence.
    # First-timers need the previous full per-query map: against the
    # truncated line every fast query would look new.
    at_scale = sf == "0.1"
    movers = _regressed(timings, prev, 15) if at_scale else []
    first_timers = (
        [k for k in timings if k not in prev] if at_scale and prev_full else []
    )
    solo_targets = list(dict.fromkeys(movers + first_timers))
    solo: dict[str, float] = {}
    if solo_targets:
        spark.stop()
        spark = warm_session("nabatshy_bench_solo", sf_dir)
        for name in solo_targets:
            solo[name] = round(timed(name, runs=4, warm=True), 4)
        # BENCH_DETAIL is overwritten by every run; this log keeps every
        # run's adjudications.
        with open(os.path.join(HERE, "BENCH_ADJUDICATIONS.jsonl"), "a") as fh:
            record = {
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "sf": sf_val,
                "baseline_round": prev_round,
                # "prev": null marks a first-timer
                "movers": {
                    k: {"sweep": timings[k], "prev": prev.get(k), "solo": solo.get(k)}
                    for k in solo_targets
                },
            }
            fh.write(json.dumps(record, sort_keys=True) + "\n")

    detail_payload = {
        "queries": timings,
        # per-artifact build seconds (fresh root: every artifact built
        # this run, inside the warm lap)
        "artifact_builds": dict(artifacts.BUILD_TIMES),
        # run stamp: _prev_bench merges this file only into the
        # BENCH_r{N} line with the same value
        "total": total,
        "prev_round": prev_round,
        "delta_vs_prev": delta,
        # min-of-4 instead of min-of-2 for these
        "remeasured": remeasured,
        "solo_adjudication": solo,
        # False: only the truncated recorded line was available, so no
        # query was flagged as a first-timer
        "prev_map_full": prev_full,
        "lap_times": lap_times,
        "sf": sf_val,
    }
    outs = ["BENCH_DETAIL.json"]
    if at_scale and prev_round is not None:
        # per-round copy: later local runs overwrite BENCH_DETAIL.json
        outs.append(f"BENCH_DETAIL_r{prev_round + 1}.json")
    for out in outs:
        with open(os.path.join(HERE, out), "w") as fh:
            json.dump(detail_payload, fh, indent=1, sort_keys=True)

    # Report the slowest queries individually and fold the fast tail
    # into one aggregate until the line fits the budget.
    n = len(timings)
    line = _line(timings, total, sf_val, n)
    while n > 1 and len(line) > LINE_BUDGET:
        n -= 1
        line = _line(timings, total, sf_val, n)
    print(line)
    # zorder/bucketed layouts in the artifact root are full table copies
    if run_artifact_dir is not None:
        shutil.rmtree(run_artifact_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
