"""The benchmark's own tests: seeded inputs, the output contract, and a
smoke run of each workload. Run with

    python3 -m pytest perfbench/tests -q

The smoke runs start a Spark session each and take a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run as runner  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_requests():
    a, b = gen.request_stream(6, seed=5), gen.request_stream(6, seed=5)
    assert [r.body for r in a] == [r.body for r in b]
    assert [r.spans for r in a] == [r.spans for r in b]
    c = gen.request_stream(6, seed=6)
    assert [r.body for r in a] != [r.body for r in c]


def test_requests_alternate_and_carry_whole_traces():
    reqs = gen.request_stream(4, seed=1)
    assert [r.content_type for r in reqs] == [gen.JSON_TYPE, gen.PB_TYPE] * 2
    keys = [(t, s) for r in reqs for t, s, _ in r.spans]
    assert len(keys) == len(set(keys))
    for r in reqs:
        assert set(r.trace_ids) == {t for t, _, _ in r.spans}
    # the API takes ids as path segments
    assert not any("/" in t + s for t, s in keys)


def test_protobuf_body_decodes_to_the_json_document():
    """The encoder and the engine's decoder agree: the protobuf body of
    a request decodes to the spans its JSON form carries."""
    from nabatshy_spark.sources.otlp_pb import request_to_json

    pb = gen.request_stream(2, seed=3)[1]
    doc = json.loads(request_to_json(pb.body))
    got = [
        (sp["traceId"], sp["spanId"],
         int(sp["endTimeUnixNano"]) - int(sp["startTimeUnixNano"]))
        for rs in doc["resourceSpans"] for ss in rs["scopeSpans"] for sp in ss["spans"]
    ]
    assert sorted(got) == sorted(pb.spans)


def test_same_seed_same_span_table(tmp_path):
    a = gen.write_span_table(str(tmp_path / "a"), 50, seed=4)
    b = gen.write_span_table(str(tmp_path / "b"), 50, seed=4)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors


def test_quantile_is_harrell_davis():
    import random

    assert runner.quantile([], 0.5) == 0.0 and runner.quantile([4.0], 0.9) == 4.0
    # symmetric samples: the median estimate is the centre
    assert abs(runner.quantile(list(range(1, 12)), 0.5) - 6.0) < 1e-9
    rng = random.Random(0)
    xs = [rng.lognormvariate(0, 1) for _ in range(13)]
    q = [runner.quantile(xs, p) for p in (0.1, 0.5, 0.9)]
    assert min(xs) < q[0] < q[1] < q[2] < max(xs)
    # the Beta weights sum to 1: a constant sample is its own quantile
    assert abs(runner.quantile([2.5] * 7, 0.9) - 2.5) < 1e-9


def test_benchmark_json_keeps_the_contract_limits():
    import re

    bench = _bench_json()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(name.match(n) for n in names) and len(names) == len(set(names))
    assert 2 <= len(bench["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    assert 1 <= len(bench["end_to_end"]) <= 16 and 1 <= len(bench["per_layer"]) <= 128
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert unit.match(m["unit"]) and m["better"] in ("higher", "lower")
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert 1 <= bench["run_seconds"] <= 60
    assert len(json.dumps(bench)) <= 64 * 1024


def test_metric_names_match_benchmark_json():
    bench = _bench_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == runner.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == runner.per_layer_units()
    assert len(bench["per_layer"]) <= 128
    assert {w["name"] for w in bench["workloads"]} <= set(runner.WORKLOADS)


def _smoke(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )


@pytest.mark.parametrize("workload,trace", [
    ("dashboard", 0), ("dashboard", 1), ("backfill", 1), ("analytics", 0),
])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace):
    p = _smoke(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    bench = _bench_json()
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in line["metrics"].values())


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _smoke("dashboard", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
