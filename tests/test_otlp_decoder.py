"""The OTLP request decoder (sources/otlp.py): JSON and protobuf give
the same rows for any request, bounded output batches, Go-exact double
formatting, a plan that stays small, and ingest that runs from any
working directory."""

from __future__ import annotations

import base64
import json
import os
import subprocess
import sys

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from nabatshy_spark.sources import otlp
from nabatshy_spark.sources.otlp import (
    format_go_float,
    json_request,
    parse_otlp_json,
    span_rows,
)
from nabatshy_spark.sources.otlp_pb import parse_otlp_protobuf, request_to_dict
from nabatshy_spark.streaming.ingest import RAW_SCHEMA, ingest_batch
from tests import pb_wire
from tests.test_otlp_ingest import _legacy_payload, _payload
from tests.test_otlp_protobuf import _request_dict

BIN_SCHEMA = T.StructType([T.StructField("value", T.BinaryType())])
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# --- request strategies ---------------------------------------------------
# Only what the protobuf encoding can carry: a field that proto3 cannot
# tell apart from its default (trace id, names, times) is always present
# in the JSON form; parentSpanId, flags, attributes, events, schemaUrl,
# the resource and attribute values may be missing.

TEXT = st.text(max_size=6)
KEYS = st.one_of(st.sampled_from(["a", "b", "service.name"]), TEXT)
B64 = st.binary(max_size=16).map(lambda b: base64.b64encode(b).decode())
U64 = st.integers(0, 2**64 - 1).map(str)

SCALARS = st.one_of(
    TEXT.map(lambda s: {"stringValue": s}),
    st.integers(-(2**63), 2**63 - 1).map(lambda n: {"intValue": str(n)}),
    st.floats().map(lambda d: {"doubleValue": d}),
    st.booleans().map(lambda b: {"boolValue": b}),
    st.binary(max_size=6).map(lambda b: {"bytesValue": base64.b64encode(b).decode()}),
    st.just({}),  # no value set
)


def _keyvalues(values: st.SearchStrategy) -> st.SearchStrategy:
    kv = st.fixed_dictionaries({"key": KEYS}, optional={"value": values})
    return st.lists(kv, max_size=4)


def _anyvalues(depth: int) -> st.SearchStrategy:
    if depth == 0:
        return SCALARS
    inner = _anyvalues(depth - 1)
    gappy = st.one_of(inner, st.just({"stringValue": ""}), st.just({}))
    return st.one_of(
        SCALARS,
        st.lists(gappy, max_size=4).map(lambda vs: {"arrayValue": {"values": vs}}),
        _keyvalues(inner).map(lambda kvs: {"kvlistValue": {"values": kvs}}),
    )


ATTRS = _keyvalues(_anyvalues(2))
EVENT = st.fixed_dictionaries({"timeUnixNano": U64, "name": TEXT}, optional={"attributes": ATTRS})
SPAN = st.fixed_dictionaries(
    {
        "traceId": B64,
        "spanId": B64,
        "name": TEXT,
        "startTimeUnixNano": U64,
        "endTimeUnixNano": U64,
    },
    optional={
        "parentSpanId": B64,
        "flags": st.integers(0, 2**32 - 1),
        "attributes": ATTRS,
        "events": st.lists(EVENT, max_size=2),
    },
)
SCOPE_SPANS = st.fixed_dictionaries(
    {"scope": st.fixed_dictionaries({"name": TEXT, "version": TEXT}), "spans": st.lists(SPAN, max_size=3)}
)
RESOURCE_SPANS = st.fixed_dictionaries(
    {"scopeSpans": st.lists(SCOPE_SPANS, max_size=2), "legacy": st.booleans()},
    optional={"resource": st.fixed_dictionaries({"attributes": ATTRS}), "schemaUrl": TEXT},
)
REQUESTS = st.lists(RESOURCE_SPANS, max_size=2).map(lambda rss: {"resourceSpans": rss})


def _as_json(req: dict) -> dict:
    """The JSON form: resources marked legacy use the pre-1.0
    ``instrumentationLibrarySpans`` shape."""
    out = []
    for rs in req["resourceSpans"]:
        rs = dict(rs)
        if rs.pop("legacy"):
            rs["instrumentationLibrarySpans"] = [
                {"instrumentationLibrary": ss["scope"], "spans": ss["spans"]}
                for ss in rs.pop("scopeSpans")
            ]
        out.append(rs)
    return {"resourceSpans": out}


def _as_protobuf(req: dict) -> bytes:
    """The protobuf form. A legacy resource is written as what the
    legacy rewrite means: one current-shape resource per span, whose
    attributes are the resource's followed by the span's."""
    out = []
    for rs in req["resourceSpans"]:
        rs = dict(rs)
        if not rs.pop("legacy"):
            out.append(rs)
            continue
        res = rs.get("resource", {}).get("attributes", [])
        out += [
            dict(rs, resource={"attributes": res + sp.get("attributes", [])},
                 scopeSpans=[{"scope": ss["scope"], "spans": [sp]}])
            for ss in rs["scopeSpans"]
            for sp in ss["spans"]
        ]
    return pb_wire.request({"resourceSpans": out})


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(REQUESTS)
def test_json_and_protobuf_decode_to_the_same_rows(req):
    js = span_rows(json_request(json.dumps(_as_json(req)).encode()))
    pb = span_rows(request_to_dict(_as_protobuf(req)))
    assert sorted(js, key=repr) == sorted(pb, key=repr)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(REQUESTS, min_size=1, max_size=4))
def test_spark_rows_match_across_content_types(spark, reqs):
    """The same through Spark: Arrow conversion of every column type."""
    js = spark.createDataFrame([(json.dumps(_as_json(r)),) for r in reqs], RAW_SCHEMA)
    pb = spark.createDataFrame([(bytearray(_as_protobuf(r)),) for r in reqs], BIN_SCHEMA)
    js_rows = sorted(parse_otlp_json(js).collect(), key=repr)
    assert js_rows == sorted(parse_otlp_protobuf(pb).collect(), key=repr)
    assert len(js_rows) == sum(len(span_rows(_as_json(r))) for r in reqs)


def test_output_batches_are_bounded(monkeypatch):
    """A request with more spans than a batch holds is split across
    batches of at most ``_BATCH_ROWS`` rows, in order."""
    monkeypatch.setattr(otlp, "_BATCH_ROWS", 3)
    raw = pa.array([_payload().encode(), _legacy_payload().encode()], pa.binary())
    batches = list(otlp._decode_batches(
        iter([pa.record_batch([raw], names=["value"])]),
        json_request, to_arrow_schema(otlp._PARSED), dead_letter=False,
    ))
    assert [b.num_rows for b in batches] == [3, 2]
    assert [s for b in batches for s in b.column("span_id").to_pylist()] == ["s0", "s1", "s2", "s3", "s9"]


# --- Go 'f' formatting of doubles ------------------------------------------


def test_doubles_format_like_go():
    """strconv.FormatFloat(v, 'f', -1, 64) outputs."""
    assert format_go_float(2e23) == "200000000000000000000000"
    assert format_go_float(5e-324) == "0." + "0" * 323 + "5"
    assert format_go_float(0.1) == "0.1"
    assert format_go_float(-0.0) == "-0"
    assert format_go_float(1e21) == "1000000000000000000000"
    assert format_go_float(1.0) == "1"
    assert format_go_float(1.23e-7) == "0.000000123"
    assert format_go_float(float("nan")) == "NaN"
    assert format_go_float(float("inf")) == "+Inf"
    assert format_go_float(float("-inf")) == "-Inf"


def test_doubles_format_like_go_through_ingest(spark):
    doc = json.loads(_payload())
    doc["resourceSpans"][0]["scopeSpans"][0]["spans"][0]["attributes"] = [
        {"key": "big", "value": {"doubleValue": 2e23}},
        {"key": "tiny", "value": {"doubleValue": 5e-324}},
        {"key": "nan", "value": {"doubleValue": "NaN"}},
    ]
    sa = {r.span_id: r for r in ingest_batch(spark, [json.dumps(doc)]).collect()}["s0"].span_attributes
    assert sa == {"big": "200000000000000000000000", "tiny": "0." + "0" * 323 + "5", "nan": "NaN"}


# --- plan size --------------------------------------------------------------


def test_parse_plan_stays_small(spark):
    """Each micro-batch plans the parse again, so its plan must not
    grow with the decoding rules."""
    df = spark.createDataFrame([(_payload(),)], RAW_SCHEMA)
    qe = parse_otlp_json(df)._jdf.queryExecution()
    for plan in (qe.analyzed().toString(), qe.optimizedPlan().toString()):
        assert len(plan) < 10_000
        assert len(plan.strip().splitlines()) <= 4


# --- worker imports -----------------------------------------------------------


def test_ingest_runs_outside_the_repo_root(tmp_path):
    """Python workers inherit neither the driver's ``sys.path`` nor, away
    from the repo root, its working directory; the parse entry points
    ship the package to them."""
    body = pb_wire.request(_request_dict())
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
from nabatshy_spark.session import get_spark
from nabatshy_spark.sources.otlp_pb import parse_otlp_protobuf
from nabatshy_spark.streaming.ingest import ingest_batch
spark = get_spark("ingest_cwd", cpus=2)
js = ingest_batch(spark, [{_payload()!r}]).collect()
pb = parse_otlp_protobuf(spark.createDataFrame([(bytearray({body!r}),)], "value binary")).collect()
print("rows", len(js), len(pb))
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.split()[-3:] == ["rows", "4", "2"]
