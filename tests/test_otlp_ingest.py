"""OTLP ingest path tests (SURVEY §3.1, FIXTURES.md §3): decode →
AnyValue normalization → explode-chain denormalization → partitioned
sink, batch and streaming."""

from __future__ import annotations

import json

import pytest

from nabatshy_spark.sources.sink import append_spans, read_spans
from nabatshy_spark.streaming.ingest import ingest_batch, start_file_ingest

NS = 1_700_000_000_000_000_000


def _span(i: int, parent: str = "", trace: str = "t1", svc_attr: bool = False):
    attrs = [
        {"key": "str_attr", "value": {"stringValue": "hello"}},
        {"key": "int_attr", "value": {"intValue": "42"}},
        {"key": "double_attr", "value": {"doubleValue": 3.5}},
        {"key": "bool_attr", "value": {"boolValue": True}},
        {"key": "bytes_attr", "value": {"bytesValue": "aGVsbG8="}},
        {
            "key": "arr_attr",
            "value": {
                "arrayValue": {
                    "values": [{"stringValue": "a"}, {"stringValue": "b"}]
                }
            },
        },
        {
            "key": "mixed_arr",
            "value": {
                "arrayValue": {
                    "values": [{"intValue": "1"}, {"stringValue": "x"}]
                }
            },
        },
        {
            "key": "kv_attr",
            "value": {
                "kvlistValue": {
                    "values": [{"key": "k", "value": {"stringValue": "v"}}]
                }
            },
        },
    ]
    return {
        "traceId": trace,
        "spanId": f"s{i}",
        "parentSpanId": parent,
        "name": f"op{i % 3}",
        "startTimeUnixNano": str(NS + i * 1_000_000),
        "endTimeUnixNano": str(NS + i * 1_000_000 + 5_000_000),
        "attributes": attrs,
        "events": [
            {
                "timeUnixNano": str(NS + i * 1_000_000 + 1),
                "name": "exception" if i % 4 == 0 else "log",
                "attributes": [
                    {"key": "exception.type", "value": {"stringValue": "E"}}
                ],
            }
        ],
    }


def _payload():
    return json.dumps(
        {
            "resourceSpans": [
                {
                    "resource": {
                        "attributes": [
                            {"key": "service.name", "value": {"stringValue": "svc-a"}},
                            {"key": "env", "value": {"stringValue": "prod"}},
                        ]
                    },
                    "schemaUrl": "https://opentelemetry.io/schemas/1.0",
                    "scopeSpans": [
                        {
                            "scope": {"name": "svc-a", "version": "1"},
                            "spans": [_span(0), _span(1, parent="s0")],
                        },
                        {
                            "scope": {"name": "svc-b", "version": "1"},
                            "spans": [_span(2, parent="s0")],
                        },
                    ],
                },
                {
                    "resource": {
                        "attributes": [
                            {"key": "service.name", "value": {"stringValue": "svc-c"}}
                        ]
                    },
                    "scopeSpans": [
                        {
                            "scope": {"name": "svc-c", "version": "2"},
                            "spans": [_span(3, trace="t2")],
                        }
                    ],
                },
            ]
        }
    )


def _legacy_payload():
    return json.dumps(
        {
            "resourceSpans": [
                {
                    "resource": {"attributes": []},
                    "instrumentationLibrarySpans": [
                        {
                            "instrumentationLibrary": {"name": "legacy-lib", "version": "0"},
                            "spans": [_span(9, trace="t9")],
                        }
                    ],
                }
            ]
        }
    )


def test_batch_ingest_denormalizes(spark):
    rows = {r.span_id: r for r in ingest_batch(spark, [_payload()]).collect()}
    assert set(rows) == {"s0", "s1", "s2", "s3"}
    r = rows["s0"]
    assert r.trace_id == "t1" and r.parent_span_id == ""
    assert r.duration_ns == 5_000_000
    assert r.scope_name == "svc-a"
    assert rows["s2"].scope_name == "svc-b"          # scope carried through explode
    assert rows["s3"].resource_attributes["service.name"] == "svc-c"
    # AnyValue normalization rules (collector/service.go:184-237)
    sa = r.span_attributes
    assert sa["str_attr"] == "hello"
    assert sa["int_attr"] == "42"
    assert sa["double_attr"] == "3.5"
    assert sa["bool_attr"] == "true"
    assert sa["bytes_attr"] == "aGVsbG8="
    assert sa["arr_attr"] == "a,b"                   # simple string array → comma join
    # mixed array → JSON of the *stringified* elements (service.go:199-214)
    assert json.loads(sa["mixed_arr"]) == ["1", "x"]
    # kvlist → flat {key: stringified} object (service.go:222-228)
    assert json.loads(sa["kv_attr"]) == {"k": "v"}
    # events with their own attribute maps
    assert rows["s0"].events[0].name == "exception"
    assert rows["s0"].events[0].attributes["exception.type"] == "E"
    # parallel arrays mirror the maps (sorted)
    assert r.sa_keys == sorted(r.sa_keys)
    assert dict(zip(r.sa_keys, r.sa_values)) == dict(sa)


def test_legacy_format_rewrite(spark):
    rows = ingest_batch(spark, [_legacy_payload()]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.scope_name == "legacy-lib"
    # legacy: span attrs merged into resource attrs (collector/controller.go:97-223)
    assert r.resource_attributes["str_attr"] == "hello"


def test_streaming_ingest_roundtrip(spark, tmp_path):
    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "batch1.jsonl").write_text(_payload() + "\n")
    (tmp_path / "in" / "batch2.jsonl").write_text(_legacy_payload() + "\n")
    q = start_file_ingest(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    spans = read_spans(spark, out_dir)
    assert spans.count() == 5
    # replay the same files → at-least-once duplicates (reference parity)
    q2 = start_file_ingest(spark, in_dir, out_dir, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert read_spans(spark, out_dir).count() == 10


def test_sink_partition_layout(spark, tmp_path):
    out = str(tmp_path / "spans")
    append_spans(ingest_batch(spark, [_payload()]), out)
    import os

    parts = [d for d in os.listdir(out) if d.startswith("ingest_hour=")]
    assert parts, "expected hour-partitioned directory layout"


def test_dead_letter_split(spark):
    from nabatshy_spark.sources.otlp import parse_otlp_json_with_dead_letter
    from nabatshy_spark.streaming.ingest import RAW_SCHEMA

    docs = [
        _payload(),                      # good: 4 spans
        "{this is not json",             # malformed
        '{"unrelated": true}',           # valid JSON, not OTLP
    ]
    df = spark.createDataFrame([(d,) for d in docs], RAW_SCHEMA)
    good, bad = parse_otlp_json_with_dead_letter(df)
    assert good.count() == 4
    bad_rows = [r.raw_payload for r in bad.collect()]
    assert len(bad_rows) == 2
    assert "{this is not json" in bad_rows


def test_anyvalue_reference_semantics(spark):
    """Exact extractAttributes parity (collector/service.go:184-258):
    stringified array elements, dropped empty extractions, unset keys,
    flat sorted kvlist objects, Go 'f' double format."""
    attrs = [
        {"key": "d_int", "value": {"doubleValue": 2.0}},
        {"key": "d_big", "value": {"doubleValue": 1e10}},
        {"key": "d_tiny", "value": {"doubleValue": 1.23e-7}},
        # int array → JSON of stringified elements, not raw structs
        {"key": "int_arr", "value": {"arrayValue": {"values": [
            {"intValue": "1"}, {"intValue": "2"}]}}},
        # empty-string elements are dropped from the joined output
        {"key": "gappy_arr", "value": {"arrayValue": {"values": [
            {"stringValue": "a"}, {"stringValue": ""}, {"stringValue": "b"}]}}},
        # nothing extractable → the key is NOT set at all
        {"key": "empty_arr", "value": {"arrayValue": {"values": [
            {"stringValue": ""}]}}},
        {"key": "no_value", "value": {}},
        # kvlist flattens to {key: stringified}, keys sorted like Go json.Marshal
        {"key": "kv", "value": {"kvlistValue": {"values": [
            {"key": "z", "value": {"intValue": "9"}},
            {"key": "a", "value": {"doubleValue": 0.5}}]}}},
        # empty string value IS kept (only nil values are skipped)
        {"key": "empty_str", "value": {"stringValue": ""}},
    ]
    payload = json.dumps({"resourceSpans": [{
        "resource": {"attributes": []},
        "scopeSpans": [{"scope": {"name": "svc"}, "spans": [{
            "traceId": "t", "spanId": "s", "parentSpanId": "",
            "name": "op", "startTimeUnixNano": "1", "endTimeUnixNano": "2",
            "attributes": attrs, "events": [],
        }]}],
    }]})
    sa = ingest_batch(spark, [payload]).collect()[0].span_attributes
    assert sa["d_int"] == "2"
    assert sa["d_big"] == "10000000000"
    assert sa["d_tiny"] == "0.000000123"
    assert sa["int_arr"] == '["1","2"]'
    assert sa["gappy_arr"] == "a,b"
    assert "empty_arr" not in sa
    assert "no_value" not in sa
    assert json.loads(sa["kv"]) == {"a": "0.5", "z": "9"}
    assert list(json.loads(sa["kv"])) == ["a", "z"]   # sorted key order
    assert sa["empty_str"] == ""


def test_duplicate_attribute_key_last_wins(spark):
    """A repeated attribute key is assigned twice into the reference's
    Go map, so the later value wins; it must not fail the batch."""
    doc = json.loads(_payload())
    spans = doc["resourceSpans"][0]["scopeSpans"][0]["spans"]
    spans[0]["attributes"] += [
        {"key": "str_attr", "value": {"stringValue": "again"}},
        {"key": "kv_attr", "value": {"kvlistValue": {"values": [
            {"key": "k", "value": {"stringValue": "1"}},
            {"key": "k", "value": {"stringValue": "2"}}]}}},
    ]
    doc["resourceSpans"][0]["resource"]["attributes"].append(
        {"key": "env", "value": {"stringValue": "staging"}}
    )
    rows = {r.span_id: r for r in ingest_batch(spark, [json.dumps(doc)]).collect()}
    assert set(rows) == {"s0", "s1", "s2", "s3"}
    r = rows["s0"]
    assert r.span_attributes["str_attr"] == "again"
    assert r.span_attributes["kv_attr"] == '{"k":"2"}'
    assert r.resource_attributes["env"] == "staging"
    assert r.sa_keys == sorted(set(r.sa_keys))
    assert dict(zip(r.sa_keys, r.sa_values)) == dict(r.span_attributes)


def test_legacy_span_attribute_overrides_resource_key(spark):
    """Legacy rewrite (collector/controller.go:150-180): span attributes
    are merged after resource attributes, so a shared key takes the
    span's value."""
    doc = json.loads(_legacy_payload())
    doc["resourceSpans"][0]["resource"]["attributes"] = [
        {"key": "str_attr", "value": {"stringValue": "from-resource"}},
        {"key": "env", "value": {"stringValue": "prod"}},
    ]
    [r] = ingest_batch(spark, [json.dumps(doc)]).collect()
    assert r.resource_attributes["str_attr"] == "hello"
    assert r.resource_attributes["env"] == "prod"
    assert r.ra_keys == sorted(r.resource_attributes)
    assert dict(zip(r.ra_keys, r.ra_values)) == dict(r.resource_attributes)
