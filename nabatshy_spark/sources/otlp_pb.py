"""OTLP protobuf wire-format decode (SURVEY §2.1 S2).

The reference accepts ``application/x-protobuf`` ExportTraceServiceRequest
bodies (collector/controller.go:46-53, ``proto.Unmarshal``). Neither the
protobuf runtime nor the spark-protobuf connector jar is available in
this environment, so this module decodes the public protobuf wire format
directly (varint / fixed64 / length-delimited / fixed32 — the encoding
documented at protobuf.dev/programming-guides/encoding) against the
public opentelemetry-proto trace message layout.

Each request decodes straight to the dict that ``json.loads`` gives
for the same request in OTLP-JSON, and ``sources/otlp.py``'s decoder
takes it from there in the same Arrow-batched pass: legacy rewrite,
AnyValue normalization (S5) and denormalization (S6) have one
implementation, so the protobuf path cannot drift from the JSON path.
Trace/span/parent ids are base64-encoded exactly like the reference's
``encodeBytes`` (collector/service.go:160-162, 273-275).

Field numbers below are the public opentelemetry-proto definitions
(trace/v1/trace.proto, common/v1/common.proto,
collector/trace/v1/trace_service.proto).
"""

from __future__ import annotations

import base64
import json
import struct
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame

from nabatshy_spark.sources.otlp import PARSED_COLUMNS, decode_requests

# --- wire-format primitives -------------------------------------------


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    res = 0
    shift = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[i]
        i += 1
        res |= (b & 0x7F) << shift
        if not b & 0x80:
            return res, i
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _fields(buf: bytes) -> Iterator[tuple[int, int, Any]]:
    """Yield (field_number, wire_type, value) triples. LEN fields yield
    raw bytes; VARINT yields int; I64/I32 yield raw 8/4 bytes."""
    i, n = 0, len(buf)
    while i < n:
        tag, i = _varint(buf, i)
        fno, wt = tag >> 3, tag & 7
        if fno == 0:
            raise ValueError("field number 0")
        if wt == 0:
            v, i = _varint(buf, i)
        elif wt == 1:
            v, i = buf[i : i + 8], i + 8
            if len(v) != 8:
                raise ValueError("truncated fixed64")
        elif wt == 2:
            ln, i = _varint(buf, i)
            v, i = buf[i : i + ln], i + ln
            if len(v) != ln:
                raise ValueError("truncated length-delimited field")
        elif wt == 5:
            v, i = buf[i : i + 4], i + 4
            if len(v) != 4:
                raise ValueError("truncated fixed32")
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield fno, wt, v


def _sint64(v: int) -> int:
    """varint → two's-complement int64 (negative int64s are encoded as
    10-byte varints of the 2^64 complement)."""
    return v - (1 << 64) if v >= (1 << 63) else v


def _u64(v: bytes) -> int:
    return struct.unpack("<Q", v)[0]


def _b64(v: bytes) -> str:
    return base64.b64encode(v).decode("ascii")


def _repeated(buf: bytes, fno: int) -> list[bytes]:
    return [v for f, _, v in _fields(buf) if f == fno]


# --- opentelemetry-proto message decoders → OTLP-JSON dicts ----------


def _anyvalue(buf: bytes) -> dict[str, Any]:
    """common.v1.AnyValue — oneof value: 1 string, 2 bool, 3 int,
    4 double, 5 ArrayValue, 6 KvlistValue, 7 bytes (last field wins,
    protobuf oneof semantics)."""
    out: dict[str, Any] = {}
    for fno, _, v in _fields(buf):
        if fno == 1:
            out = {"stringValue": v.decode("utf-8")}
        elif fno == 2:
            out = {"boolValue": bool(v)}
        elif fno == 3:
            out = {"intValue": str(_sint64(v))}
        elif fno == 4:
            out = {"doubleValue": struct.unpack("<d", v)[0]}
        elif fno == 5:  # ArrayValue{repeated AnyValue values = 1}
            out = {"arrayValue": {"values": [_anyvalue(x) for x in _repeated(v, 1)]}}
        elif fno == 6:  # KeyValueList{repeated KeyValue values = 1}
            out = {"kvlistValue": {"values": [_keyvalue(x) for x in _repeated(v, 1)]}}
        elif fno == 7:
            out = {"bytesValue": _b64(v)}
    return out


def _keyvalue(buf: bytes) -> dict[str, Any]:
    """common.v1.KeyValue — 1 key, 2 AnyValue value."""
    out: dict[str, Any] = {"key": ""}
    for fno, _, v in _fields(buf):
        if fno == 1:
            out["key"] = v.decode("utf-8")
        elif fno == 2:
            out["value"] = _anyvalue(v)
    return out


def _event(buf: bytes) -> dict[str, Any]:
    """trace.v1.Span.Event — 1 time fixed64, 2 name, 3 attributes."""
    out: dict[str, Any] = {"timeUnixNano": "0", "name": "", "attributes": []}
    for fno, _, v in _fields(buf):
        if fno == 1:
            out["timeUnixNano"] = str(_u64(v))
        elif fno == 2:
            out["name"] = v.decode("utf-8")
        elif fno == 3:
            out["attributes"].append(_keyvalue(v))
    return out


def _span(buf: bytes) -> dict[str, Any]:
    """trace.v1.Span — 1 trace_id, 2 span_id, 4 parent_span_id,
    5 name, 7/8 start/end fixed64, 9 attributes, 11 events,
    16 flags fixed32 (kind/status/links are skipped — the reference
    stores none of them, utils/utils.go:138-158)."""
    out: dict[str, Any] = {
        "traceId": "",
        "spanId": "",
        "parentSpanId": "",
        "name": "",
        "startTimeUnixNano": "0",
        "endTimeUnixNano": "0",
        "attributes": [],
        "events": [],
    }
    for fno, _, v in _fields(buf):
        if fno == 1:
            out["traceId"] = _b64(v)
        elif fno == 2:
            out["spanId"] = _b64(v)
        elif fno == 4:
            out["parentSpanId"] = _b64(v)
        elif fno == 5:
            out["name"] = v.decode("utf-8")
        elif fno == 7:
            out["startTimeUnixNano"] = str(_u64(v))
        elif fno == 8:
            out["endTimeUnixNano"] = str(_u64(v))
        elif fno == 9:
            out["attributes"].append(_keyvalue(v))
        elif fno == 11:
            out["events"].append(_event(v))
        elif fno == 16:
            out["flags"] = struct.unpack("<I", v)[0]
    return out


def _scope_spans(buf: bytes) -> dict[str, Any]:
    """trace.v1.ScopeSpans — 1 InstrumentationScope{1 name, 2 version},
    2 repeated Span."""
    out: dict[str, Any] = {"scope": {"name": "", "version": ""}, "spans": []}
    for fno, _, v in _fields(buf):
        if fno == 1:
            for sfno, _, sv in _fields(v):
                if sfno == 1:
                    out["scope"]["name"] = sv.decode("utf-8")
                elif sfno == 2:
                    out["scope"]["version"] = sv.decode("utf-8")
        elif fno == 2:
            out["spans"].append(_span(v))
    return out


def _resource_spans(buf: bytes) -> dict[str, Any]:
    """trace.v1.ResourceSpans — 1 Resource{1 repeated KeyValue},
    2 repeated ScopeSpans, 3 schema_url."""
    out: dict[str, Any] = {
        "resource": {"attributes": []},
        "scopeSpans": [],
    }
    for fno, _, v in _fields(buf):
        if fno == 1:
            out["resource"]["attributes"] = [_keyvalue(x) for x in _repeated(v, 1)]
        elif fno == 2:
            out["scopeSpans"].append(_scope_spans(v))
        elif fno == 3:
            out["schemaUrl"] = v.decode("utf-8")
    return out


def request_to_dict(payload: bytes) -> dict[str, Any]:
    """ExportTraceServiceRequest wire bytes → the OTLP-JSON request dict
    (collector.trace.v1: repeated ResourceSpans resource_spans = 1)."""
    return {"resourceSpans": [_resource_spans(v) for v in _repeated(bytes(payload), 1)]}


def request_to_json(payload: bytes) -> str:
    """ExportTraceServiceRequest wire bytes → OTLP-JSON document."""
    return json.dumps(request_to_dict(payload))


# --- Spark surface ----------------------------------------------------


def parse_otlp_protobuf(df: DataFrame, bin_col: str = "value") -> DataFrame:
    """Binary protobuf request payloads → denormalized wide span rows.

    Decode runs in the Arrow-batched decoder of ``sources/otlp.py``
    (one Python call per batch of payloads, not per span). Malformed
    payloads are dropped here; use
    :func:`parse_otlp_protobuf_with_dead_letter` to capture them. The
    reference 400s the whole request instead
    (collector/controller.go:48-52) — at 100 TB a poison payload must
    not kill the job, so the dead-letter split is the scale-safe shape.
    """
    return decode_requests(df, bin_col, request_to_dict)


def parse_otlp_protobuf_with_dead_letter(
    df: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Like :func:`parse_otlp_protobuf` but also returns the undecodable
    payloads as ``(raw_payload binary, error string)`` for replay."""
    rows = decode_requests(df, "value", request_to_dict, dead_letter=True)
    good = rows.filter("__error IS NULL").select(*PARSED_COLUMNS)
    bad = rows.filter("__error IS NOT NULL").selectExpr(
        "__raw AS raw_payload", "__error AS error"
    )
    return good, bad
