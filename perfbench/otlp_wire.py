"""Protobuf wire encoder for OTLP trace export requests.

Covers the message subset the request stream uses (string attributes,
events, span ids as raw bytes) with the public opentelemetry-proto
field numbers. The engine only decodes protobuf; this is the client
side, kept here so request bodies depend on nothing outside the
benchmark.
"""

from __future__ import annotations

import base64
import struct


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | 0x80 if n else b)
        if not n:
            return bytes(out)


def _ld(fno: int, payload: bytes) -> bytes:
    return _varint(fno << 3 | 2) + _varint(len(payload)) + payload


def _str(fno: int, text: str) -> bytes:
    return _ld(fno, text.encode())


def _fixed64(fno: int, n: int) -> bytes:
    return _varint(fno << 3 | 1) + struct.pack("<Q", n)


def _fixed32(fno: int, n: int) -> bytes:
    return _varint(fno << 3 | 5) + struct.pack("<I", n)


def _keyvalue(kv: dict) -> bytes:
    # KeyValue{key=1, value=2: AnyValue{string_value=1}}
    return _str(1, kv["key"]) + _ld(2, _str(1, kv["value"]["stringValue"]))


def _event(e: dict) -> bytes:
    out = _fixed64(1, int(e["timeUnixNano"])) + _str(2, e["name"])
    return out + b"".join(_ld(3, _keyvalue(kv)) for kv in e["attributes"])


def _span(sp: dict) -> bytes:
    out = _ld(1, base64.b64decode(sp["traceId"])) + _ld(2, base64.b64decode(sp["spanId"]))
    if "parentSpanId" in sp:
        out += _ld(4, base64.b64decode(sp["parentSpanId"]))
    out += _str(5, sp["name"])
    out += _fixed64(7, int(sp["startTimeUnixNano"]))
    out += _fixed64(8, int(sp["endTimeUnixNano"]))
    out += b"".join(_ld(9, _keyvalue(kv)) for kv in sp["attributes"])
    out += b"".join(_ld(11, _event(e)) for e in sp["events"])
    return out + _fixed32(16, int(sp["flags"]))


def _resource_spans(rs: dict) -> bytes:
    res = b"".join(_ld(1, _keyvalue(kv)) for kv in rs["resource"]["attributes"])
    out = _ld(1, res)
    for ss in rs["scopeSpans"]:
        body = _ld(1, _str(1, ss["scope"]["name"]))
        body += b"".join(_ld(2, _span(sp)) for sp in ss["spans"])
        out += _ld(2, body)
    return out + _str(3, rs["schemaUrl"])


def request(doc: dict) -> bytes:
    """OTLP-JSON-shaped request dict → ExportTraceServiceRequest bytes."""
    return b"".join(_ld(1, _resource_spans(rs)) for rs in doc["resourceSpans"])
