"""Seeded inputs for the trace-engine benchmark.

Two inputs, both a pure function of the seed:

- the base span table, written by ``tools.gen_spans_fixture.write_scaled``
  (the same generator ``bench.py`` uses for its scaled span table);
- the OTLP request stream: further ``build_rows`` traces, re-keyed with
  binary ids (base64 in JSON, raw bytes in protobuf, so both paths land
  the same id strings; no id's base64 holds a '/'), packed into export
  requests of
  ``TRACES_PER_REQUEST`` traces (about 90 spans) that alternate JSON
  and protobuf.

Run ``python3 perfbench/gen.py --seed 3 --out DIR`` to write both to disk.
"""

from __future__ import annotations

import argparse
import base64
import hashlib
import json
import os
import struct
import sys
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import otlp_wire  # noqa: E402
from tools.gen_spans_fixture import build_rows, write_scaled  # noqa: E402

TRACES_PER_REQUEST = 20  # build_rows averages 4.5 spans per trace
JSON_TYPE = "application/json"
PB_TYPE = "application/x-protobuf"
SCHEMA_URL = "https://opentelemetry.io/schemas/1.21.0"
# request i draws from build_rows seed (seed * shift + i), far from the
# base table's chunk seeds (seed + chunk), so the two are independent
STREAM_SEED_SHIFT = 1_000_003


@dataclass(frozen=True)
class Request:
    """One OTLP export request: its wire body plus what it must land."""

    content_type: str
    body: bytes
    spans: tuple[tuple[str, str, int], ...]  # (trace_id, span_id, duration_ns)
    trace_ids: tuple[str, ...]


def write_span_table(path: str, n_traces: int, seed: int) -> str:
    """The base span table at ``path`` (parquet chunks, seed-fixed)."""
    return write_scaled(path, n_traces, seed=seed, chunks=4)


def _id(kind: bytes, seed: int, n: int, width: int) -> str:
    """A binary id in base64. Ids whose base64 holds a '/' are redrawn:
    the API takes trace and span ids as path segments."""
    for salt in range(1 << 16):
        digest = hashlib.blake2b(
            kind + struct.pack(">QQH", seed, n, salt), digest_size=width
        ).digest()
        b64 = base64.b64encode(digest).decode()
        if "/" not in b64:
            return b64
    raise AssertionError("no '/'-free id in 65536 draws")


def _attrs(d: dict[str, str]) -> list[dict]:
    return [{"key": k, "value": {"stringValue": v}} for k, v in d.items()]


def _otlp_span(r: dict, ids: dict[str, str], tid: str) -> dict:
    sp = {
        "traceId": tid,
        "spanId": ids[r["span_id"]],
        "name": r["name"],
        "startTimeUnixNano": str(r["start_time_unix_nano"]),
        "endTimeUnixNano": str(r["end_time_unix_nano"]),
        "attributes": _attrs(r["span_attributes"]),
        "events": [
            {
                "timeUnixNano": str(e["time_unix_nano"]),
                "name": e["name"],
                "attributes": _attrs(e["attributes"]),
            }
            for e in r["events"]
        ],
        "flags": r["flags"],
    }
    if r["parent_span_id"]:
        sp["parentSpanId"] = ids[r["parent_span_id"]]
    return sp


def _request_doc(rows: list[dict], seed: int) -> tuple[dict, list[tuple[str, str, int]]]:
    """Rows of whole traces → one ExportTraceServiceRequest (OTLP JSON
    shape), one ResourceSpans per distinct resource."""
    ids: dict[str, str] = {}
    tids: dict[str, str] = {}
    for r in rows:
        ids[r["span_id"]] = _id(b"span", seed, int(r["span_id"][2:]), 8)
        tids.setdefault(r["trace_id"], _id(b"trace", seed, int(r["trace_id"][2:]), 16))
    by_resource: dict[tuple, list[dict]] = {}
    keys = []
    for r in rows:
        res = tuple(sorted(r["resource_attributes"].items()))
        by_resource.setdefault(res, []).append(r)
        keys.append((tids[r["trace_id"]], ids[r["span_id"]], r["duration_ns"]))
    doc = {
        "resourceSpans": [
            {
                "resource": {"attributes": _attrs(dict(res))},
                "scopeSpans": [
                    {
                        "scope": {"name": rs[0]["scope_name"]},
                        "spans": [_otlp_span(r, ids, tids[r["trace_id"]]) for r in rs],
                    }
                ],
                "schemaUrl": SCHEMA_URL,
            }
            for res, rs in by_resource.items()
        ]
    }
    return doc, keys


def request_stream(n_requests: int, seed: int) -> list[Request]:
    """``n_requests`` export requests, even ones JSON, odd ones protobuf.

    Every request carries whole traces, so a trace is visible once its
    request commits. ``build_rows`` names each span's scope after its
    service, so one scope per resource keeps every span's scope.
    """
    out = []
    for i in range(n_requests):
        rows = build_rows(
            TRACES_PER_REQUEST,
            seed=seed * STREAM_SEED_SHIFT + i,
            trace_offset=i * TRACES_PER_REQUEST,
        )
        doc, keys = _request_doc(rows, seed)
        if i % 2 == 0:
            ctype = JSON_TYPE
            body = json.dumps(doc, separators=(",", ":")).encode()
        else:
            ctype = PB_TYPE
            body = otlp_wire.request(doc)
        out.append(
            Request(
                content_type=ctype,
                body=body,
                spans=tuple(keys),
                trace_ids=tuple(dict.fromkeys(k[0] for k in keys)),
            )
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--traces", type=int, default=2000)
    ap.add_argument("--requests", type=int, default=20)
    a = ap.parse_args()
    write_span_table(os.path.join(a.out, "spans"), a.traces, a.seed)
    req_dir = os.path.join(a.out, "requests")
    os.makedirs(req_dir, exist_ok=True)
    for i, r in enumerate(request_stream(a.requests, a.seed)):
        ext = "json" if r.content_type == JSON_TYPE else "pb"
        with open(os.path.join(req_dir, f"{i:05d}.{ext}"), "wb") as fh:
            fh.write(r.body)
    print(f"wrote {a.traces} traces and {a.requests} requests to {a.out}")


if __name__ == "__main__":
    main()
