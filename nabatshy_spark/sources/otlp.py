"""OTLP trace ingest (SURVEY §2.1 S1–S6, §3.1): one decoder for JSON
and protobuf requests.

The reference's write path (collector/controller.go:28-95 dispatch,
collector/service.go:100-182 triple nested loop,
collector/service.go:184-237 AnyValue stringification) runs here as
the same loop in Python, on the executors:

    raw request column → mapInArrow(decode each request to a dict,
        walk Resource → Scope → Span, normalize AnyValues) → wide span rows

JSON requests decode with ``json.loads``; protobuf requests decode with
the wire primitives of ``sources/otlp_pb.py`` to the same dict shape.
Everything after that — the legacy ``instrumentationLibrarySpans``
rewrite (S4), AnyValue normalization (S5) and denormalization (S6) —
is one Python pass per request, so the two content types cannot drift.

Why not column expressions: expressing this as ``from_json`` → three
``explode``s → higher-order AnyValue CASE trees built a plan that
printed as about 580 KB, because every reuse of a Python ``Column``
copies its subtree. Spark analyzed, optimized and planned that tree
again on every streaming micro-batch, which cost seconds per batch —
more than producing the rows did. The plan here is a ``mapInArrow``
over one column; its planning cost is milliseconds and does not grow
with the AnyValue rules.
"""

from __future__ import annotations

import json
import math
import re
from collections.abc import Callable, Iterator
from decimal import Decimal
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from nabatshy_spark.catalog import ensure_worker_imports
from nabatshy_spark.schema import SPAN_SCHEMA

# AnyValue nesting that is stringified: an attribute's array/kvlist
# values, and one more level inside a kvlist; deeper nesting yields no
# value (the reference recurses without bound, service.go:184-237)
_ANYVALUE_DEPTH = 2
# spans per output Arrow batch: a request may carry any number of spans
_BATCH_ROWS = 4096

PARSED_COLUMNS = (
    "trace_id span_id parent_span_id flags name start_time_unix_nano "
    "end_time_unix_nano duration_ns scope_name resource_schema_url "
    "resource_attributes span_attributes events ra_keys ra_values sa_keys sa_values"
).split()
# columns every decoded span sets ("" / 0 / []); parquet stores them
# as required
_NOT_NULL = {"parent_span_id", "flags", "resource_schema_url", "events"}
_PARSED = T.StructType(
    [T.StructField(c, SPAN_SCHEMA[c].dataType, c not in _NOT_NULL) for c in PARSED_COLUMNS]
)
# a dead-letter row has null span columns
_DEAD_LETTER = T.StructType(
    [T.StructField(c, SPAN_SCHEMA[c].dataType) for c in PARSED_COLUMNS]
    + [T.StructField("__raw", T.BinaryType()), T.StructField("__error", T.StringType())]
)

_JSON = json.JSONDecoder()
_JSON_SPACE = re.compile(r"[ \t\n\r]*")
_LONG = re.compile(r"[+-]?[0-9]+\Z")
_INT64 = (-(1 << 63), 1 << 63)
# a \uD800–\uDFFF escape: json.loads can then return a lone surrogate,
# which has no UTF-8 form
_SURROGATE_ESCAPE = re.compile(rb"\\u[dD][89a-fA-F]")
_NON_FINITE = {
    "NaN": math.nan,
    "Infinity": math.inf, "+Infinity": math.inf, "+INF": math.inf,
    "-Infinity": -math.inf, "-INF": -math.inf,
}
# JSON string escapes as Spark's ``to_json`` writes them
_JSON_ESCAPES = {c: f"\\u{c:04X}" for c in range(0x20)}
_JSON_ESCAPES.update(
    {0x22: '\\"', 0x5C: "\\\\", 0x08: "\\b", 0x09: "\\t", 0x0A: "\\n", 0x0C: "\\f", 0x0D: "\\r"}
)


# --- scalar conversions ---------------------------------------------------


def format_go_float(x: float) -> str:
    """A double as Go's ``strconv.FormatFloat(v, 'f', -1, 64)`` writes
    it (collector/service.go:195, 250): the shortest decimal that
    round-trips, never in exponent form, integral values without
    ``.0`` (1.0 → "1", 2e23 → "200000000000000000000000", -0.0 →
    "-0"). Python's ``repr`` picks the same shortest digits as Go."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "+Inf" if x > 0 else "-Inf"
    r = repr(x)
    if "e" in r:
        return format(Decimal(r), "f")
    return r[:-2] if r.endswith(".0") else r


def _text(x: Any) -> str | None:
    """A JSON value where OTLP has a string: strings as they are, any
    other value as its compact JSON text (an ``intValue`` or a time may
    be a JSON number)."""
    if x is None or type(x) is str:
        return x
    return json.dumps(x, separators=(",", ":"), ensure_ascii=False)


def _long(x: Any) -> int | None:
    """An int64 from a decimal string or JSON integer; None when it is
    neither or out of range."""
    if type(x) is str:
        x = x.strip()
        if not _LONG.match(x):
            return None
        x = int(x)
    elif type(x) is not int:
        return None
    return x if _INT64[0] <= x < _INT64[1] else None


def _double(x: Any) -> float | None:
    if type(x) is float:
        return x
    if type(x) is int:
        try:
            return float(x)
        except OverflowError:
            return math.copysign(math.inf, x)
    return _NON_FINITE.get(x) if type(x) is str else None


def _json_string(s: str) -> str:
    return '"' + s.translate(_JSON_ESCAPES) + '"'


# --- AnyValue normalization (S5) ------------------------------------------


def _scalar(v: dict) -> str | None:
    """The scalar variants of an AnyValue, in the order the reference
    checks them; None when it holds none."""
    x = v.get("stringValue")
    if x is not None:
        return _text(x)
    x = v.get("intValue")
    if x is not None:
        return _text(x)
    x = _double(v.get("doubleValue"))
    if x is not None:
        return format_go_float(x)
    x = v.get("boolValue")
    if type(x) is bool:
        return "true" if x else "false"
    return _text(v.get("bytesValue"))


def normalize_anyvalue(v: Any, depth: int) -> str | None:
    """OTLP AnyValue → string, with the reference's rules
    (collector/service.go:184-258):

    - string as-is; int → decimal string; double → Go ``'f'`` shortest
      form (1.0 → "1"); bool → true/false; bytes → base64 as carried;
    - array → each element's scalar string, empty ones dropped
      (:199-206); all-string arrays comma-joined (:210), other arrays a
      JSON list of the strings ``["1","x"]`` (:212-214); nothing left ⇒
      None, and the key is not set;
    - kvlist → JSON object {key: normalized}, keys sorted as Go
      ``json.Marshal`` sorts a map (:222-228), the later of two equal
      keys winning;
    - absent or unknown value ⇒ None.

    JSON inside array/kvlist values is escaped as Spark's ``to_json``
    escapes it; Go would also escape ``& < >``.
    """
    if type(v) is not dict:
        return None
    out = _scalar(v)
    if out is not None or depth <= 0:
        return out
    arr = v.get("arrayValue")
    vals = arr.get("values") if type(arr) is dict else None
    if type(vals) is list:
        elems = [e if type(e) is dict else None for e in vals]
        strs = [s for s in (_scalar(e) if e else "" for e in elems) if s]
        if not strs:
            return None
        if all(e is None or e.get("stringValue") is not None for e in elems):
            return ",".join(strs)
        return "[" + ",".join(map(_json_string, strs)) + "]"
    kv = v.get("kvlistValue")
    vals = kv.get("values") if type(kv) is dict else None
    if type(vals) is list:
        m = _attributes(vals, depth - 1)
        return "{" + ",".join(f"{_json_string(k)}:{_json_string(m[k])}" for k in sorted(m)) + "}"
    return None


def _attributes(kvs: Any, depth: int = _ANYVALUE_DEPTH) -> dict[str, str]:
    """[{key, value: AnyValue}] → {key: normalized} (S5). Keys whose
    value normalizes to None are not set; of two equal keys the later
    wins, as assignment into the reference's Go map does."""
    out: dict[str, str] = {}
    if type(kvs) is list:
        for kv in kvs:
            if type(kv) is dict:
                v = normalize_anyvalue(kv.get("value"), depth)
                if v is not None:
                    out[_text(kv.get("key")) or ""] = v
    return out


# --- denormalization (S4, S6) ---------------------------------------------


def _event(e: Any) -> dict[str, Any]:
    e = e if type(e) is dict else {}
    return {
        "time_unix_nano": _long(e.get("timeUnixNano")),
        "name": _text(e.get("name")),
        "attributes": _attributes(e.get("attributes")),
    }


def span_rows(req: dict) -> list[tuple]:
    """One ExportTraceServiceRequest dict → wide span rows in
    ``PARSED_COLUMNS`` order: the reference's Resource → Scope → Span
    loop (collector/service.go:100-182).

    Legacy requests (``instrumentationLibrarySpans``,
    collector/controller.go:97-223) take the scope from
    ``instrumentationLibrary`` and merge each span's attributes over
    the resource attributes (span keys win, :150-180)."""
    rows = []
    for rs in req["resourceSpans"]:
        if type(rs) is not dict:
            continue
        scope_spans = rs.get("scopeSpans")
        legacy = type(scope_spans) is not list
        if legacy:
            scope_spans, scope_key = rs.get("instrumentationLibrarySpans"), "instrumentationLibrary"
        else:
            scope_key = "scope"
        if type(scope_spans) is not list:
            continue
        resource = rs.get("resource")
        res_attrs = _attributes(resource.get("attributes") if type(resource) is dict else None)
        ra_keys = sorted(res_attrs)
        ra_values = [res_attrs[k] for k in ra_keys]
        schema_url = _text(rs.get("schemaUrl"))
        schema_url = "" if schema_url is None else schema_url
        for ss in scope_spans:
            if type(ss) is not dict or type(ss.get("spans")) is not list:
                continue
            scope = ss.get(scope_key)
            scope_name = _text(scope.get("name")) if type(scope) is dict else None
            for sp in ss["spans"]:
                sp = sp if type(sp) is dict else {}
                span_attrs = _attributes(sp.get("attributes"))
                sa_keys = sorted(span_attrs)
                if legacy:
                    merged = {**res_attrs, **span_attrs}
                    r_attrs, r_keys = merged, sorted(merged)
                    r_values = [merged[k] for k in r_keys]
                else:
                    r_attrs, r_keys, r_values = res_attrs, ra_keys, ra_values
                start = _long(sp.get("startTimeUnixNano"))
                end = _long(sp.get("endTimeUnixNano"))
                duration = None if start is None or end is None else _long(end - start)
                parent = _text(sp.get("parentSpanId"))
                flags = _long(sp.get("flags"))
                events = sp.get("events")
                rows.append((
                    _text(sp.get("traceId")),
                    _text(sp.get("spanId")),
                    "" if parent is None else parent,
                    0 if flags is None else (flags + (1 << 31)) % (1 << 32) - (1 << 31),
                    _text(sp.get("name")),
                    start,
                    end,
                    duration,  # materialized (db/clickhouse.go:94)
                    scope_name,
                    schema_url,
                    r_attrs,
                    span_attrs,
                    [_event(e) for e in events] if type(events) is list else [],
                    r_keys,
                    r_values,
                    sa_keys,
                    [span_attrs[k] for k in sa_keys],
                ))
    return rows


def json_request(raw: bytes) -> dict:
    """OTLP-JSON request bytes → request dict; raises on anything that
    is not a JSON object with a ``resourceSpans`` list. Like Spark's
    JSON reader, it reads the first JSON value and ignores what follows."""
    text = raw.decode("utf-8")
    doc = _JSON.raw_decode(text, _JSON_SPACE.match(text).end())[0]
    if type(doc) is not dict or type(doc.get("resourceSpans")) is not list:
        raise ValueError("not an OTLP trace request: no resourceSpans list")
    return _scrub(doc) if _SURROGATE_ESCAPE.search(raw) else doc


def _scrub(x: Any) -> Any:
    """Lone surrogates → "?", as the JVM encodes them to UTF-8."""
    if type(x) is str:
        return x.encode("utf-8", "replace").decode("utf-8")
    if type(x) is list:
        return [_scrub(e) for e in x]
    if type(x) is dict:
        return {_scrub(k): _scrub(v) for k, v in x.items()}
    return x


# --- Spark surface --------------------------------------------------------


def _decode_batches(
    batches: Iterator[pa.RecordBatch],
    to_request: Callable[[bytes], dict],
    schema: pa.Schema,
    dead_letter: bool,
) -> Iterator[pa.RecordBatch]:
    ok = (None, None) if dead_letter else ()
    bad = (None,) * len(PARSED_COLUMNS)
    rows: list[tuple] = []
    for batch in batches:
        for raw in batch.column(0).to_pylist():
            try:
                spans = span_rows(to_request(raw))
            except Exception as ex:  # undecodable request
                if dead_letter:
                    rows.append(bad + (raw, f"{type(ex).__name__}: {ex}"))
                continue
            rows.extend(r + ok for r in spans)
            while len(rows) >= _BATCH_ROWS:
                yield _record_batch(rows[:_BATCH_ROWS], schema)
                del rows[:_BATCH_ROWS]
    if rows:
        yield _record_batch(rows, schema)


def _record_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    cols = zip(*rows)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def decode_requests(
    df: DataFrame,
    col: str,
    to_request: Callable[[bytes], dict],
    dead_letter: bool = False,
) -> DataFrame:
    """Raw request payloads in ``col`` → wide span rows, one
    ``mapInArrow`` pass. ``to_request`` turns one payload's bytes into
    the request dict and raises if it cannot. Undecodable requests are
    dropped, or with ``dead_letter`` kept as one row whose span columns
    are null and whose ``__raw``/``__error`` hold the payload and the
    error."""
    ensure_worker_imports(df.sparkSession)
    out = _DEAD_LETTER if dead_letter else _PARSED
    schema = to_arrow_schema(out)

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _decode_batches(batches, to_request, schema, dead_letter)

    return df.select(F.col(col).cast("binary")).mapInArrow(decode, out)


def parse_otlp_json(df: DataFrame, json_col: str = "value") -> DataFrame:
    """Raw OTLP JSON documents → denormalized wide span rows
    (S3 decode + S4 legacy rewrite + S5 normalize + S6 denormalize).
    Documents that are not OTLP trace requests yield no rows."""
    return decode_requests(df, json_col, json_request)


def parse_otlp_json_with_dead_letter(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Like ``parse_otlp_json`` over the ``value`` column, but splits
    out undecodable documents.

    The reference panics the handler on decode errors
    (collector/controller.go:83) — no retry, no dead letter. Here the
    bad documents (not JSON, or no ``resourceSpans`` list) are returned
    as a second DataFrame with the raw payload, for replay or
    inspection, while the good path proceeds unchanged.
    """
    rows = decode_requests(df, "value", json_request, dead_letter=True)
    good = rows.filter("__error IS NULL").select(*PARSED_COLUMNS)
    bad = rows.filter("__error IS NOT NULL").selectExpr("CAST(__raw AS STRING) AS raw_payload")
    return good, bad
