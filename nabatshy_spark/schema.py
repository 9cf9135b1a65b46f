"""Span data model (SURVEY §1.2) — Spark schema for the denormalized
span table (reference DDL: db/clickhouse.go:86-109, row struct
utils/utils.go:138-158).

Design decisions vs the ClickHouse layout:
- ``Nested(key,value)`` parallel arrays → ``MapType(String,String)``
  (idiomatic; `has(key,k)` ≙ map_contains_key). The parallel arrays are
  *also* materialized (``sa_keys``/``sa_values``/``ra_keys``/
  ``ra_values``) because the reference's negation predicate P7
  (api/service.go:753-771) is defined over the independent arrays, and
  the DuckDB oracle needs the same physical shape.
- ``events`` keeps ArrayType(Struct) — ordered, each with its own map.
- timestamps stay Int64 nanoseconds (source of truth); conversion to
  µs timestamps happens only at bucketing time (T3).
"""

from __future__ import annotations

from pyspark.sql import types as T

ATTR_MAP = T.MapType(T.StringType(), T.StringType())

EVENT_STRUCT = T.StructType(
    [
        T.StructField("time_unix_nano", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("attributes", ATTR_MAP),
    ]
)

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("trace_id", T.StringType()),          # base64 (collector/service.go:273-275)
        T.StructField("span_id", T.StringType()),
        T.StructField("parent_span_id", T.StringType()),    # '' ⇒ root (api/service.go:183)
        T.StructField("flags", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("start_time_unix_nano", T.LongType()),
        T.StructField("end_time_unix_nano", T.LongType()),
        T.StructField("duration_ns", T.LongType()),         # materialized (db/clickhouse.go:94)
        T.StructField("scope_name", T.StringType()),        # service name (api/service.go:253)
        T.StructField("resource_schema_url", T.StringType()),
        T.StructField("resource_attributes", ATTR_MAP),
        T.StructField("span_attributes", ATTR_MAP),
        T.StructField("ra_keys", T.ArrayType(T.StringType())),
        T.StructField("ra_values", T.ArrayType(T.StringType())),
        T.StructField("sa_keys", T.ArrayType(T.StringType())),
        T.StructField("sa_values", T.ArrayType(T.StringType())),
        T.StructField("events", T.ArrayType(EVENT_STRUCT)),
    ]
)
