"""Search composition: mini attribute-DSL parser + dynamic filter/sort/
pagination (SURVEY §2.2 P8–P10, §2.6 O3–O4; reference api/service.go:
642-696 parser, 698-891 SearchTraces).

The parser is driver-side string work. The span routes render its
conditions as SQL fragments whose keys and values are named parameter
markers (operators/spans.py), never pasted text; the events adapter
below turns them into Column predicates. Either way the plan is an
ordinary filter/orderBy/offset/limit that Catalyst pushes down.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class AttributeQuery:
    """One ``key=value`` / ``key!=value`` condition
    (reference api/service.go:643-647)."""

    key: str
    value: str
    negate: bool = False


def parse_attribute_query(query: str) -> list[AttributeQuery] | None:
    """Parse ``"k1=v1,k2!=v2"`` into conditions.

    Reference semantics (api/service.go:651-696): split on ``,``; each
    pair must contain ``=`` (checked ``!=`` first, longer match); keys
    and values are trimmed but MAY be empty — ``k=`` filters on the
    empty string, exactly as the reference's SplitN produces. If *any*
    pair is invalid the whole query falls back to broad search — return
    None (the all-pairs-valid-or-fallback rule, :690-695).
    """
    if not query or "=" not in query:
        return None
    out: list[AttributeQuery] = []
    for raw in query.split(","):
        part = raw.strip()
        if "!=" in part:
            key, _, value = part.partition("!=")
            neg = True
        elif "=" in part:
            key, _, value = part.partition("=")
            neg = False
        else:
            return None
        out.append(AttributeQuery(key.strip(), value.strip(), neg))
    return out


# --- events-table adapter (testdata analog of the span search) ---------

_SPECIAL_KEYS = {
    # special keys `name`/`scope` in the reference (api/service.go:724-736)
    # map to scalar columns; here the events analogs.
    "type": "event_type",
    "user": "user_id",
    "id": "event_id",
}


def events_predicate(conds: list[AttributeQuery] | None, raw_query: str) -> Column:
    """Build the WHERE clause for the events table.

    Valid DSL → AND of typed conditions; special keys hit scalar
    columns, other keys hit the ``props`` JSON document (the analog of
    the span-attributes map). Invalid DSL → broad OR search (P8,
    api/service.go:778-789): the raw query matched against type and
    props values.
    """
    if conds is None:
        return (F.col("event_type") == F.lit(raw_query)) | F.get_json_object(
            F.col("props"), "$.k"
        ).eqNullSafe(F.lit(raw_query))
    pred = F.lit(True)
    for c in conds:
        if c.key in _SPECIAL_KEYS:
            col = F.col(_SPECIAL_KEYS[c.key]).cast("string")
        else:
            col = F.get_json_object(F.col("props"), f"$.{c.key}")
        this = col.eqNullSafe(F.lit(c.value))
        pred = pred & (~this if c.negate else this)
    return pred


# rows per search page; pages sort by ts descending, event_id ascending
PAGE_SIZE = 20


def search_events(df: DataFrame, query: str, page: int) -> DataFrame:
    """Full search lifecycle (reference §3.2): parse → filter → sort
    (O3) → offset/limit pagination (O4, api/service.go:806-846).

    ``event_id`` is appended as a total-order tiebreaker so pagination
    is deterministic (the reference has the same caveat and relies on
    its sort; we make it explicit).
    """
    conds = parse_attribute_query(query)
    filtered = df.filter(events_predicate(conds, query))
    ordered = filtered.orderBy(F.col("ts").desc(), F.col("event_id").asc())
    return ordered.offset((page - 1) * PAGE_SIZE).limit(PAGE_SIZE)


def search_events_keyset(df: DataFrame, query: str, after: tuple) -> DataFrame:
    """``search_events`` with keyset (seek) pagination — the scale-safe
    twin of offset/limit (O4). ``after`` is the previous page's last
    ``(ts, event_id)`` pair, exactly what a serving API hands back as a
    page token. The page is then a FILTER + top-k:
    TakeOrderedAndProject over the rows past the token, so page 1000
    costs the same as page 1 — offset pagination skip-scans
    (page-1)×size rows first, linear in page depth. Requires what
    search already guarantees: a total order via the unique
    tiebreaker."""
    conds = parse_attribute_query(query)
    ts, eid = F.col("ts"), F.col("event_id")
    v, tb = after
    past_token = (ts < F.lit(v)) | ((ts == F.lit(v)) & (eid > F.lit(tb)))
    return (
        df.filter(events_predicate(conds, query) & past_token)
        .orderBy(ts.desc(), eid.asc())
        .limit(PAGE_SIZE)
    )
