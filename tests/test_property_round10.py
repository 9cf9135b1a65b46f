"""Property test for the output-bounded ER top-k operator against an
INDEPENDENT pure-Python reference implementing the same CONTRACT
(df-capped token postings ∪ record×group-representative candidates,
score, per-record top-k by (score desc, id asc)) with plain dicts and
loops — different execution, same answer, so agreement is evidence the
distributed candidate generation and window ranking are right, not
just self-consistent. Small vocabularies force identical-name groups
larger than the rep cap, so the CAPPED branch is exercised, and tiny
max_df values force the token-pass cap to bind."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

VOCAB = ["red", "blue", "plate", "bolt", "gear", "tiny"]

record = st.tuples(
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=3),  # name tokens
    st.sampled_from(["BrandA", "BrandB"]),
    st.integers(min_value=1, max_value=15),  # size
)
records = st.lists(record, min_size=2, max_size=25)
caps = st.tuples(
    st.integers(min_value=2, max_value=6),  # max_df — small, binds
    st.integers(min_value=2, max_value=4),  # rep_cap — small, binds
)


def _ref_topk(rows, threshold, k, max_df, rep_cap):
    """Pure-Python reference of entity.part_topk_matches' contract."""
    base = {}
    for rid, (toks, brand, size) in enumerate(rows):
        seen = list(dict.fromkeys(toks))  # distinct, order-preserving
        base[rid] = (set(seen), brand, size, tuple(sorted(set(seen))))
    # token pass: df per (token, brand) over per-record DISTINCT tokens
    df_count = {}
    for rid, (ts, brand, _sz, _key) in base.items():
        for t in ts:
            df_count[(t, brand)] = df_count.get((t, brand), 0) + 1
    pairs = set()
    ids = sorted(base)
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            a, b = base[i], base[j]
            if a[1] != b[1]:
                continue
            if any(
                t in b[0] and df_count[(t, a[1])] <= max_df for t in a[0]
            ):
                pairs.add((i, j))
    # canonical pass: record × rep_cap lowest-id members of its group
    groups = {}
    for rid, (_ts, brand, _sz, key) in base.items():
        groups.setdefault((key, brand), []).append(rid)
    for members in groups.values():
        members.sort()
        reps = members[:rep_cap]
        for m in members:
            for r in reps:
                if m != r:
                    pairs.add((min(m, r), max(m, r)))
    # score + threshold + directed top-k
    directed = {}
    for i, j in pairs:
        a, b = base[i], base[j]
        inter = len(a[0] & b[0])
        nj = inter / (len(a[0]) + len(b[0]) - inter)
        beq = 1 if a[1] == b[1] else 0
        ss = 1.0 - min(abs(a[2] - b[2]), 10) / 10.0
        score = 0.5 * nj + 0.3 * beq + 0.2 * ss
        if score >= threshold:
            directed.setdefault(i, []).append((j, score))
            directed.setdefault(j, []).append((i, score))
    out = set()
    for rid, ms in directed.items():
        ms.sort(key=lambda t: (-t[1], t[0]))
        for rank, (m, s) in enumerate(ms[:k], start=1):
            out.add((rid, m, rank, round(s, 6)))
    return out


@SLOW
@given(records, caps)
def test_part_topk_matches_pure_python_reference(spark, rows, cap_pair):
    from nabatshy_spark.operators import entity

    max_df, rep_cap = cap_pair
    df = spark.createDataFrame(
        [
            Row(
                p_partkey=i,
                p_name=" ".join(toks),
                p_brand=brand,
                p_size=size,
            )
            for i, (toks, brand, size) in enumerate(rows)
        ]
    )
    got = {
        (r.p_partkey, r.match_key, r.rank, r.score)
        for r in entity.part_topk_matches(
            df, k=2, max_df=max_df, rep_cap=rep_cap
        ).collect()
    }
    want = _ref_topk(rows, threshold=0.8, k=2, max_df=max_df, rep_cap=rep_cap)
    assert got == want
