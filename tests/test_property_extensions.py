"""Property tests for the iterative/compositional extension operators,
checked against simple pure-Python references (few examples — each one
is a full Spark job; the references are the spec, not mocks)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

edges_strategy = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@SLOW
@given(edges_strategy)
def test_connected_components_matches_union_find(spark, edges):
    from nabatshy_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], ["doc_a", "doc_b"]
    )
    got = {(r.doc_id, r.component) for r in connected_components(pairs).collect()}
    assert got == set(_union_find(edges).items())


@SLOW
@given(edges_strategy)
def test_connected_components_distributed_matches_union_find(spark, edges):
    """Same property, but forcing the distributed star rounds
    (local_threshold=0 bypasses the small-graph union-find path, which
    the test above now exercises)."""
    from nabatshy_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], ["doc_a", "doc_b"]
    )
    got = {
        (r.doc_id, r.component)
        for r in connected_components(pairs, local_threshold=0).collect()
    }
    assert got == set(_union_find(edges).items())


events_strategy = st.lists(
    st.tuples(
        st.integers(1, 4),                      # user
        st.integers(0, 5000),                   # minutes offset
        st.sampled_from(["view", "click", "purchase", "other"]),
    ),
    min_size=1,
    max_size=40,
)


def _ref_funnel(rows, steps, gap_hours=24):
    t0 = dt.datetime(2024, 1, 1)
    by_user = {}
    for uid, m, typ in rows:
        by_user.setdefault(uid, []).append((t0 + dt.timedelta(minutes=m), typ))
    counts = [0] * len(steps)
    for evs in by_user.values():
        prev = None
        for i, step in enumerate(steps):
            cand = [
                t
                for t, typ in evs
                if typ == step
                and (
                    i == 0
                    or (prev is not None
                        and prev < t <= prev + dt.timedelta(hours=gap_hours))
                )
            ]
            if not cand:
                break
            prev = min(cand)
            counts[i] += 1
    return tuple(counts)


@SLOW
@given(events_strategy)
def test_funnel_matches_reference(spark, rows):
    from nabatshy_spark.operators.sessions import funnel

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(uid, t0 + dt.timedelta(minutes=m), typ) for uid, m, typ in rows],
        ["user_id", "ts", "event_type"],
    )
    steps = ["view", "click", "purchase"]
    expected = _ref_funnel(rows, steps)
    if expected[0] == 0:
        # no user enters the funnel → single all-zero row
        expected_row = (0, 0, 0)
    else:
        expected_row = expected
    out = funnel(df, steps).collect()[0]
    assert (out.n_view, out.n_click, out.n_purchase) == expected_row


@SLOW
@given(
    st.lists(st.integers(1, 400), min_size=1, max_size=8),
    st.integers(2, 20),
    st.integers(1, 20),
)
def test_chunking_covers_every_token_exactly(spark, lens, size, stride):
    """Every token of every document appears in at least one chunk; the
    first size-stride tokens of consecutive chunks overlap; chunk 0
    always starts at token 0; a doc shorter than `size` yields exactly
    one chunk."""
    from nabatshy_spark.operators.textanalysis import chunk_documents

    stride = min(stride, size)
    docs = [(i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(lens)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = chunk_documents(df, "doc_id", "text", size=size, stride=stride).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(lens):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        covered = set()
        for r in chunks:
            toks = r.chunk_text.split(" ")
            assert len(toks) == r.n_chunk_tokens <= size
            covered.update(toks)
        assert covered == {f"t{i}_{j}" for j in range(n)}, "full coverage"
        if n <= size:
            assert len(chunks) == 1


@SLOW
@given(st.integers(0, 65536 - 100), st.integers(0, 100))
def test_split_corpus_partitions_completely(spark, train_bps, val_bps):
    """Every row lands in exactly one split; the split frequencies
    respect the bps thresholds approximately (md5 uniformity)."""
    from nabatshy_spark.operators.sampling import split_corpus

    df = spark.range(300).withColumnRenamed("id", "k")
    out = split_corpus(df, "k", train_bps, val_bps).collect()
    assert len(out) == 300
    counts = {"train": 0, "val": 0, "test": 0}
    for r in out:
        counts[r.split] += 1
    assert sum(counts.values()) == 300
    if train_bps == 0:
        assert counts["train"] == 0
    if val_bps == 0:
        assert counts["val"] == 0


@given(
    st.lists(st.sampled_from(["a", "b", "c", "ab", "bc"]), min_size=0, max_size=12),
    st.sampled_from([("a", "b"), ("b", "c"), ("ab", "c"), ("c", "a")]),
)
@settings(max_examples=50, deadline=None)
def test_bpe_merge_preserves_concatenation(symbols, pair):
    """One BPE merge never changes the underlying string, applies
    leftmost-first without overlap, and is idempotent once no adjacent
    pair remains (pure function — no Spark job needed)."""
    from nabatshy_spark.operators.bpe import _merge_seq

    left, right = pair
    merged = _merge_seq(symbols, left, right)
    assert "".join(merged) == "".join(symbols)
    assert len(merged) <= len(symbols)
    # idempotence after fixpoint (a single pass may legitimately leave
    # new adjacencies created by its own rewrites — BPE replays merges
    # in order, so only the fixpoint must be stable)
    fixed = merged
    for _ in range(5):
        nxt = _merge_seq(fixed, left, right)
        if nxt == fixed:
            break
        fixed = nxt
    assert _merge_seq(fixed, left, right) == fixed


@given(st.lists(st.integers(0, 30), min_size=0, max_size=25))
@SLOW
def test_triangle_counts_match_bruteforce(spark, flat):
    """Triangle counts on random small graphs equal the O(n³)
    brute-force reference."""
    import itertools

    from nabatshy_spark.operators.graph import triangle_counts

    edges = [(flat[i], flat[i + 1]) for i in range(0, len(flat) - 1, 2)
             if flat[i] != flat[i + 1]]
    if not edges:
        return
    es = {tuple(sorted(e)) for e in edges}
    nodes = sorted({n for e in es for n in e})
    ref = {n: 0 for n in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in es and (b, c) in es and (a, c) in es:
            ref[a] += 1; ref[b] += 1; ref[c] += 1
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == ref


docs_strategy = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=0, max_size=10),
    min_size=1,
    max_size=8,
)


@SLOW
@given(docs_strategy)
def test_cross_doc_ngram_dup_matches_reference(spark, docs):
    """dup_grams per doc == occurrences of grams seen in >1 distinct
    doc, computed by a pure-Python spec over the same tokenization."""
    from collections import Counter

    from nabatshy_spark.operators.textanalysis import cross_doc_ngram_dup

    n = 2
    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_grams, r.dup_grams)
        for r in cross_doc_ngram_dup(df, "doc_id", "text", n=n).collect()
    }
    per_doc = {}
    gram_docs = Counter()
    for i, t in enumerate(texts):
        w = t.split(" ")  # split(" ") on "" yields [""], same as Spark
        grams = [tuple(w[j : j + n]) for j in range(len(w) - n + 1)]
        per_doc[i] = Counter(grams)
        for g in set(grams):
            gram_docs[g] += 1
    want = {}
    for i, c in per_doc.items():
        if not c:
            continue  # shorter than n: no row, matching explode semantics
        total = sum(c.values())
        dup = sum(v for g, v in c.items() if gram_docs[g] > 1)
        want[i] = (total, dup)
    assert got == want


@SLOW
@given(docs_strategy, st.lists(st.sampled_from("abcd"), min_size=1, max_size=3))
def test_phrase_search_matches_reference(spark, docs, phrase):
    """n_occurrences per doc == sliding-window phrase count."""
    from nabatshy_spark.operators.invindex import (
        build_positional_postings,
        search_phrase,
    )

    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    postings = build_positional_postings(df, "doc_id", "text")
    got = {
        r.doc: r.n_occurrences
        for r in search_phrase(spark, postings, list(phrase), k=100).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        w = t.split(" ")
        c = sum(
            1
            for j in range(len(w) - len(phrase) + 1)
            if w[j : j + len(phrase)] == list(phrase)
        )
        if c:
            want[i] = c
    assert got == want


baskets_strategy = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 6)),
    min_size=1,
    max_size=25,
)


@SLOW
@given(baskets_strategy)
def test_frequent_pairs_matches_bruteforce(spark, rows):
    from collections import Counter
    from itertools import combinations

    from nabatshy_spark.operators.itemsets import frequent_pairs

    minsup = 2
    df = spark.createDataFrame(rows, ["basket", "item"])
    got = {
        (r.item_a, r.item_b): r.support
        for r in frequent_pairs(
            df, "basket", "item", min_support=minsup, max_basket=100, k=1000
        ).collect()
    }
    baskets = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    support = Counter()
    for items in baskets.values():
        for pair in combinations(sorted(items), 2):
            support[pair] += 1
    want = {p: s for p, s in support.items() if s >= minsup}
    assert got == want


er_catalog_strategy = st.lists(
    st.tuples(
        st.lists(
            st.sampled_from(["red", "blue", "hot", "old", "plate", "rod"]),
            min_size=1, max_size=3, unique=True,
        ),
        st.integers(0, 2),   # brand id
        st.integers(1, 12),  # size
    ),
    min_size=2, max_size=14,
)


@SLOW
@given(er_catalog_strategy)
def test_er_capped_blocking_lossless_above_brand_threshold(spark, rows):
    # For ANY catalog: at threshold > 0.7 (brand equality provably
    # necessary) the df-capped multi-pass blocking must emit exactly
    # the pairs the exhaustive (uncapped) scorer emits — the cap and
    # the conjunctive brand key may only prune non-matches.  Threshold
    # 0.85 additionally needs name Jaccard ≥ 0.7, which over 1-3-token
    # names forces identical token sets, so the canonical-name pass is
    # the load-bearing path whenever every token is capped out.
    from pyspark.sql import Row

    from nabatshy_spark.operators import entity

    df = spark.createDataFrame(
        [
            Row(
                p_partkey=i,
                p_name=" ".join(toks),
                p_brand=f"B{b}",
                p_size=s,
            )
            for i, (toks, b, s) in enumerate(rows)
        ]
    )
    exhaustive = {
        (r.id_a, r.id_b, r.score)
        for r in entity.score_part_pairs(df, threshold=0.85).collect()
    }
    capped = {
        (r.id_a, r.id_b, r.score)
        for r in entity.score_part_pairs(df, threshold=0.85, max_df=1).collect()
    }
    assert capped == exhaustive


span_docs_strategy = st.lists(
    st.text(alphabet="abc", min_size=0, max_size=12),
    min_size=2, max_size=6,
)


@SLOW
@given(span_docs_strategy)
def test_duplicate_span_stats_matches_bruteforce(spark, texts):
    # Reference semantics, computed the slow way: a position p of doc d
    # is "duplicated" iff it is covered by some k-window of d whose
    # substring also occurs (as a window) in ANOTHER doc.  dup_chars
    # must equal the size of that covered-position union exactly —
    # islands, overlaps, and multi-island gaps included.
    from pyspark.sql import Row

    from nabatshy_spark.operators.dedup import dup_char_vocab, duplicate_span_stats

    k = 3
    windows = {}
    for d, t in enumerate(texts):
        windows[d] = [t[i : i + k] for i in range(len(t) - k + 1)]
    expected = {}
    for d, t in enumerate(texts):
        if len(t) < k:
            continue
        covered = set()
        for i, w in enumerate(windows[d]):
            if any(w in windows[o] for o in windows if o != d):
                covered.update(range(i, i + k))
        expected[d] = len(covered)

    df = spark.createDataFrame(
        [Row(doc_id=d, text=t) for d, t in enumerate(texts)]
    )
    got = {
        r.doc_id: r.dup_chars
        for r in duplicate_span_stats(
            df, dup_char_vocab(df, "doc_id", "text", k=k), "doc_id", "text", k=k
        ).collect()
    }
    assert got == expected


# --- round-5 continuation: padding pow2 ceiling & epoch shuffle -----------

@given(st.lists(st.integers(1, 512), min_size=1, max_size=50))
@SLOW
def test_pow2_ceiling_matches_python(spark, ns):
    """The shiftleft/bin bucket ceiling equals the mathematical next
    power of two for every token count in range."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(n,) for n in ns], "t int").select(
        "t",
        F.expr(
            "CASE WHEN t <= 1 THEN 1 "
            "ELSE shiftleft(1, length(bin(cast(t - 1 AS bigint)))) END"
        ).alias("c"),
    )
    for r in df.collect():
        expect = 1
        while expect < r.t:
            expect *= 2
        assert r.c == expect


def test_epoch_shuffle_deterministic_across_runs(spark, sf_dir):
    """Two independent evaluations produce byte-identical permutations
    (no RNG state anywhere in the plan)."""
    from nabatshy_spark.plans.queries import QUERIES

    a = QUERIES["epoch_shuffle_order"](spark, sf_dir).collect()
    b = QUERIES["epoch_shuffle_order"](spark, sf_dir).collect()
    assert a == b
