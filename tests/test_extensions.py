"""Behavioral tests for extension operators beyond oracle parity."""

from __future__ import annotations

import pytest

from nabatshy_spark.catalog import load
from nabatshy_spark.operators import multimodal, similarity


def test_lsh_topk_recall(spark, sf_dir):
    """LSH top-k must recover most of the exact top-k (same data, same
    query): recall ≥ 0.5 at k=10 with 16 planes / 4 bands."""
    emb = load(spark, sf_dir, "embeddings")
    exact = {
        r.vec_id
        for r in similarity.cosine_topk(emb, "vec_id", "embedding", 0, 10).collect()
    }
    approx = {
        r.vec_id
        for r in similarity.lsh_topk(emb, "vec_id", "embedding", 0, 10).collect()
    }
    assert len(approx) == 10
    assert len(exact & approx) / len(exact) >= 0.5


def test_multimodal_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_multimodal_plumbing(spark, sf_dir):
    """The binary pipeline carries real payloads through mapInPandas."""
    docs = load(spark, sf_dir, "documents").limit(20)
    out = multimodal.extract_features(
        multimodal.attach_binary(docs, "doc_id", "text")
    ).collect()
    assert len(out) == 20
    assert all(len(r.sha_hex) == 64 and r.n_bytes > 0 for r in out)


def test_salted_aggregate_equals_plain(spark, sf_dir):
    from pyspark.sql import functions as F

    from nabatshy_spark.operators.skew import salted_count_sum

    ev = load(spark, sf_dir, "events")
    salted = {
        (r.event_type,): (r.n, round(r.sum_value, 2))
        for r in salted_count_sum(ev, ["event_type"], "value").collect()
    }
    plain = {
        (r.event_type,): (r.n, round(r.s, 2))
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark, sf_dir):
    from nabatshy_spark.operators.skew import salted_broadcastable_join

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    plain = c.join(n, "c_nationkey").count()
    salted = salted_broadcastable_join(c, n, "c_nationkey").count()
    assert salted == plain


def test_embedding_lsh_recall(spark, sf_dir):
    from nabatshy_spark.operators.dedup import embedding_dup_pairs
    from nabatshy_spark.operators.similarity import lsh_dup_pairs

    emb = load(spark, sf_dir, "embeddings")
    exact = {(r.doc_a, r.doc_b) for r in embedding_dup_pairs(emb, "vec_id", "embedding").collect()}
    approx = {(r.doc_a, r.doc_b) for r in lsh_dup_pairs(emb, "vec_id", "embedding").collect()}
    assert approx <= exact                      # verification is exact → no false pairs
    if exact:
        assert len(approx) / len(exact) >= 0.9  # recall floor at 32 planes / 16 x 2-bit bands


def test_approx_stats_near_exact(spark, sf_dir):
    from nabatshy_spark.plans.queries import QUERIES

    exact = {
        (r.l_returnflag, r.l_linestatus): r.p95_price
        for r in QUERIES["endpoint_stats"](spark, sf_dir).collect()
    }
    approx = {
        (r.l_returnflag, r.l_linestatus): r.p95_price
        for r in QUERIES["endpoint_stats_approx"](spark, sf_dir).collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) / v < 0.02    # sketch within 2%


def test_connected_components_chain_and_clique(spark):
    from nabatshy_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # clique {10,11}, and an isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], ["doc_a", "doc_b"]
    )
    got = {
        (r.doc_id, r.component)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }


def test_funnel_window_and_order(spark):
    import datetime as dt

    from nabatshy_spark.operators.sessions import funnel

    t = lambda h: dt.datetime(2024, 1, 1, h)
    rows = [
        # u1 converts: view@0 -> click@1 -> purchase@2
        (1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase"),
        # u2: click BEFORE first view only -> drops at click step
        (2, t(1), "view"), (2, t(0), "click"),
        # u3: click too late (>24h after view) -> drops at click step
        (3, t(0), "view"), (3, dt.datetime(2024, 1, 3), "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = funnel(df, ["view", "click", "purchase"]).collect()[0]
    assert (out.n_view, out.n_click, out.n_purchase) == (3, 1, 1)
    assert abs(out.conv_rate - round(1 / 3, 6)) < 1e-9


def test_hash_sample_bounds_and_determinism(spark, sf_dir):
    import pytest as _pytest

    from nabatshy_spark.operators.sampling import hash_sample

    docs = load(spark, sf_dir, "documents")
    with _pytest.raises(ValueError):
        hash_sample(docs, "doc_id", bps=70000)
    a = {r.doc_id for r in hash_sample(docs, "doc_id", 6554).collect()}
    b = {r.doc_id for r in hash_sample(docs, "doc_id", 6554).collect()}
    assert a == b and 0 < len(a) < docs.count()
    # monotone: a bigger budget strictly contains a smaller one
    big = {r.doc_id for r in hash_sample(docs, "doc_id", 32768).collect()}
    assert a <= big


def test_ngram_jaccard_df_cap_boilerplate(spark):
    from nabatshy_spark.operators.dedup import ngram_jaccard_pairs

    # Every doc shares the same boilerplate header (a hot shingle whose
    # df == N); docs 0/1 are near-dups via rare shingles on top of it.
    header = "terms of service apply to all content on this site"
    rows = [(0, header + " alpha beta gamma delta epsilon zeta"),
            (1, header + " alpha beta gamma delta epsilon eta")]
    rows += [(i, header + f" unique{i} filler{i} words{i} here{i} now{i} end{i}")
             for i in range(2, 40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = {(r.doc_a, r.doc_b, r.jaccard)
                for r in ngram_jaccard_pairs(df, "doc_id", "text").collect()}
    # cap of 10 drops every boilerplate shingle (df == 40) from candidate
    # generation, yet the true pair survives via its rare shingles and
    # its jaccard is computed over the FULL sets — values unchanged
    capped = {(r.doc_a, r.doc_b, r.jaccard)
              for r in ngram_jaccard_pairs(df, "doc_id", "text", max_df=10).collect()}
    assert capped == uncapped
    assert any(a == 0 and b == 1 for a, b, _ in capped)


def test_minhash_bucket_cap_boilerplate(spark):
    from nabatshy_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    # 60 identical boilerplate docs → one giant LSH bucket in every
    # band; two near-dup docs with distinct content must still pair up
    # when the hot buckets are dropped.
    rows = [(0, "the quick brown fox jumps over the lazy dog again today"),
            (1, "the quick brown fox jumps over the lazy dog again tomorrow")]
    rows += [(i, "identical boilerplate body repeated verbatim in every document")
             for i in range(2, 62)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = {(r.doc_a, r.doc_b)
              for r in minhash_lsh_pairs(df, "doc_id", "text", max_bucket=30).collect()}
    exact = {(r.doc_a, r.doc_b)
             for r in ngram_jaccard_pairs(df, "doc_id", "text").collect()}
    # the boilerplate clique (all jaccard 1.0 pairs among ids >= 2) is
    # intentionally dropped — its buckets are hot; the true cross-pair stays
    assert (0, 1) in capped
    assert capped <= exact
    assert not any(a >= 2 and b >= 2 for a, b in capped)


def test_connected_components_long_chain_log_rounds(spark):
    from nabatshy_spark.operators.dedup import connected_components

    # 256-node chain: min-label propagation needs ~255 rounds; the
    # large-star/small-star alternation must converge in O(log n).
    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    rounds: list[int] = []
    got = {(r.doc_id, r.component)
           for r in connected_components(pairs, rounds_out=rounds).collect()}
    assert got == {(i, 0) for i in range(n)}
    assert rounds and rounds[0] <= 12, f"expected O(log n) rounds, got {rounds}"


def test_kmeans_deterministic_and_sane(spark, sf_dir):
    from nabatshy_spark.operators.clustering import kmeans

    emb = load(spark, sf_dir, "embeddings")
    a = {(r.vec_id, r.cluster) for r in kmeans(emb, "vec_id", "embedding", k=4, iters=4).collect()}
    b = {(r.vec_id, r.cluster) for r in kmeans(emb, "vec_id", "embedding", k=4, iters=4).collect()}
    assert a == b                                   # deterministic across runs
    assert {c for _, c in a} <= {0, 1, 2, 3}
    assert len(a) == emb.count()                    # every vector assigned
    # more rounds only refine: round-4 assignment differs from round-2
    # for some points but cluster count stays k
    two = {(r.vec_id, r.cluster) for r in kmeans(emb, "vec_id", "embedding", k=4, iters=2).collect()}
    assert len({c for _, c in two}) == len({c for _, c in a}) == 4


def test_decontaminate_flags_overlap(spark):
    from nabatshy_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the exact secret benchmark question about spark joins")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [(1, "intro text then the exact secret benchmark question about spark joins copied verbatim"),
         (2, "completely unrelated training document with different words entirely"),
         (3, "mentions spark joins once")],  # 1 shared trigram < min_hits
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.n_hits for r in
           decontaminate(corpus, bench, "doc_id", "text", n=3, min_hits=2).collect()}
    assert 1 in got and got[1] >= 5
    assert 2 not in got and 3 not in got


def test_audio_resample_and_poison(spark):
    from nabatshy_spark.operators.multimodal import (
        attach_audio,
        audio_features,
        decode_audio,
        resample_audio,
    )

    docs = spark.range(3).selectExpr("id as doc_id", "'x' as text")
    wavs = attach_audio(docs, "doc_id")

    # nearest-neighbor resample halves the sample count and keeps the
    # square wave's amplitude (RMS invariant under decimation of ±A)
    out = {r.doc_id: r.payload for r in resample_audio(wavs, 8000).collect()}
    rate, nch, s = decode_audio(out[0])
    assert rate == 8000 and nch == 1 and len(s) == 4000

    # poison payload → decode_error row, batch survives
    import pandas as pd
    bad = spark.createDataFrame(
        pd.DataFrame({"doc_id": [99], "payload": [b"not a wav"]})
    )
    rows = audio_features(wavs.unionByName(bad)).collect()
    errs = {r.doc_id: r.decode_error for r in rows}
    assert errs[99] is not None and errs[0] is None
    assert {r.rms for r in rows if r.doc_id == 0} == {1000.0}


def test_frame_sample_poison_frame(spark):
    import numpy as np
    import pandas as pd

    from nabatshy_spark.operators.multimodal import frame_sample_features
    from nabatshy_spark.operators.pngcodec import encode_png

    good = encode_png(np.full((6, 8), 42, dtype=np.uint8))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "frames": [[good, b"JUNK", b"also junk"]]})
    )
    rows = {r.frame_idx: r for r in frame_sample_features(df, every_n=2).collect()}
    assert set(rows) == {0, 2}
    assert rows[0].mean_pixel == 42.0 and rows[0].decode_error is None
    assert rows[2].decode_error is not None


def test_pii_redaction_unit(spark):
    from nabatshy_spark.operators.pii import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-a.co and 10.1.2.3 plus 123-45-6789"),
            (2, "call 555-123-4567 twice: 555-123-4567; order #123-45 ok"),
            (3, "clean text 12345 no hits 1.2.3 (not an ip)"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in redact_pii(df, "doc_id", "text").collect()}
    assert rows[1].redacted == "mail <EMAIL> and <IP> plus <SSN>"
    assert (rows[1].n_email, rows[1].n_ssn, rows[1].n_ipv4, rows[1].n_pii) == (1, 1, 1, 3)
    assert rows[2].redacted == "call <PHONE> twice: <PHONE>; order #123-45 ok"
    assert rows[2].n_phone == 2 and rows[2].n_pii == 2
    assert rows[3].redacted == rows[3].redacted and rows[3].n_pii == 0


def test_repetition_stats_unit(spark):
    from nabatshy_spark.operators.textanalysis import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x"), (3, "all words here differ fully")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_stats(df, "doc_id", "text").collect()}
    # 5 bigrams, 2 distinct -> 0.6; 4 trigrams, 2 distinct -> 0.5
    assert (rows[1].dup2_ratio, rows[1].dup3_ratio) == (0.6, 0.5)
    assert (rows[2].dup2_ratio, rows[2].dup3_ratio) == (0.0, 0.0)
    assert (rows[3].dup2_ratio, rows[3].dup3_ratio) == (0.0, 0.0)


def test_incremental_dedup_semantics(spark):
    from nabatshy_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog today"),
            (101, "completely unrelated corpus text about spark engines"),
            (102, "the quick brown fox jumps over the lazy dog today"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            # byte-identical to corpus 100 and 102 -> exact, min match 100
            (1, "the quick brown fox jumps over the lazy dog today"),
            # one word changed -> near-dup of 100/102, not exact
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            # fresh content -> kept
            (3, "completely new material never seen in any corpus"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in incremental_dedup(corpus, batch, "doc_id", "text").collect()
    }
    assert rows[1] == ("dup_exact", 100)
    assert rows[2][0] == "dup_near" and rows[2][1] == 100
    assert rows[3] == ("kept", None)


def test_incremental_dedup_df_cap_blind_spot_only(spark):
    """With max_df=1 every corpus shingle of the duplicated pair is hot,
    so the near-dup is the documented blind spot — but the exact path
    still catches byte-identical content regardless of caps."""
    from nabatshy_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),
         (11, "alpha beta gamma delta epsilon zeta")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r["status"]
        for r in incremental_dedup(
            corpus, batch, "doc_id", "text", max_df=1
        ).collect()
    }
    assert rows[1] == "dup_exact"
    assert rows[2] == "kept"  # every shared shingle is hot -> blind spot


def test_split_corpus_stable_under_append(spark):
    """Split membership is a pure key function: the same key gets the
    same split regardless of what else is in the table."""
    from nabatshy_spark.operators import sampling

    small = spark.createDataFrame([(i,) for i in range(200)], "doc_id: long")
    big = spark.createDataFrame([(i,) for i in range(400)], "doc_id: long")
    s1 = {
        r.doc_id: r.split
        for r in sampling.split_corpus(small, "doc_id", 62259, 1638).collect()
    }
    s2 = {
        r.doc_id: r.split
        for r in sampling.split_corpus(big, "doc_id", 62259, 1638).collect()
    }
    assert all(s2[k] == v for k, v in s1.items())
    assert set(s2.values()) == {"train", "val", "test"}


def test_latest_per_key_idempotent_under_replay(spark):
    """An at-least-once replay (the log unioned with itself) compacts
    to the identical table."""
    from pyspark.sql import functions as F

    from nabatshy_spark.operators import cdc

    log = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (2, 5, "d")],
        "k: long, ts: long, v: string",
    )
    order = [F.col("ts"), F.col("v")]
    once = sorted(cdc.latest_per_key(log, "k", order).collect())
    replay = sorted(cdc.latest_per_key(log.union(log), "k", order).collect())
    assert once == replay
    assert [(r.k, r.v) for r in once] == [(1, "b"), (2, "d")]


def test_quantize_int8_bounds(spark, sf_dir):
    from pyspark.sql import functions as F

    bad = (
        similarity.quantize_int8(load(spark, sf_dir, "embeddings"), "vec_id", "embedding")
        .filter((F.col("q_max") > 127) | (F.col("q_min") < -128))
        .count()
    )
    assert bad == 0


def test_contagg_rollup_reused_not_rebuilt(spark, sf_dir):
    """Second serve with unchanged source reuses the materialized
    rollup (same path, same mtime) — the amortization the design
    promises."""
    import os

    from nabatshy_spark.sources import contagg

    p1 = contagg.ensure_rollup(spark, sf_dir, "2024-01-24 00:00:00")
    # The directory itself is utime-touched on every cache hit (the
    # artifact GC's time-since-last-read TTL), so reuse is asserted on
    # the DATA files: a rebuild rewrites them, a cache hit cannot.
    m1 = {
        f: os.path.getmtime(os.path.join(p1, f)) for f in os.listdir(p1)
    }
    p2 = contagg.ensure_rollup(spark, sf_dir, "2024-01-24 00:00:00")
    m2 = {
        f: os.path.getmtime(os.path.join(p2, f)) for f in os.listdir(p2)
    }
    assert p1 == p2 and m1 == m2


def test_pagerank_uniform_cycle(spark):
    """On a directed cycle every node has identical rank 1/n — the
    analytic fixed point, reached exactly at every iteration count."""
    from nabatshy_spark.operators import graph

    n = 6
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src: long, dst: long"
    )
    ranks = graph.pagerank(edges, iterations=3).collect()
    assert len(ranks) == n
    for r in ranks:
        assert abs(r.rank - 1.0 / n) < 1e-6  # rank is rounded to 6 places


def test_search_and_requires_all_terms(spark):
    from nabatshy_spark.operators import invindex

    docs = spark.createDataFrame(
        [(1, "join hash vector"), (2, "join hash"), (3, "join join vector hash")],
        "doc_id: long, text: string",
    )
    postings = invindex.build_postings(docs, "doc_id", "text")
    hits = invindex.search_and(postings, ["join", "hash", "vector"], k=10).collect()
    assert [r.doc for r in hits] == [3, 1]  # doc 3 scores 4, doc 1 scores 3


def test_distinct_users_approx_error_bound(spark, sf_dir):
    """HLL++ estimate (rsd=2%) within 5% of the exact distinct count
    for every event_type."""
    from pyspark.sql import functions as F

    from nabatshy_spark.plans.queries import QUERIES

    exact = {
        r.event_type: r.n
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r.event_type: r.approx_users
        for r in QUERIES["distinct_users_approx"](spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for k, v in exact.items():
        assert abs(approx[k] - v) / v < 0.05


def test_queries_survive_empty_tables(spark, tmp_path):
    """Core operators must return empty results, not crash, on 0-row
    inputs (an empty ingest hour is a normal production state)."""
    import os

    from pyspark.sql import functions as F

    from nabatshy_spark.plans.queries import QUERIES

    src = "/root/testdata/sf0.001"
    empty_dir = str(tmp_path / "sf_empty")
    os.makedirs(empty_dir, exist_ok=True)
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        df = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        df.filter(F.lit(False)).write.mode("overwrite").parquet(
            os.path.join(empty_dir, f"{t}.parquet")
        )
    # EVERY registered sf_dir-backed query must run (spans_* read the
    # committed fixture, not sf_dir). Most return 0 rows; gap-fill /
    # pivot / diff-style queries legitimately emit scaffold rows, so
    # the invariant here is "no crash", plus 0-rows for a named core
    # subset.
    for name in sorted(QUERIES):
        if name.startswith("spans_"):
            continue
        QUERIES[name](spark, empty_dir).count()
    for name in (
        "pricing_summary", "endpoint_stats", "dedup_exact",
        "text_stats", "sample_hash", "latest_event_per_user",
        "chunk_documents", "corpus_split", "value_outliers",
        "cohort_retention", "pagerank_trade", "kmeans_embeddings",
        "ann_ivf_topk", "search_page_keyset", "embedding_gram",
        "zorder_pruning_stats",
    ):
        assert QUERIES[name](spark, empty_dir).count() == 0, name


def test_critical_path_hand_tree(spark):
    """Known tree: root(10) -> a(5) -> c(7); root -> b(20).
    Critical path = 10 + 20 = 30ms via b (deeper path 10+5+7=22 loses)."""
    from nabatshy_spark.operators.spans import critical_path

    rows = [
        ("t1", "r", "", 10_000_000),
        ("t1", "a", "r", 5_000_000),
        ("t1", "c", "a", 7_000_000),
        ("t1", "b", "r", 20_000_000),
        ("t2", "r2", "", 3_000_000),  # single-span trace
    ]
    df = spark.createDataFrame(
        rows, "trace_id string, span_id string, parent_span_id string, duration_ns long"
    )
    got = {r.trace_id: r.critical_ms for r in critical_path(df).collect()}
    assert got == {"t1": 30.0, "t2": 3.0}


def test_contagg_rebuilds_on_source_change(spark, tmp_path):
    """A changed events table must invalidate the fingerprint-keyed
    rollup: the served series always equals the direct aggregation of
    the CURRENT table, never a stale rollup."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nabatshy_spark.sources import contagg

    sf_copy = str(tmp_path / "sfdir")
    os.makedirs(sf_copy)
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(sf_copy, "events.parquet"),
    )
    cutoff = "2024-01-24 00:00:00"

    def direct_total():
        return (
            spark.read.parquet(os.path.join(sf_copy, "events.parquet")).count()
        )

    def served_total():
        return (
            contagg.serve_series(spark, sf_copy, cutoff)
            .agg(F.sum("n"))
            .collect()[0][0]
        )

    assert served_total() == direct_total()
    # rewrite the source with half the rows — an OLD-side change, so a
    # stale rollup would silently keep serving the dropped rows
    ev = spark.read.parquet(os.path.join(sf_copy, "events.parquet"))
    half = ev.filter(F.col("event_id") % 2 == 0)
    tmp_out = str(tmp_path / "halved")
    half.write.parquet(tmp_out)
    os.remove(os.path.join(sf_copy, "events.parquet"))  # copied as a file
    shutil.move(tmp_out, os.path.join(sf_copy, "events.parquet"))
    assert served_total() == direct_total(), "rollup must rebuild on change"


def test_critical_path_grouped_equals_iterative(spark):
    """The one-shuffle grouped DP and the iterative-join fixpoint must
    agree on the fixture (same operator contract, two plans)."""
    from nabatshy_spark.operators.spans import critical_path, critical_path_grouped

    df = spark.read.parquet("/root/repo/tests/data/spans.parquet")
    a = {r.trace_id: r.critical_ms for r in critical_path(df).collect()}
    b = {r.trace_id: r.critical_ms for r in critical_path_grouped(df).collect()}
    assert a == b


def test_profile_approx_error_bound(spark, sf_dir):
    """The HLL profile twin stays within 5% of the exact distinct
    count for every column (and matches nulls/rows exactly)."""
    from nabatshy_spark.plans.queries import QUERIES

    exact = {
        r.column: (r.n_rows, r.n_nulls, r.n_distinct)
        for r in QUERIES["profile_orders"](spark, sf_dir).collect()
    }
    approx = {
        r.column: (r.n_rows, r.n_nulls, r.approx_distinct)
        for r in QUERIES["profile_orders_approx"](spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for c, (n, nulls, nd) in exact.items():
        an, anulls, ad = approx[c]
        assert (an, anulls) == (n, nulls)
        assert abs(ad - nd) / max(nd, 1) < 0.05, c


def test_boilerplate_scrub_removes_hot_chunks(spark):
    """A 5-word chunk shared by 4 documents is scrubbed everywhere; a
    document that is pure boilerplate collapses to the empty string
    (md5('') fingerprint, 0 chars); unique text is untouched."""
    import hashlib

    from nabatshy_spark.operators.textanalysis import boilerplate_scrub

    # chunking is stride-aligned, so the shared chunk sits at a 5-word
    # boundary in every document that contains it
    boiler = "all rights reserved contact us"
    rows = [
        (1, f"{boiler} unique alpha text one"),
        (2, f"{boiler} unique beta text two"),
        (3, f"{boiler} unique gamma text three"),
        (4, boiler),                        # pure boilerplate
        (5, "totally unique document five here"),
    ]
    out = {
        r["doc_id"]: r
        for r in boilerplate_scrub(
            spark.createDataFrame(rows, "doc_id long, text string"),
            "doc_id", "text", chunk_words=5, max_docs=2,
        ).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[4]["n_kept"] == 0
    assert out[4]["clean_md5"] == md5("")
    assert out[4]["n_chars_clean"] == 0
    assert out[1]["n_removed"] == 1
    assert out[1]["clean_md5"] == md5("unique alpha text one")
    assert out[2]["n_removed"] == 1
    assert out[5]["n_removed"] == 0
    assert out[5]["clean_md5"] == md5("totally unique document five here")


def test_quality_model_monotone_features(spark):
    """Digit-dumping a document strictly lowers its model score; the
    label boundaries sit on the rounded score."""
    from nabatshy_spark.operators.textanalysis import quality_model_scores

    prose = "the cat is one of the fine animals in the world and it is a joy"
    digits = "93 1 77 003 5 12 9 44 8 21 6 305 7 18 2 99 13 4 55 10 31 76 11"
    rows = [(1, prose), (2, digits)]
    out = {
        r["doc_id"]: r
        for r in quality_model_scores(
            spark.createDataFrame(rows, "doc_id long, text string"),
            "doc_id", "text",
        ).collect()
    }
    assert out[1]["model_score"] > out[2]["model_score"]
    for r in out.values():
        s, lab = r["model_score"], r["quality_label"]
        assert lab == ("high" if s >= 0.75 else "medium" if s >= 0.5 else "low")


def test_temperature_mixture_upweights_small_sources(spark):
    """τ=2 temperature scaling gives a smaller source a HIGHER keep
    rate than a larger one, rates stay in (0, 1], and the planned
    token total does not exceed the budget."""
    from pyspark.sql import functions as F

    from nabatshy_spark.operators.sampling import temperature_mixture_rates

    rows = [(i, "small" if i < 10 else "big", "w " * 50) for i in range(110)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    plan = {
        r["source"]: r
        for r in temperature_mixture_rates(
            df, "source", F.size(F.split(F.col("text"), " ")),
            budget_frac=0.5, temperature=2.0,
        ).collect()
    }
    assert plan["small"]["rate"] > plan["big"]["rate"]
    total_tokens = sum(p["tokens"] for p in plan.values())
    assert sum(p["expected_tokens"] for p in plan.values()) <= 0.5 * total_tokens + 1
    for p in plan.values():
        assert 0 < p["rate"] <= 1.0


def test_mixture_sample_deterministic(spark, sf_dir):
    """Two runs of the mixture sampler select the identical subset."""
    from nabatshy_spark.plans.queries import QUERIES

    a = sorted(r["doc_id"] for r in QUERIES["sample_token_mixture"](spark, sf_dir).collect())
    b = sorted(r["doc_id"] for r in QUERIES["sample_token_mixture"](spark, sf_dir).collect())
    assert a == b and len(a) > 0


def test_pq_topk_recall_and_determinism(spark, sf_dir):
    """PQ/ADC top-10 overlaps brute-force cosine top-10 by ≥ 6 on the
    embeddings table, is deterministic, and with full re-rank depth
    (rerank·k ≥ corpus) is EXACTLY the brute-force answer (the ADC
    stage then only orders candidates, the exact re-rank decides)."""
    from nabatshy_spark.operators.similarity import cosine_topk, pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = [r["vec_id"] for r in cosine_topk(emb, "vec_id", "embedding", 0, k=10).collect()]
    approx1 = [r["vec_id"] for r in pq_topk(emb, "vec_id", "embedding", 0, k=10).collect()]
    approx2 = [r["vec_id"] for r in pq_topk(emb, "vec_id", "embedding", 0, k=10).collect()]
    assert approx1 == approx2
    assert len(set(exact) & set(approx1)) >= 6
    full = [
        r["vec_id"]
        for r in pq_topk(emb, "vec_id", "embedding", 0, k=10, rerank=100).collect()
    ]
    assert full == exact


def test_triangle_counts_hand_graph(spark):
    """Hand graph: K4 on {1..4} (each node in C(3,2)=3 triangles), a
    pendant node 5 attached to 1 (0 triangles), and an isolated edge
    6-7; duplicate/reversed/self edges must not change anything."""
    from nabatshy_spark.operators.graph import triangle_counts

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (5, 1), (6, 7),
             (2, 1), (3, 1), (4, 4)]  # reversed dup, dup, self-loop
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0, 7: 0}


def test_bpe_classic_corpus_merge_sequence(spark):
    """The Sennrich low/lower/newest/widest corpus learns the textbook
    merge sequence, and segmentation composes merges correctly on an
    unseen word ('lowest' → low + est</w>)."""
    from nabatshy_spark.operators import bpe

    rows, i = [], 0
    for w, c in [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]:
        for _ in range(c):
            rows.append((i, w))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.bpe_train(df, "text", num_merges=5)
    assert merges[:3] == [("e", "s"), ("es", "t"), ("est", "</w>")]
    assert bpe.bpe_segment("lowest", bpe.bpe_train(df, "text", num_merges=10)) == [
        "low", "est</w>",
    ]


def test_bpe_token_counts_monotone(spark, sf_dir):
    """More merges never increase a document's BPE token count, and
    zero merges degenerate to chars+1 per word."""
    from pyspark.sql import functions as F

    from nabatshy_spark.operators import bpe

    docs = load(spark, sf_dir, "documents").limit(50)
    m10 = bpe.bpe_train(docs, "text", num_merges=10)
    c0 = {r["doc_id"]: r["bpe_tokens"] for r in bpe.bpe_token_counts(docs, "doc_id", "text", []).collect()}
    c10 = {r["doc_id"]: r["bpe_tokens"] for r in bpe.bpe_token_counts(docs, "doc_id", "text", m10).collect()}
    assert all(c10[k] <= c0[k] for k in c0)
    chars = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            (F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
             + F.size(F.split(F.col("text"), " "))).alias("n"),
        ).collect()
    }
    assert all(c0[k] == chars[k] for k in c0)


def test_cms_overestimates_and_merges(spark, sf_dir):
    """Count-min: every estimate ≥ the true count (collisions only
    inflate), and the sketch of a union equals the cell-wise sum of
    shard sketches (mergeability — the property that makes it a
    distributed aggregate)."""
    from pyspark.sql import functions as F

    from nabatshy_spark.operators import sketches

    ev = load(spark, sf_dir, "events")
    est = {r["key"]: r["est"] for r in sketches.cms_estimates(ev, "user_id", 4, 64).collect()}
    true = {r["user_id"]: r["n"] for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert set(est) == set(true)
    assert all(est[k] >= true[k] for k in true)
    assert any(est[k] > true[k] for k in true)  # width 64 < 150 keys ⇒ collisions exist

    a = ev.filter(F.col("user_id") % 2 == 0)
    b = ev.filter(F.col("user_id") % 2 == 1)
    whole = {(r["row"], r["col"]): r["c"] for r in sketches.cms_counters(ev, "user_id", 4, 64).collect()}
    sa = {(r["row"], r["col"]): r["c"] for r in sketches.cms_counters(a, "user_id", 4, 64).collect()}
    sb = {(r["row"], r["col"]): r["c"] for r in sketches.cms_counters(b, "user_id", 4, 64).collect()}
    merged = {k: sa.get(k, 0) + sb.get(k, 0) for k in set(sa) | set(sb)}
    assert merged == whole


def test_bloom_no_false_negatives(spark):
    """Every inserted key is flagged (always), and with a roomy filter
    the planted absent keys are not (probabilistic, pinned by seed
    determinism — the md5 probes are pure functions)."""
    from nabatshy_spark.operators import sketches

    members = spark.createDataFrame([(i,) for i in range(50)], "k long")
    others = spark.createDataFrame([(i,) for i in range(1000, 1020)], "k long")
    bits = sketches.bloom_bits(members, "k", num_hashes=5, num_bits=2048)
    out = {
        r["key"]: r["may_contain"]
        for r in sketches.bloom_probe(
            bits, members.union(others), "k", num_hashes=5, num_bits=2048
        ).collect()
    }
    assert all(out[i] for i in range(50))
    fp = sum(1 for i in range(1000, 1020) if out[i])
    assert fp <= 2  # (1-e^{-250/2048})^5 ≈ 2e-5 per key; 2 allows slack


def test_kl_drift_zero_for_identical_groups(spark):
    """Two groups with identical word distributions have KL ≈ 0; a
    divergent group scores strictly higher."""
    rows = (
        [(i, "a", "cat dog fish bird") for i in range(10)]
        + [(i + 10, "b", "cat dog fish bird") for i in range(10)]
        + [(i + 20, "c", "quantum flux capacitor vortex") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    from nabatshy_spark.operators.textanalysis import source_kl_drift

    kl = {r["source"]: r["kl_divergence"] for r in source_kl_drift(df, "source", "text").collect()}
    assert kl["a"] == kl["b"] < kl["c"]
    assert kl["c"] > 0.5


def test_pmi_ranks_true_collocation_first(spark):
    """A pair that always co-occurs ('new york') outranks pairs of
    independently frequent words."""
    rows = [(i, "new york is big and the city is old and the") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from nabatshy_spark.operators.textanalysis import pmi_collocations

    top = pmi_collocations(df, "text", min_count=5, k=5).collect()
    assert (top[0]["x"], top[0]["y"]) == ("new", "york")
    assert top[0]["pmi"] > 0


def test_bigram_fluency_prefers_seen_transitions(spark):
    """A document whose transitions dominate the corpus LM scores
    higher than one made of never-repeated transitions, and the
    interpolation floor keeps rare transitions finite."""
    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((100, "mat the on sat cat the"))  # reversed transitions: unseen bigrams
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from nabatshy_spark.operators.textanalysis import bigram_logprob_scores

    out = {r["doc_id"]: r["mean_bigram_logprob"] for r in bigram_logprob_scores(df, "doc_id", "text").collect()}
    assert out[0] > out[100]
    assert out[100] > float("-inf")


def test_cross_doc_ngram_dup_hand_corpus(spark):
    """A doc sharing its full text with another is 100% duplicated;
    a doc with unique trailing words is partially duplicated; an
    all-unique doc scores 0; a doc shorter than n emits no row."""
    from nabatshy_spark.operators import textanalysis

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d e"),
            (3, "a b c x y z"),
            (4, "p q r s"),
            (5, "u v"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r
        for r in textanalysis.cross_doc_ngram_dup(df, "doc_id", "text", n=3).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].dup_fraction == 1.0 and rows[2].dup_fraction == 1.0
    # doc 3: grams {abc, bcx, cxy, xyz} — only "a b c" shared → 1/4
    assert rows[3].n_grams == 4 and rows[3].dup_grams == 1
    assert rows[4].dup_fraction == 0.0


def test_phrase_search_counts_and_duplicate_words(spark):
    """Phrase occurrences are counted per start position, including a
    phrase with a repeated word (the distinct-j, not distinct-term,
    path)."""
    from nabatshy_spark.operators import invindex

    df = spark.createDataFrame(
        [
            (1, "x y x y z"),  # "x y" twice
            (2, "y x q x x"),  # "x y" never (order matters); "x x" once
            (3, "x x x"),      # "x x" twice (overlapping starts)
        ],
        ["doc_id", "text"],
    )
    postings = invindex.build_positional_postings(df, "doc_id", "text")
    xy = {
        r.doc: r.n_occurrences
        for r in invindex.search_phrase(spark, postings, ["x", "y"]).collect()
    }
    assert xy == {1: 2}
    xx = {
        r.doc: r.n_occurrences
        for r in invindex.search_phrase(spark, postings, ["x", "x"]).collect()
    }
    assert xx == {2: 1, 3: 2}


def test_frequent_pairs_prunes_and_caps(spark):
    """Items below min_support never reach the pair join; a basket over
    the cap contributes nothing; support counts distinct baskets."""
    from nabatshy_spark.operators import itemsets

    rows = [(b, i) for b in (1, 2, 3) for i in (10, 20)]  # {10,20} ×3 baskets
    rows += [(b, 30) for b in (1, 2)]          # 30 is frequent-ish (sup 2)
    rows += [(4, 40), (4, 41), (4, 42)]        # oversized basket (cap 2)
    rows += [(1, 10)]                          # duplicate row collapses
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = itemsets.frequent_pairs(
        df, "basket", "item", min_support=3, max_basket=2, k=10
    ).collect()
    # baskets 1,2 have 3 distinct items -> dropped by cap; only basket 3
    # remains, so nothing reaches support 3.
    assert out == []
    out2 = itemsets.frequent_pairs(
        df, "basket", "item", min_support=3, max_basket=10, k=10
    ).collect()
    assert [(r.item_a, r.item_b, r.support) for r in out2] == [(10, 20, 3)]


def test_dedup_cluster_stats_rollup(spark):
    """Two identical docs + one identical pair from another source form
    the expected clusters with size/source/byte rollups."""
    from nabatshy_spark.operators import dedup
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "a b c d e f", "web", 11),
            (2, "a b c d e f", "web", 11),
            (3, "a b c d e f", "books", 11),
            (4, "z y x w v u", "web", 11),  # unique: no cluster row
        ],
        ["doc_id", "text", "source", "n_chars"],
    )
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    comp = dedup.connected_components(pairs)
    out = (
        df.join(comp, "doc_id")
        .groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .collect()
    )
    assert len(out) == 1
    r = out[0]
    assert (r.component, r.cluster_size, r.n_sources, r.total_chars) == (1, 3, 2, 33)


def test_expectations_single_scan_and_verdicts(spark):
    """All rules ride one aggregate (one scan in the plan); verdicts
    match hand-computed truth, including a planted failure; an empty
    table passes the content constraints and fails min_rows."""
    from nabatshy_spark.operators import expectations as E
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 999.0), (4, None, 30.0)],
        ["id", "cat", "price"],
    )
    rules = [
        E.not_null("cat"),                      # fails: 1/4 null
        E.not_null("cat", max_null_frac=0.3),   # passes
        E.unique("id", exact=True),             # passes
        E.in_range("price", 0.0, 100.0),        # fails: 999
        E.accepted_values("cat", ["a", "b"]),   # passes (null not flagged)
        E.min_rows(3),                          # passes
    ]
    rep = E.check(df, rules)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") <= 1
    got = {r.rule: (r.metric, r.passed) for r in rep.collect()}
    assert got["not_null(cat)"] == (0.25, False)
    assert got["not_null(cat,max=0.3)"][1] is True
    assert got["unique(id)"][1] is True
    assert got["in_range(price,0.0,100.0)"] == (1.0, False)
    assert got["accepted_values(cat)"][1] is True
    assert got["min_rows(3)"] == (4.0, True)

    empty = df.filter(F.lit(False))
    got_e = {r.rule: r.passed for r in E.check(empty, rules).collect()}
    assert got_e["in_range(price,0.0,100.0)"] is True
    assert got_e["min_rows(3)"] is False


def test_split_leakage_audit_hand_case(spark):
    """Doc ids pinned to known splits (md5-prefix arithmetic): one
    duplicated content spanning train(0) and val(44), one spanning
    train(1,2) only, one unique test doc — the audit reports exactly
    the (train,train) pair and the (train,val) leak."""
    from nabatshy_spark.operators import dedup, sampling
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g"),    # train
            (44, "a b c d e f g"),   # val   -> cross-split leak
            (1, "p q r s t u v"),    # train
            (2, "p q r s t u v"),    # train -> intra-split pair
            (65, "z y x w v u t"),   # test, unique
        ],
        ["doc_id", "text"],
    )
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    sp = sampling.split_corpus(docs, "doc_id", train_bps=62259, val_bps=1638)
    got = {
        (r.split_a, r.split_b): r.n_dup_pairs
        for r in pairs.join(
            sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")),
            "doc_b",
        )
        .groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .count()
        .withColumnRenamed("count", "n_dup_pairs")
        .collect()
    }
    assert got == {("train", "train"): 1, ("train", "val"): 1}


def test_value_trends_recovers_planted_slope(spark):
    """A perfectly linear series yields its slope (per day) and r²=1;
    a constant series yields slope 0."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    rows = [("up", t0 + dt.timedelta(hours=h), 10.0 + 2.0 * h) for h in range(24)]
    rows += [("flat", t0 + dt.timedelta(hours=h), 7.0) for h in range(24)]
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"]).select(
        "event_type",
        (F.col("ts").cast("double") - F.lit(1704067200.0)).alias("__x"),
        F.col("value").alias("__y"),
    )
    got = {
        r.event_type: (r.slope, r.r2)
        for r in df.groupBy("event_type")
        .agg(
            F.round(F.regr_slope("__y", "__x") * 86400, 6).alias("slope"),
            F.round(F.regr_r2("__y", "__x"), 6).alias("r2"),
        )
        .collect()
    }
    assert got["up"] == (48.0, 1.0)   # +2/hour == +48/day, perfect fit
    assert got["flat"][0] == 0.0


def test_text_operators_survive_null_text(spark):
    """NULL text (a real production state after a failed extract) must
    not crash any text operator; the null doc simply yields no
    shingles/pairs. Regression: the minhash signature UDF called
    .split() on None."""
    from nabatshy_spark.operators import dedup, textanalysis

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, None), (3, "a b c d e")],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} == {(1, 3)}
    exact = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
    assert {(r.doc_a, r.doc_b) for r in exact.collect()} == {(1, 3)}
    assert textanalysis.text_stats(df, "doc_id", "text").count() == 3
    assert textanalysis.cross_doc_ngram_dup(df, "doc_id", "text").count() == 2


def test_embedding_dedup_survives_null_vectors(spark):
    """A NULL embedding row (failed encode) must not crash the blocked
    or clustered dedup; it simply never pairs."""
    from nabatshy_spark.operators import dedup

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, None), (2, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.embedding_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.45
        ).collect()
    }
    assert got == {(0, 2)}
    got_c = {
        (r.doc_a, r.doc_b)
        for r in dedup.embedding_dup_pairs_clustered(
            emb, "vec_id", "embedding", threshold=0.45, k=2
        ).collect()
    }
    assert got_c == {(0, 2)}


def test_bfs_hops_hand_graph(spark):
    """Chain with a shortcut: 1->2->3->4 plus 1->3; min hops win and
    unreachable nodes are absent."""
    from nabatshy_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (9, 1)], ["src", "dst"]
    )
    got = {(r.node, r.hop) for r in graph.bfs_hops(edges, source=1).collect()}
    # 9 is not reachable FROM 1 (only reaches 1); 3 via the shortcut
    assert got == {(1, 0), (2, 1), (3, 1), (4, 2)}


def test_session_paths_respect_boundaries(spark):
    """A lead n-gram must never cross a session boundary: two events
    36h apart are different sessions, so no path joins them."""
    import datetime as dt

    from nabatshy_spark.operators import sessions

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 100, t0, "a"),
        (1, 101, t0 + dt.timedelta(minutes=5), "b"),      # same session
        (1, 102, t0 + dt.timedelta(hours=36), "c"),       # new session
        (1, 103, t0 + dt.timedelta(hours=36, minutes=1), "d"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    got = {
        (r.path, r.n_occurrences)
        for r in sessions.top_session_paths(df, n=2, k=10).collect()
    }
    assert got == {("a>b", 1), ("c>d", 1)}
