"""Round-4 operator semantics: gaps-and-islands span coverage, EWMA
lag-pyramid, Zipf fit shape, image pixel-dedup grouping."""

from __future__ import annotations

from pyspark.sql import Row

from nabatshy_spark.operators import dedup, stats, textanalysis


def test_span_stats_merges_overlapping_windows(spark):
    # Two docs share a 25-char run -> 6 overlapping 20-gram windows in
    # each; the island union must count 25 chars, not 6*20.
    run = "abcdefghijklmnopqrstuvwxy"  # 25 chars
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=run + "1UNIQ-TAIL-AAAAAAAAAA"),
            Row(doc_id=2, text="2UNIQ-HEAD-BBBBBBBBBB" + run),
        ]
    )
    out = {
        r.doc_id: r
        for r in dedup.duplicate_span_stats(
            docs, dedup.dup_char_vocab(docs, "doc_id", "text", k=20),
            "doc_id", "text", k=20,
        ).collect()
    }
    assert out[1].dup_chars == 25
    assert out[2].dup_chars == 25


def test_span_stats_disjoint_islands_sum(spark):
    a = "A" * 9 + "abcdefghijklmnopqrst"  # dup window at tail
    b = "abcdefghijklmnopqrst" + "B" * 9 + "uvwxyz0123456789ABCD"
    c = "uvwxyz0123456789ABCD"
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=a), Row(doc_id=2, text=b), Row(doc_id=3, text=c)]
    )
    out = {
        r.doc_id: r
        for r in dedup.duplicate_span_stats(
            docs, dedup.dup_char_vocab(docs, "doc_id", "text", k=20),
            "doc_id", "text", k=20,
        ).collect()
    }
    # doc 2 has two disjoint 20-char duplicated islands
    assert out[2].dup_chars == 40
    assert out[1].dup_chars == 20 and out[3].dup_chars == 20


def test_ewma_weights_newest_heaviest(spark):
    import datetime as dt

    rows = [
        Row(
            user_id=1,
            ts=dt.datetime(2024, 1, 1, 0, 0, i),
            event_id=i,
            value=float(v),
        )
        for i, v in enumerate([0.0, 0.0, 8.0])
    ]
    df = spark.createDataFrame(rows)
    out = stats.ewma_last(df, "user_id", "ts", "value", "event_id").collect()
    assert len(out) == 1
    # weights 1, .5, .25 over values 8, 0, 0 -> 8/1.75
    assert abs(out[0].ewma_value - 8 / 1.75) < 1e-6
    assert out[0].n_events == 3


def test_ewma_single_event_is_identity(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [Row(user_id=7, ts=dt.datetime(2024, 1, 1), event_id=1, value=3.25)]
    )
    out = stats.ewma_last(df, "user_id", "ts", "value", "event_id").collect()
    assert out[0].ewma_value == 3.25


def test_zipf_slope_negative_on_skewed_counts(spark):
    # rank-1 term appears 64x, rank-2 32x, ... -> slope = -1 exactly in
    # log2 space; natural log keeps the ratio, slope -1.
    words = []
    for i, n in enumerate([64, 32, 16, 8, 4, 2, 1]):
        words.extend([f"w{i}"] * n)
    df = spark.createDataFrame([Row(doc_id=1, text=" ".join(words))])
    row = textanalysis.zipf_fit(df, "text", top_n=10).collect()[0]
    assert row.n_terms == 7
    assert row.zipf_slope < -0.8


def test_image_dup_groups_match_analytic(spark, sf_dir):
    from nabatshy_spark.plans.queries import QUERIES

    rows = QUERIES["image_dup_groups"](spark, sf_dir).collect()
    # 500 docs at sf0.01: ids x and x+256 share gray -> 244 groups of 2
    assert all(r.n_images == 2 for r in rows)
    assert len(rows) == 244


def test_dedup_keep_best_prefers_longest_then_min_id(spark):
    # Three mutual near-dups (shared 3-gram shingles): the survivor
    # must be the longest text; equal lengths tie-break to min doc_id.
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            Row(doc_id=10, text=base, n_chars=len(base)),
            Row(doc_id=11, text=base + " iota", n_chars=len(base) + 5),
            Row(doc_id=12, text=base, n_chars=len(base)),
        ]
    )
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 0.5)
    comp = dedup.connected_components(pairs)
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    sized = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    kept = (
        sized.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    )
    assert len(kept) == 1 and kept[0].doc_id == 11


def test_pq_shared_index_matches_per_probe_training(spark, sf_dir):
    # pq_topk with a caller-supplied trained index must return the
    # same neighbors as the self-training path (same deterministic
    # kmeans seeds), for every probe.
    from nabatshy_spark.catalog import load
    from nabatshy_spark.operators import similarity

    emb = load(spark, sf_dir, "embeddings").localCheckpoint(eager=False)
    books = similarity.pq_codebooks(emb, "vec_id", "embedding", dim=64)
    encoded = similarity.pq_encode(emb, "vec_id", "embedding", books).localCheckpoint(
        eager=False
    )
    for qid in (0, 3):
        solo = [
            r.vec_id
            for r in similarity.pq_topk(
                emb, "vec_id", "embedding", qid, k=5
            ).collect()
        ]
        shared = [
            r.vec_id
            for r in similarity.pq_topk(
                emb, "vec_id", "embedding", qid, k=5,
                books=books, encoded=encoded,
            ).collect()
        ]
        assert solo == shared


def test_ewma_all_null_values_yields_null_not_crash(spark):
    # A key whose every value is NULL has a zero weight denominator;
    # ANSI mode would raise DIVIDE_BY_ZERO on a plain division — the
    # operator must emit NULL for that key instead (try_divide).
    import datetime as dt

    ev = spark.createDataFrame(
        [
            Row(user_id=1, ts=dt.datetime(2024, 1, 1), value=None, event_id=1),
            Row(user_id=1, ts=dt.datetime(2024, 1, 2), value=2.0, event_id=2),
            Row(user_id=2, ts=dt.datetime(2024, 1, 1), value=None, event_id=3),
        ]
    )
    out = {
        r.user_id: r
        for r in stats.ewma_last(
            ev, "user_id", "ts", "value", "event_id"
        ).collect()
    }
    assert out[1].ewma_value == 2.0
    assert out[2].ewma_value is None


def test_log2_ms_bucket_boundaries(spark):
    # bucket = length(bin(ms+1))-1: ms 0 -> 0, 1..2 -> 1, 3..6 -> 2,
    # 7..14 -> 3 — powers of two minus one are the bucket edges.
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [Row(ms=0), Row(ms=1), Row(ms=2), Row(ms=3), Row(ms=6), Row(ms=7)]
    )
    got = {
        r.ms: r.b
        for r in df.select(
            "ms", (F.length(F.bin(F.col("ms") + 1)) - 1).alias("b")
        ).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 6: 2, 7: 3}


def test_curation_funnel_monotonic(spark):
    from nabatshy_spark.plans.queries import QUERIES

    rows = QUERIES["curation_funnel"](spark, "/root/testdata/sf0.001").collect()
    counts = [r.n_docs for r in sorted(rows, key=lambda r: r.stage_no)]
    assert len(counts) == 6
    # every stage can only reject documents
    assert all(a >= b for a, b in zip(counts, counts[1:]))


def test_top_endpoints_per_service_ranking(spark):
    import os

    os.environ.pop("NABATSHY_SPANS_PATH", None)
    from nabatshy_spark.plans.queries import QUERIES

    rows = QUERIES["spans_top_endpoints_per_service"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_service = {}
    for r in rows:
        by_service.setdefault(r.service, []).append(r)
    for svc, rs in by_service.items():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        avgs = [r.avg_ms for r in rs]
        assert avgs == sorted(avgs, reverse=True)
        assert len(rs) <= 3


def test_scd2_versions_collapse_runs_and_cover_timeline(spark):
    import datetime as dt

    from nabatshy_spark.operators.cdc import scd2_history

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(user_id=1, ts=t0 + dt.timedelta(minutes=m), event_type=t, event_id=i)
        for i, (m, t) in enumerate(
            [(0, "view"), (1, "view"), (2, "click"), (3, "click"),
             (4, "view"), (5, "view")]
        )
    ]
    out = sorted(
        scd2_history(
            spark.createDataFrame(rows), "user_id", "ts", "event_type",
            "event_id",
        ).collect(),
        key=lambda r: r.version,
    )
    # consecutive runs collapse: view(2) click(2) view(2) -> 3 versions
    assert [r.event_type for r in out] == ["view", "click", "view"]
    assert [r.n_events for r in out] == [2, 2, 2]
    # intervals tile the timeline: each valid_to == next valid_from
    for a, b in zip(out, out[1:]):
        assert a.valid_to_us == b.valid_from_us
    assert out[-1].is_current and out[-1].valid_to_us is None


def test_audience_overlap_bitmask_matches_sets(spark):
    import datetime as dt

    from nabatshy_spark.plans.queries import QUERIES

    # known memberships: view={1,2,3}, click={2,3}, purchase={3}
    rows = []
    eid = 0
    for u, types in [(1, ["view"]), (2, ["view", "click"]),
                     (3, ["view", "click", "purchase"])]:
        for t in types:
            rows.append(
                Row(event_id=eid, ts=dt.datetime(2024, 1, 1), user_id=u,
                    event_type=t, value=1.0, props="{}")
            )
            eid += 1
    import os, tempfile
    d = os.path.join(tempfile.gettempdir(), "nabatshy_overlap_fixture")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    # copy the other tables' paths is unnecessary: audience_overlap only
    # loads events
    out = {
        (r.type_a, r.type_b): (r.n_both, r.n_either, r.jaccard)
        for r in QUERIES["audience_overlap"](spark, d).collect()
    }
    assert out[("click", "view")] == (2, 3, round(2 / 3, 6))
    assert out[("purchase", "view")] == (1, 3, round(1 / 3, 6))
    assert out[("click", "purchase")] == (1, 2, 0.5)


def test_first_touch_attribution_prefers_earliest_in_window(spark):
    import datetime as dt
    import os, tempfile

    from nabatshy_spark.plans.queries import QUERIES

    t0 = dt.datetime(2024, 1, 2, 12, 0, 0)
    rows = [
        # user 1: view then click then purchase -> first touch = view
        Row(event_id=1, ts=t0, user_id=1, event_type="view", value=1.0, props="{}"),
        Row(event_id=2, ts=t0 + dt.timedelta(hours=1), user_id=1,
            event_type="click", value=1.0, props="{}"),
        Row(event_id=3, ts=t0 + dt.timedelta(hours=2), user_id=1,
            event_type="purchase", value=1.0, props="{}"),
        # user 2: stale view (>24h before), then purchase -> direct
        Row(event_id=4, ts=t0 - dt.timedelta(hours=30), user_id=2,
            event_type="view", value=1.0, props="{}"),
        Row(event_id=5, ts=t0, user_id=2, event_type="purchase", value=1.0,
            props="{}"),
    ]
    d = os.path.join(tempfile.gettempdir(), "nabatshy_attr_fixture")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    out = {
        r.channel: r.n_conversions
        for r in QUERIES["conversion_attribution"](spark, d).collect()
    }
    assert out == {"view": 1, "direct": 1}


def test_gini_extremes(spark):
    import os, tempfile

    from nabatshy_spark.plans.queries import QUERIES

    d = os.path.join(tempfile.gettempdir(), "nabatshy_gini_fixture")
    # perfectly equal: 10 customers, one order of 100 each -> gini ~ 0
    rows = [(i, i, "F", 100.0, None, "1-URGENT") for i in range(10)]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    r = QUERIES["revenue_gini"](spark, d).collect()[0]
    assert r.n_customers == 10 and abs(r.gini) < 1e-9
    assert r.top_decile_share == 0.1
