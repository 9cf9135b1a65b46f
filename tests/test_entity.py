"""Entity resolution (operators/entity.py) and duplicated-window
coverage (dedup.duplicate_ngram_coverage) unit tests on tiny frames —
the oracle sweep covers the sf0.01 parity; these pin semantics."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from nabatshy_spark.operators import dedup, entity


def _parts(spark, rows):
    return spark.createDataFrame(
        [Row(p_partkey=i, p_name=n, p_brand=b, p_size=s) for i, n, b, s in rows]
    )


def test_score_pairs_exact_match(spark):
    df = _parts(
        spark,
        [
            (1, "red widget", "Brand#1", 10),
            (2, "red widget", "Brand#1", 10),
            (3, "blue bolt", "Brand#2", 30),
        ],
    )
    out = entity.score_part_pairs(df, threshold=0.8).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.name_jaccard == 1.0 and r.brand_eq == 1 and r.score == 1.0


def test_score_pairs_brand_mismatch_drops_below_threshold(spark):
    df = _parts(
        spark,
        [
            (1, "red widget", "Brand#1", 10),
            (2, "red widget", "Brand#2", 10),
        ],
    )
    # 0.5*1.0 + 0.3*0 + 0.2*1.0 = 0.7 < 0.8
    assert entity.score_part_pairs(df, threshold=0.8).count() == 0
    assert entity.score_part_pairs(df, threshold=0.7).count() == 1


def test_max_df_cap_drops_stop_tokens(spark):
    # "common" appears in every row; with max_df=2 it cannot generate
    # candidates, and the remaining tokens are all distinct -> no pairs.
    df = _parts(
        spark,
        [
            (1, "common alpha", "B", 1),
            (2, "common beta", "B", 1),
            (3, "common gamma", "B", 1),
        ],
    )
    assert entity.blocked_candidate_pairs(df, "p_partkey", "p_name").count() == 3
    assert (
        entity.blocked_candidate_pairs(df, "p_partkey", "p_name", max_df=2).count()
        == 0
    )


def test_clusters_include_singletons(spark):
    df = _parts(
        spark,
        [
            (1, "red widget", "Brand#1", 10),
            (2, "red widget", "Brand#1", 10),
            (3, "blue bolt", "Brand#2", 30),
        ],
    )
    hist = {
        r.cluster_size: r.n_clusters
        for r in entity.part_entity_clusters(df).collect()
    }
    assert hist == {1: 1, 2: 1}


def test_duplicate_ngram_coverage_semantics(spark):
    shared = "0123456789abcdefghij"  # one 20-char window
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=shared),
            Row(doc_id=2, text=shared + "XYZ"),
            Row(doc_id=3, text="completely different text padding!!"),
            Row(doc_id=4, text="short"),  # < k, excluded
        ]
    )
    out = {
        r.doc_id: r
        for r in dedup.duplicate_ngram_coverage(
            docs, dedup.dup_char_vocab(docs, "doc_id", "text"), "doc_id", "text"
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1].n_windows == 1 and out[1].dup_windows == 1
    assert out[1].dup_coverage == 1.0
    # doc 2 has 4 windows, only the first equals doc 1's window
    assert out[2].n_windows == 4 and out[2].dup_windows == 1
    assert out[3].dup_windows == 0


def test_within_doc_repeat_is_not_cross_doc_duplication(spark):
    rep = "0123456789abcdefghij"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=rep + rep),  # window repeats inside one doc
            Row(doc_id=2, text="zz" + "y" * 30),
        ]
    )
    out = {
        r.doc_id: r
        for r in dedup.duplicate_ngram_coverage(
            docs, dedup.dup_char_vocab(docs, "doc_id", "text"), "doc_id", "text"
        ).collect()
    }
    assert out[1].dup_windows == 0


def test_capped_blocking_equals_exhaustive_at_high_threshold(spark):
    # On a catalog where EVERY token is above the df cap (the
    # low-cardinality regime that melts pure token blocking), the
    # capped multi-pass result must still equal the exhaustive
    # (max_df=None) result for thresholds that force token-set
    # equality — the canonical-name pass carries those pairs.
    from pyspark.sql import Row

    rows = []
    for i in range(30):
        rows.append(
            Row(
                p_partkey=i,
                p_name="red plate" if i % 2 == 0 else "blue plate",
                p_brand=f"Brand#{i % 3}",
                p_size=(i % 7) + 1,
            )
        )
    df = spark.createDataFrame(rows)
    exhaustive = {
        (r.id_a, r.id_b, r.score)
        for r in entity.score_part_pairs(df, threshold=0.8).collect()
    }
    capped = {
        (r.id_a, r.id_b, r.score)
        for r in entity.score_part_pairs(df, threshold=0.8, max_df=5).collect()
    }
    assert exhaustive and capped == exhaustive


def test_part_topk_matches_bounded_and_consistent(spark):
    """Round-10 bounded ER surface: ≤ k rows per record; rank ordered by
    (score desc, match_key asc); where the rep cap does NOT bind, the
    top-k equals the exhaustive relation's per-record top-k."""
    rows = []
    for i in range(40):
        rows.append(
            Row(
                p_partkey=i,
                p_name="red plate" if i % 2 == 0 else "blue plate",
                p_brand=f"Brand#{i % 2}",
                p_size=(i % 9) + 1,
            )
        )
    df = spark.createDataFrame(rows)
    k = 3
    got = entity.part_topk_matches(
        df, k=k, max_df=200, rep_cap=100  # cap unbound
    ).collect()
    per = {}
    for r in got:
        per.setdefault(r.p_partkey, []).append(r)
    # exhaustive reference: all matched pairs, both directions
    pairs = entity.score_part_pairs(df, threshold=0.8).collect()
    directed = {}
    for p in pairs:
        directed.setdefault(p.id_a, []).append((p.id_b, p.score))
        directed.setdefault(p.id_b, []).append((p.id_a, p.score))
    for rec, lst in per.items():
        assert len(lst) <= k
        lst.sort(key=lambda r: r.rank)
        want = sorted(directed[rec], key=lambda t: (-t[1], t[0]))[:k]
        assert [(r.match_key, r.score) for r in lst] == [
            (m, round(s, 6)) for m, s in want
        ]
    # every record with at least one match appears
    assert set(per) == set(directed)


def test_part_topk_rep_cap_bounds_candidates(spark):
    """With the rep cap binding, every record still gets up to k matches
    drawn from its group's lowest-id representatives — output stays
    ≤ N·k and non-rep×non-rep pairs are (by contract) not emitted."""
    rows = [
        Row(p_partkey=i, p_name="same name", p_brand="B", p_size=5)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows)
    got = entity.part_topk_matches(
        df, k=3, max_df=2, rep_cap=4
    ).collect()
    per = {}
    for r in got:
        per.setdefault(r.p_partkey, set()).add(r.match_key)
    assert len(got) <= 30 * 3
    reps = {0, 1, 2, 3}
    for rec, matches in per.items():
        assert len(matches) <= 3
        if rec not in reps:
            # non-reps only ever match representatives
            assert matches <= reps
        # identical rows → every match scores 1.0
    assert all(r.score == 1.0 for r in got)


def test_er_topk_oracle_agrees_where_cap_binds(spark, tmp_path):
    """Cross-engine proof AT a binding rep cap: a 30-record
    identical-name group (rep_cap=8 < 29 partners) must produce the
    same top-k relation from the Spark operator and the DuckDB oracle
    SQL — the sf0.01 driver differential never exercises the cap, so
    this pins the capped branch both engines encode."""
    import duckdb

    from nabatshy_spark.plans.oracles import ORACLES

    rows = [
        Row(
            p_partkey=i,
            p_name="same name",
            p_brand="B" if i % 2 == 0 else "C",
            p_size=(i * 7) % 23,
        )
        for i in range(30)
    ]
    df = spark.createDataFrame(rows)
    pq = str(tmp_path / "part.parquet")
    df.coalesce(1).write.parquet(pq)
    got = sorted(
        tuple(str(x) for x in r)
        for r in entity.part_topk_matches(
            df, k=3, max_df=200, rep_cap=8
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW part AS SELECT * FROM '{pq}/*.parquet'")
    want = sorted(
        tuple(str(x) for x in r)
        for r in con.execute(ORACLES["er_part_topk"]).fetchall()
    )
    assert got == want and len(got) > 0
