"""Round-12 units: the artifact-served corpus index for incremental
dedup, the shared MinHash signature relation (incl. the prefix-stable
hash-family property every multi-budget consumer relies on), the
curation flag artifact, the hot-chunk artifact + one-pass scrub, the
uncapped pair artifact for the doc-ER eval gate, and the
curated-vs-corpus pair-key disambiguation (ADVICE r11 high)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nabatshy_spark.operators import dedup, textanalysis


def test_incremental_corpus_index_serves_identical_results(
    spark, sf_dir, monkeypatch, tmp_path
):
    """incremental_dedup with the fingerprint-keyed corpus index must
    equal the inline derivation exactly — every index relation is a
    deterministic function of the corpus (digests / shingles / counts),
    parquet-exact."""
    from nabatshy_spark.catalog import load

    monkeypatch.setenv("SPARK_GRAFT_INCR_DIR", str(tmp_path))
    docs = load(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 < 2)
    corpus = docs.filter(F.col("doc_id") % 10 >= 2)
    inline = dedup.incremental_dedup(
        corpus, batch, "doc_id", "text", n=3, threshold=0.5, max_df=200
    ).collect()
    via = dedup.incremental_dedup(
        corpus, batch, "doc_id", "text", n=3, threshold=0.5, max_df=200,
        corpus_index=dedup.shared_incremental_corpus_index(
            spark, sf_dir, n=3, max_df=200, mod=10, batch_lt=2
        ),
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, via))
    assert len(inline) > 0
    spark.catalog.clearCache()


def test_hash_family_is_prefix_stable():
    """family(k) == family(K)[:k] for the seeded rng stream — the
    property that lets ONE 128-hash signature artifact serve the 32-
    and 64-hash eval configs as prefixes."""
    fam128 = dedup._hash_family(128)
    assert dedup._hash_family(32) == fam128[:32]
    assert dedup._hash_family(64) == fam128[:64]


@pytest.mark.parametrize("num_hashes", [128, 64])
def test_minhash_sig_artifact_serves_identical_pairs(
    spark, sf_dir, monkeypatch, tmp_path, num_hashes
):
    """minhash_lsh_pairs fed the 128-hash signature artifact must equal
    the inline UDF stage at every budget ≤ 128 (prefix-stable family;
    banding reads only indices below the budget)."""
    from nabatshy_spark.catalog import load

    monkeypatch.setenv("SPARK_GRAFT_MINHASH_DIR", str(tmp_path))
    docs = load(spark, sf_dir, "documents")
    inline = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5,
        num_hashes=num_hashes, rows_per_band=2,
    ).collect()
    via = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5,
        num_hashes=num_hashes, rows_per_band=2,
        sig_override=dedup.shared_minhash_signatures(
            spark, sf_dir, n=3, num_hashes=128
        ),
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, via))
    assert len(inline) > 0
    spark.catalog.clearCache()


def test_curation_flags_artifact_matches_inline(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The flag artifact rows equal the inline predicate evaluation —
    booleans + sha256 of kept docs, parquet-exact."""
    from nabatshy_spark.catalog import load

    monkeypatch.setenv("SPARK_GRAFT_PAIRS_DIR", str(tmp_path))
    docs = load(spark, sf_dir, "documents")
    qpred = textanalysis.quality_score_expr(F.col("text")) >= 0.6
    lpred = textanalysis.pred_lang_expr(F.col("text")) == "en"
    inline = docs.select(
        "doc_id",
        qpred.alias("__q"),
        (qpred & lpred).alias("__k"),
        F.when(qpred & lpred, dedup.fingerprint(F.col("text"))).alias("__fp"),
    ).collect()
    via = dedup.shared_curation_flags(spark, sf_dir).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, via))


def test_curated_pairs_build_from_flags_identical(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The curated-pair build that derives its survivor base from the
    flag artifact equals the pre-round-12 inline derivation (filter →
    exact_dedup → semi-join → posting join) exactly."""
    from nabatshy_spark.catalog import load

    monkeypatch.setenv("SPARK_GRAFT_PAIRS_DIR", str(tmp_path))
    docs = load(spark, sf_dir, "documents")
    kept = docs.filter(
        (textanalysis.quality_score_expr(F.col("text")) >= 0.6)
        & (textanalysis.pred_lang_expr(F.col("text")) == "en")
    )
    exact_sur = dedup.exact_dedup(kept, "doc_id", "text").select("doc_id")
    sur_docs = kept.join(exact_sur, "doc_id", "left_semi")
    inline = dedup.ngram_jaccard_pairs(
        sur_docs, "doc_id", "text", n=3, threshold=0.5, max_df=200
    ).collect()
    via = dedup.shared_curated_pairs(
        spark, sf_dir, n=3, threshold=0.5, max_df=200
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, via))
    spark.catalog.clearCache()


def test_curated_and_corpus_pair_keys_disambiguated(
    spark, sf_dir, monkeypatch, tmp_path
):
    """ADVICE r11 (high): under a shared SPARK_GRAFT_PAIRS_DIR the
    curated and corpus-wide pair artifacts at identical parameters must
    occupy DIFFERENT paths — before the key prefix they collided and
    whichever built first was silently served to the other's
    consumers."""
    monkeypatch.setenv("SPARK_GRAFT_PAIRS_DIR", str(tmp_path))
    corpus_pairs = dedup.shared_ngram_pairs(
        spark, sf_dir, n=3, threshold=0.5, max_df=200
    ).collect()
    curated_pairs = dedup.shared_curated_pairs(
        spark, sf_dir, n=3, threshold=0.5, max_df=200
    ).collect()
    # distinct artifact dirs were published for the two relations
    published = {
        p.name
        for p in tmp_path.iterdir()
        if p.is_dir() and not p.name.startswith("nabatshy")
    }
    assert any(k.startswith("curated_") for k in published)
    assert len(published) >= 3  # corpus pairs + curated pairs + flags
    # and the curated relation is the curated SUBSET's pairs, not the
    # corpus-wide relation (strict subset on this corpus)
    assert sorted(map(tuple, curated_pairs)) != sorted(
        map(tuple, corpus_pairs)
    )
    spark.catalog.clearCache()


def test_uncapped_pair_artifact_matches_inline(
    spark, sf_dir, monkeypatch, tmp_path
):
    """shared_ngram_pairs(max_df=None) — the doc-ER eval gate's truth
    side (round 12) — equals the inline uncapped operator exactly."""
    from nabatshy_spark.catalog import load

    monkeypatch.setenv("SPARK_GRAFT_PAIRS_DIR", str(tmp_path))
    inline = dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.5, max_df=None,
    ).collect()
    via = dedup.shared_ngram_pairs(
        spark, sf_dir, n=3, threshold=0.5, max_df=None
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, via))
    assert len(inline) > 0
    spark.catalog.clearCache()


def test_hot_chunk_artifact_and_one_pass_scrub_identical(
    spark, sf_dir, monkeypatch, tmp_path
):
    """boilerplate_scrub with the hot-chunk artifact (one exploded pass,
    flag-and-aggregate) equals the self-derived two-pass form row for
    row — including docs whose every chunk is hot and docs with no
    chunks."""
    from nabatshy_spark.catalog import load

    monkeypatch.setenv("SPARK_GRAFT_CHUNKS_DIR", str(tmp_path))
    docs = load(spark, sf_dir, "documents")
    inline = textanalysis.boilerplate_scrub(
        docs, "doc_id", "text", chunk_words=5, max_docs=2
    ).collect()
    via = textanalysis.boilerplate_scrub(
        docs, "doc_id", "text", chunk_words=5, max_docs=2,
        hot_override=textanalysis.shared_hot_chunks(
            spark, sf_dir, chunk_words=5, max_docs=2
        ),
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, via))
    assert len(inline) > 0


def test_substr_runs_artifact_two_level_identical(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The substr-runs artifact derived from the level-1 dup-window
    posting relation equals the direct operator exactly (round 12,
    VERDICT r11 task #7: posts = level-1 filtered to the df cap IS
    wins ⋈ {h: ≥2 docs ∧ c ≤ cap})."""
    from nabatshy_spark.catalog import load
    from nabatshy_spark.operators import suffixes

    monkeypatch.setenv("SPARK_GRAFT_SUBSTR_DIR", str(tmp_path))
    docs = load(spark, sf_dir, "documents")
    handles = []
    direct = suffixes.duplicated_substring_runs(
        docs, "doc_id", "text", min_len=50, max_df=200, _handles=handles
    ).collect()
    via = suffixes.shared_substring_runs(spark, sf_dir, 50, 200).collect()
    for h in handles:
        h.unpersist()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via))
    spark.catalog.clearCache()


def test_decon_runs_artifact_two_level_identical(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The decontamination-runs artifact derived from level-1 equals
    the generic cross-corpus operator over the split relations exactly
    — the dup restriction loses no shared hash (a leak pair is two
    distinct docs) and the post-prune df cap counts the same rows."""
    from nabatshy_spark.catalog import load
    from nabatshy_spark.operators import sampling, suffixes

    monkeypatch.setenv("SPARK_GRAFT_SUBSTR_DIR", str(tmp_path))
    docs = load(spark, sf_dir, "documents")
    splits = sampling.split_corpus(
        docs, "doc_id", train_bps=62259, val_bps=1638
    )
    train = splits.filter(F.col("split") == "train")
    test = splits.filter(F.col("split") == "test")
    handles = []
    direct = suffixes.cross_corpus_substring_runs(
        train, test, "doc_id", "text", min_len=50, max_df=200,
        _handles=handles,
    ).collect()
    via = suffixes.shared_decontamination_runs(
        spark, sf_dir, min_len=50, max_df=200,
        train_bps=62259, val_bps=1638,
    ).collect()
    for h in handles:
        h.unpersist()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via))
    spark.catalog.clearCache()


def test_dup_char_vocab_serves_both_window_queries_identically(
    spark, sf_dir, monkeypatch, tmp_path
):
    """duplicate_ngram_coverage and duplicate_span_stats fed the shared
    duplicated-vocabulary artifact equal their self-derived forms row
    for row (same df ≥ 2 definition in both; dup_windows = count of
    window positions probing the vocabulary = Σ occurrence counts)."""
    from nabatshy_spark.catalog import load

    monkeypatch.setenv("SPARK_GRAFT_PAIRS_DIR", str(tmp_path))
    docs = load(spark, sf_dir, "documents")
    vocab = dedup.shared_dup_char_vocab(spark, sf_dir, k=20)
    for fn in (dedup.duplicate_ngram_coverage, dedup.duplicate_span_stats):
        inline = fn(docs, "doc_id", "text", k=20).collect()
        via = fn(
            docs, "doc_id", "text", k=20, dup_vocab_override=vocab
        ).collect()
        assert sorted(map(tuple, inline)) == sorted(map(tuple, via)), fn
        assert len(inline) > 0


def test_nested_build_times_are_exclusive(tmp_path):
    """A build that ensure()s another artifact records its OWN seconds
    only — the child's wall is charged to the child's line, so
    BENCH_DETAIL's artifact_build_sec sums to true wall (round 12:
    substr/decon derive from the level-1 dup-window artifact,
    curated_pairs reads the curation flags)."""
    import os
    import time

    from nabatshy_spark import artifacts

    def child_build(st):
        os.makedirs(st)
        time.sleep(0.3)
        open(os.path.join(st, "_SUCCESS"), "w").close()

    def parent_build(st):
        artifacts.ensure(
            "r12childfam", "k", child_build, base=str(tmp_path / "c")
        )
        os.makedirs(st)
        open(os.path.join(st, "_SUCCESS"), "w").close()

    artifacts.ensure("r12parentfam", "k", parent_build, base=str(tmp_path / "p"))
    assert artifacts.BUILD_TIMES["r12childfam/k"] >= 0.3
    assert artifacts.BUILD_TIMES["r12parentfam/k"] < 0.3


def test_one_pass_scrub_all_hot_and_empty_docs(spark):
    """Edge rows of the flag-and-aggregate restructure: a doc whose
    every chunk is boilerplate yields (n_kept=0, clean_md5=md5('')),
    and an empty doc never reaches the group-by but still reports via
    the base left join."""
    import hashlib

    boiler = "one two three four five"
    rows = [
        Row(doc_id=1, text=boiler),
        Row(doc_id=2, text=boiler),
        Row(doc_id=3, text=boiler),
        Row(doc_id=4, text=boiler),  # all-hot doc (df=4 > 2)
        Row(doc_id=5, text=""),  # no chunks at all
        Row(doc_id=6, text=boiler + " unique tail words here"),
    ]
    out = {
        r.doc_id: r
        for r in textanalysis.boilerplate_scrub(
            spark.createDataFrame(rows), "doc_id", "text"
        ).collect()
    }
    empty_md5 = hashlib.md5(b"").hexdigest()
    assert out[1].n_kept == 0 and out[1].clean_md5 == empty_md5
    assert out[5].n_chunks == 1 or out[5].n_chunks == 0
    # doc 6 keeps its unique tail chunk(s) only
    assert out[6].n_removed >= 1 and out[6].n_kept >= 1
    assert out[6].clean_md5 != empty_md5


def test_critical_path_grouped_vectorized_random_forest(spark):
    """The vectorized per-bucket DP must equal the iterative-join form
    on an adversarial forest: duplicate span ids ACROSS traces (the
    (trace, span) key-width case), orphan parent references, multiple
    roots per trace, and shuffled row order."""
    import random

    from nabatshy_spark.operators.spans import (
        critical_path,
        critical_path_grouped,
    )

    rng = random.Random(12)
    rows = []
    for t in range(120):
        tid = f"t{t:03d}"
        k = rng.randint(1, 12)
        for s in range(k):
            sid = f"s{s:02d}"  # same ids reused in every trace
            if s == 0:
                parent = ""
            elif rng.random() < 0.05:
                parent = "missing-parent"  # orphan subtree top
            elif rng.random() < 0.1:
                parent = ""  # extra root
            else:
                parent = f"s{rng.randint(0, s - 1):02d}"
            rows.append(
                Row(
                    trace_id=tid,
                    span_id=sid,
                    parent_span_id=parent,
                    duration_ns=rng.randint(1_000, 9_999_999),
                )
            )
    rng.shuffle(rows)
    df = spark.createDataFrame(rows)
    a = {r.trace_id: r.critical_ms for r in critical_path(df).collect()}
    b = {
        r.trace_id: r.critical_ms
        for r in critical_path_grouped(df, buckets=7).collect()
    }
    assert a == b


def test_bipartite_core_prune_edges_distinct_identical(spark):
    """edges_distinct=True on a pre-distincted relation must give the
    same per-round audit rows as the default path on the raw
    (duplicated) edge relation."""
    import random

    from nabatshy_spark.operators.graph import bipartite_core_prune

    rng = random.Random(7)
    rows = [
        Row(part=rng.randint(0, 30), cust=rng.randint(0, 30))
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows)
    base = [
        tuple(r)
        for r in bipartite_core_prune(
            df, "part", "cust", k=3, rounds=3
        ).collect()
    ]
    pre = [
        tuple(r)
        for r in bipartite_core_prune(
            df.distinct(), "part", "cust", k=3, rounds=3, edges_distinct=True
        ).collect()
    ]
    assert base == pre


def test_dictionary_advisor_empty_tables(spark, sf_dir, tmp_path):
    """The one-pass stacked rewrite must preserve the empty-ingest
    contract (ADVICE r11): every profiled column still reports a row
    with n_rows = 0, ndv = 0, NULL byte stats and the 'plain' verdict
    even when its table has no rows (the stacked relation alone would
    simply drop the column; the literal spine restores it)."""
    from nabatshy_spark.catalog import load
    from nabatshy_spark.plans.queries import QUERIES

    for t in ("orders", "customer", "part", "lineitem"):
        load(spark, sf_dir, t).limit(0).write.mode("overwrite").parquet(
            str(tmp_path / f"{t}.parquet")
        )
    rows = {
        r.column_name: r
        for r in QUERIES["dictionary_encoding_advisor"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(rows) == 9
    for r in rows.values():
        assert r.n_rows == 0 and r.ndv == 0
        assert r.plain_bytes is None and r.dict_bytes is None
        assert r.avg_len is None and r.recommend == "plain"


def test_column_stats_profile_empty_table(spark, sf_dir, tmp_path):
    """The typed-stack rewrite must preserve the union-of-globals
    empty-table contract: zero lineitem rows still yield one row per
    profiled column with ndv = 0 and NULL n_nulls/min/max."""
    from nabatshy_spark.catalog import load
    from nabatshy_spark.plans.queries import QUERIES
    from nabatshy_spark.plans.relational_queries import _STATS_COLS

    load(spark, sf_dir, "lineitem").limit(0).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))
    rows = {
        r.col_name: r
        for r in QUERIES["column_stats_profile"](
            spark, str(tmp_path)
        ).collect()
    }
    assert sorted(rows) == sorted(_STATS_COLS)
    for r in rows.values():
        assert r.ndv == 0
        assert r.n_nulls is None
        assert r.min_value is None and r.max_value is None
