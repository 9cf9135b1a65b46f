"""Round-11 units: the document top-k ER contract, the shared
matched-pair artifacts, the cross-corpus broadcast fallback, and the
artifact-lifecycle hardening (ADVICE r10)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from nabatshy_spark import artifacts
from nabatshy_spark.operators import entity, suffixes



def test_cross_corpus_shuffle_fallback_same_result(spark, monkeypatch):
    """Above the bench-hash broadcast bound the probe downgrades to a
    plain shuffled semi-join (ADVICE r10: the forced broadcast collected
    an arbitrarily large set to the driver); results are identical —
    the gate is a physical-plan choice only."""
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text="A" * 10 + "the quick brown fox jumps over the lazy dog " * 3)]
    )
    bench = spark.createDataFrame(
        [Row(doc_id=9, text="the quick brown fox jumps over the lazy dog " * 3)]
    )
    base = suffixes.cross_corpus_substring_runs(
        corpus, bench, "doc_id", "text"
    ).collect()
    monkeypatch.setattr(suffixes, "_BENCH_BROADCAST_MAX_HASHES", 0)
    fallback = suffixes.cross_corpus_substring_runs(
        corpus, bench, "doc_id", "text"
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, fallback))
    assert len(base) >= 1


# ---------------------------------------------------------------------------
# document top-k ER
# ---------------------------------------------------------------------------


def _jac(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        w = t.split(" ")
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sa, sb = sh(a), sh(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def test_doc_topk_matches_reference_small(spark):
    """On a corpus where no cap binds, doc_topk_matches equals the
    brute-force per-doc top-k by exact shingle Jaccard."""
    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        2: "alpha beta gamma delta epsilon eta",
        3: "alpha beta gamma delta epsilon zeta",  # exact dup of 1
        4: "one two three four five six seven",
        5: "totally different words entirely here now",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    got = {
        (r.doc_id, r.rank): (r.match_id, r.jaccard)
        for r in entity.doc_topk_matches(docs).collect()
    }
    # brute-force reference
    import itertools

    edges = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        j = _jac(texts[a], texts[b])
        if j >= 0.5:
            edges.setdefault(a, []).append((b, j))
            edges.setdefault(b, []).append((a, j))
    want = {}
    for d, ms in edges.items():
        ms.sort(key=lambda x: (-x[1], x[0]))
        for rank, (m, j) in enumerate(ms[:3], start=1):
            want[(d, rank)] = (m, round(j, 6))
    assert {k: (m, round(j, 6)) for k, (m, j) in got.items()} == want


def test_doc_topk_rep_cap_binds_like_oracle(spark, tmp_path):
    """A 12-member exact-duplicate group exceeds rep_cap=8: candidates
    for each member are the 8 lowest-id representatives only. The
    DuckDB oracle encodes the identical cap, so the two sides agree
    exactly where the cap BINDS (the part-ER convention,
    test_er_topk_oracle_agrees_where_cap_binds)."""
    duckdb = pytest.importorskip("duckdb")
    from nabatshy_spark.plans.oracles import ORACLES

    rows = [
        Row(doc_id=i, text="alpha beta gamma delta epsilon zeta")
        for i in range(1, 13)
    ] + [
        Row(doc_id=50, text="one two three four five six"),
        Row(doc_id=51, text="one two three four five seven"),
    ]
    docs = spark.createDataFrame(rows)
    pq = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.parquet(pq)

    got = [
        (r.doc_id, r.match_id, r.rank, r.jaccard)
        for r in entity.doc_topk_matches(spark.read.parquet(pq)).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(ORACLES["er_doc_topk"]).fetchall()]
    assert sorted(got) == sorted(want)
    # the cap binds: a non-rep member (id 12) must see only reps 1..8
    partners = {m for d, m, _, _ in got if d == 12}
    assert partners <= set(range(1, 9)) and len(partners) == 3
    # ≤ k rows per doc always
    from collections import Counter

    per_doc = Counter(d for d, _, _, _ in got)
    assert max(per_doc.values()) <= 3


def test_part_topk_artifact_serves_identical_results(spark, sf_dir, monkeypatch, tmp_path):
    """shared_part_matches → directed_topk reproduces the direct
    operator bit-for-bit (raw scores survive parquet; ranking happens
    on the exact double)."""
    from nabatshy_spark.catalog import load

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    part = load(spark, sf_dir, "part")
    direct = entity.part_topk_matches(
        part, k=3, max_df=200, rep_cap=8
    ).collect()
    via_artifact = entity.directed_topk(
        entity.shared_part_matches(
            spark, sf_dir, threshold=0.8, rep_cap=8
        ),
        "score",
        "p_partkey",
        "match_key",
        3,
    ).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via_artifact))


def test_unified_matches_filters_equal_direct_builds(
    spark, sf_dir, monkeypatch, tmp_path
):
    """Round-11 unified part_matches artifact: every configuration it
    serves by FILTER must equal the per-config direct operator exactly
    — t0.9/rcNone is a score filter (candidate generation is
    threshold-independent above 0.7; the prune is recall-lossless) and
    t0.8/rcNone is the unified relation minus the flag column."""
    from nabatshy_spark.catalog import load

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    part = load(spark, sf_dir, "part")
    for thr, rc in [(0.9, None), (0.8, None)]:
        direct = entity.part_matched_pairs(
            part, threshold=thr, max_df=200, rep_cap=rc
        ).collect()
        via = entity.shared_part_matches(
            spark, sf_dir, threshold=thr, rep_cap=rc
        ).collect()
        assert sorted(map(tuple, direct)) == sorted(map(tuple, via)), (
            thr,
            rc,
        )


def test_doc_matches_artifact_serves_identical_results(
    spark, sf_dir, monkeypatch, tmp_path
):
    """shared_doc_matches → directed_topk reproduces the direct
    doc_topk_matches operator bit-for-bit (raw Jaccard survives
    parquet; ranking happens on the exact double)."""
    from nabatshy_spark.catalog import load

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    direct = entity.doc_topk_matches(load(spark, sf_dir, "documents")).collect()
    via_artifact = entity.directed_topk(
        entity.shared_doc_matches(spark, sf_dir),
        "jac",
        "doc_id",
        "match_id",
        3,
        score_out="jaccard",
    ).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via_artifact))


# ---------------------------------------------------------------------------
# artifact-lifecycle hardening (ADVICE r10)
# ---------------------------------------------------------------------------



def test_failed_build_cleans_staging(tmp_path, monkeypatch):
    """A raising builder leaves no staging tree behind (otherwise it
    lingers until the 1 h staging TTL and a later same-family miss)."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))

    def boom(staging):
        os.makedirs(staging)
        with open(os.path.join(staging, "part-0"), "w") as f:
            f.write("partial")
        raise RuntimeError("builder crashed")

    with pytest.raises(RuntimeError, match="builder crashed"):
        artifacts.ensure("fam", [], 1, {}, boom)
    assert list((tmp_path / "fam").iterdir()) == []


def test_sweep_quarantines_expired_entries(tmp_path):
    """TTL-expired published entries are renamed aside before deletion
    (never rmtree'd in place under a key path a racer could republish)."""
    old = tmp_path / "expired"
    old.mkdir()
    (old / "_SUCCESS").write_text("")
    past = 10_000
    os.utime(old, (os.stat(old).st_mtime - past,) * 2)
    artifacts._sweep(str(tmp_path), ttl=past / 2)
    assert not old.exists()
    assert list(tmp_path.iterdir()) == []


def test_shared_root_intermediate_is_0700(monkeypatch, tmp_path):
    """The per-user root itself (not just the family leaf) is created
    0700 even under a permissive umask."""
    import tempfile

    monkeypatch.delenv("SPARK_GRAFT_ARTIFACT_DIR", raising=False)
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    prev_umask = os.umask(0o000)
    try:

        def build(staging):
            os.makedirs(staging)
            open(os.path.join(staging, "_SUCCESS"), "w").close()

        artifacts.ensure("famx", [], 1, {}, build)
    finally:
        os.umask(prev_umask)
    root = os.path.join(str(tmp_path), f"nabatshy_artifacts_{os.getuid()}")
    assert os.stat(root).st_mode & 0o077 == 0
    assert os.stat(os.path.join(root, "famx")).st_mode & 0o077 == 0


def test_shared_postings_pruned_reads_equal_direct_build(
    spark, sf_dir, monkeypatch, tmp_path
):
    """Round-11 postings layout artifact: the bucket-pruned read must
    serve every search surface identically to the inline postings
    build — the prune is a superset filter (driver-side crc32 bucket
    twin), and tf/dl are integers, exact through parquet."""
    from nabatshy_spark.catalog import load
    from nabatshy_spark.operators import invindex

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    docs = load(spark, sf_dir, "documents")
    direct_p = invindex.build_postings(docs, "doc_id", "text")
    direct_dl = docs.selectExpr(
        "doc_id as doc", "size(split(text, ' ')) as dl"
    )
    terms = ["join", "hash", "vector"]
    art_p, art_dl = invindex.shared_postings(spark, sf_dir, terms=terms)
    # bucket prune is a superset of the term filter: term-filtered
    # relations must match exactly
    d = direct_p.filter(direct_p.term.isin(terms)).collect()
    a = art_p.filter(art_p.term.isin(terms)).collect()
    assert sorted(map(tuple, d)) == sorted(map(tuple, a))
    assert sorted(map(tuple, direct_dl.collect())) == sorted(
        map(tuple, art_dl.collect())
    )
    # end-to-end: BM25 over artifact == BM25 over inline build
    d_bm = invindex.search_bm25(direct_p, direct_dl, terms).collect()
    a_bm = invindex.search_bm25(art_p, art_dl, terms).collect()
    assert [tuple(r) for r in d_bm] == [tuple(r) for r in a_bm]
    # driver-side bucket twin really is the layout's bucket fn
    from pyspark.sql import functions as F

    onedf = spark.createDataFrame(
        [Row(term=t) for t in ["join", "hash", "vector", "zzz", "énergie"]]
    ).select(
        "term",
        (F.crc32(F.col("term")) % invindex._N_TERM_BUCKETS)
        .cast("int")
        .alias("b"),
    )
    for r in onedf.collect():
        assert r.b == invindex._term_bucket_py(r.term)
