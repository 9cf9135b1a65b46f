"""Round-9 operator tests: the shared n-gram pair materialization."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nabatshy_spark.catalog import load
from nabatshy_spark.operators import dedup, suffixes


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_shared_ngram_pairs_identical_to_direct(spark, sf_dir, tmp_path):
    """The materialized relation must be byte-identical to the direct
    operator output — same pairs, same exact jaccard doubles."""
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = str(tmp_path / "pairs")
    try:
        direct = dedup.ngram_jaccard_pairs(
            load(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            threshold=0.5,
            max_df=200,
        )
        shared = dedup.shared_ngram_pairs(spark, sf_dir)
        assert dict(shared.dtypes) == dict(direct.dtypes)
        assert _rows(shared) == _rows(direct)
        # second call is a pure read (no rebuild): the artifact dir is
        # unchanged and still carries its _SUCCESS marker
        fam_dir = str(tmp_path / "pairs" / "ngram_pairs")
        key_dirs = os.listdir(fam_dir)
        assert len(key_dirs) == 1
        before = os.stat(
            os.path.join(fam_dir, key_dirs[0], "_SUCCESS")
        ).st_mtime_ns
        again = dedup.shared_ngram_pairs(spark, sf_dir)
        assert _rows(again) == _rows(direct)
        after = os.stat(
            os.path.join(fam_dir, key_dirs[0], "_SUCCESS")
        ).st_mtime_ns
        assert before == after
    finally:
        del os.environ["SPARK_GRAFT_ARTIFACT_DIR"]


def test_shared_ngram_pairs_key_varies_with_params(spark, sf_dir, tmp_path):
    """Different operator parameters must map to different artifacts —
    a threshold change may NOT serve stale pairs."""
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = str(tmp_path / "pairs")
    try:
        p05 = dedup.shared_ngram_pairs(spark, sf_dir, threshold=0.5)
        p09 = dedup.shared_ngram_pairs(spark, sf_dir, threshold=0.9)
        assert len(os.listdir(str(tmp_path / "pairs" / "ngram_pairs"))) == 2
        n05 = p05.count()
        n09 = p09.count()
        assert n09 <= n05
        assert (
            p09.filter(F.col("jaccard") < 0.9).count() == 0
        )
    finally:
        del os.environ["SPARK_GRAFT_ARTIFACT_DIR"]


# ---------------------------------------------------------------------------
# exact-substring dedup (operators/suffixes.py)
# ---------------------------------------------------------------------------


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_planted_duplicate_exact_length(spark):
    """A planted 200-char exact duplicate must be recovered with its
    EXACT length and positions — the window-run reconstruction is exact
    for maximal shared regions (module docstring proof)."""
    from nabatshy_spark.operators import suffixes

    dup = "X" .join(f"tok{i}" for i in range(40))[:200]
    assert len(dup) == 200
    a = "left-unique-prefix-aaaaaaaaaaaaaaaa " + dup + " right-unique-suffix-aaaa"
    b = "completely different start bbbbbbbbb " + dup + " other ending bbbbbbbbbb"
    c = "no duplicate content here at all, just filler text to stay realistic"
    out = suffixes.duplicated_substring_runs(
        _mkdocs(spark, [(1, a), (2, b), (3, c)]), "doc_id", "text", min_len=50
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.dup_len == 202  # planted 200 chars + the shared ' ' on each side
    assert a[r.pos_a - 1 : r.pos_a - 1 + r.dup_len] == b[
        r.pos_b - 1 : r.pos_b - 1 + r.dup_len
    ]


def test_planted_duplicate_excludes_same_doc_and_short(spark):
    """Same-doc repeats and sub-threshold (<min_len) overlaps must not
    produce runs."""
    from nabatshy_spark.operators import suffixes

    chunk = "z".join(str(i) for i in range(60))[:120]
    same_doc = f"{chunk} middle filler goes here {chunk}"
    short_shared = "shared-30-chars-abcdefghijklmn"
    assert len(short_shared) < 50
    d1 = short_shared + " unique tail one that is long enough to window over ok"
    d2 = short_shared + " different tail two also long enough to window over yes"
    out = suffixes.duplicated_substring_runs(
        _mkdocs(spark, [(1, same_doc), (2, d1), (3, d2)]),
        "doc_id",
        "text",
        min_len=50,
    ).collect()
    assert out == []


def test_two_disjoint_runs_same_pair(spark):
    """Two separate duplicated regions between one doc pair must come
    back as two runs, not merge."""
    from nabatshy_spark.operators import suffixes

    r1 = "A".join(f"w{i}" for i in range(30))[:80]
    r2 = "B".join(f"v{i}" for i in range(30))[:80]
    a = f"start-one {r1} gap-unique-alpha-alpha-alpha {r2} tail-one-unique"
    b = f"begin-two {r1} gap-unique-beta-beta-beta-bb {r2} tail-two-unique"
    out = sorted(
        suffixes.duplicated_substring_runs(
            _mkdocs(spark, [(1, a), (2, b)]), "doc_id", "text", min_len=50
        ).collect(),
        key=lambda r: r.pos_a,
    )
    assert len(out) == 2
    for r in out:
        assert a[r.pos_a - 1 : r.pos_a - 1 + r.dup_len] == b[
            r.pos_b - 1 : r.pos_b - 1 + r.dup_len
        ]


def test_substring_recall_vs_ngram_signal(spark, sf_dir):
    """Recall floor vs the fixed-n signal on the real fixture: every
    near-dup pair found by 3-gram Jaccard >= 0.5 shares long verbatim
    spans in this corpus, so the ExactSubstr runs must cover (at least)
    a large majority of those pairs; and every reported run is exactly
    duplicated by construction (verified in-operator)."""
    from nabatshy_spark.catalog import load
    from nabatshy_spark.operators import dedup, suffixes

    docs = load(spark, sf_dir, "documents")
    jacc = {
        (r.doc_a, r.doc_b)
        for r in dedup.shared_ngram_pairs(spark, sf_dir).collect()
    }
    runs = {
        (r.doc_a, r.doc_b)
        for r in suffixes.duplicated_substring_runs(
            docs, "doc_id", "text", min_len=50, max_df=200
        ).collect()
    }
    assert jacc, "fixture should contain near-dup pairs"
    recall = len(jacc & runs) / len(jacc)
    assert recall >= 0.8, f"ExactSubstr recall vs n-gram signal: {recall}"


def test_exactsubstr_cut_keep_first_and_merge(spark):
    """Cut-plan semantics: the lower-id occurrence survives, a span
    duplicated by several partners is cut (and counted) once, and
    applying the plan leaves NO cross-document >=min_len duplicate in
    the rewritten corpus — Lee et al.'s termination property."""
    from nabatshy_spark.operators import suffixes

    block_a = "A".join(f"qq{i}" for i in range(40))[:180]
    block_b = "B".join(f"rr{i}" for i in range(40))[:180]
    d1 = f"doc-one-unique-head {block_a} doc-one-unique-tail-xxxxxx"
    d2 = f"doc-two-start {block_a} doc-two-middle-unique {block_b} two-end"
    d3 = f"three-begin {block_b} three-mid-unique-yyyyyyyy {block_a} three-close"
    docs = _mkdocs(spark, [(1, d1), (2, d2), (3, d3)]).withColumn(
        "n_chars", F.length("text")
    )
    runs = suffixes.duplicated_substring_runs(
        docs, "doc_id", "text", min_len=50
    )
    plan = {
        r.doc_id: r
        for r in suffixes.exactsubstr_cut_stats(
            docs, "doc_id", runs
        ).collect()
    }
    # doc 1 is the minimum id everywhere -> never cut
    assert 1 not in plan
    # doc 2: cut exactly block_a's span (keeps block_b vs doc 3)
    assert plan[2].n_spans_cut == 1
    # doc 3: cut both blocks (block_a owed to 1 AND 2 -> still one span)
    assert plan[3].n_spans_cut == 2
    # apply the rewrite and assert no >=50-char cross-doc dup remains
    texts = {1: d1, 2: d2, 3: d3}
    cut_rows = runs.select("doc_b", "pos_b", "dup_len").collect()
    intervals: dict[int, list[tuple[int, int]]] = {}
    for r in cut_rows:
        intervals.setdefault(r.doc_b, []).append(
            (r.pos_b - 1, r.pos_b - 1 + r.dup_len)
        )
    rewritten = {}
    for did, text in texts.items():
        spans = sorted(intervals.get(did, []))
        merged: list[list[int]] = []
        for s, e in spans:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        out, prev = [], 0
        for s, e in merged:
            out.append(text[prev:s])
            prev = e
        out.append(text[prev:])
        rewritten[did] = "".join(out)
        if did in plan:
            assert len(rewritten[did]) == plan[did].new_len
            assert plan[did].chars_removed == len(text) - len(rewritten[did])
    wins = {
        did: {t[i : i + 50] for i in range(len(t) - 49)}
        for did, t in rewritten.items()
    }
    for a in wins:
        for b in wins:
            if a < b:
                assert not (wins[a] & wins[b]), (a, b)
    # the OPERATOR (round 10) must reproduce this reference splice
    # byte-for-byte, including unaffected docs passing through
    got = {
        r.doc_id: r.text
        for r in suffixes.exactsubstr_rewrite(
            docs, "doc_id", "text", runs
        ).collect()
    }
    assert got == rewritten


def test_intra_doc_repeats_periodic_exact(spark):
    """Self-repeat reconstruction must be exact also for OVERLAPPING
    repeats (period < min_len): in 'ab'*40 every position matches at
    period 2, so the maximal run at period 2 spans the whole string."""
    from nabatshy_spark.operators import suffixes

    periodic = "ab" * 40  # len 80
    plain = "completely aperiodic filler with distinct words only once"
    out = suffixes.intra_doc_repeat_runs(
        _mkdocs(spark, [(1, periodic), (2, plain)]),
        "doc_id",
        "text",
        min_len=20,
        max_occ=None,
    ).collect()
    by_period = {r.period: r for r in out if r.doc_id == 1}
    # period 2: text[p] == text[p+2] for p in [1, 78] -> |R| = 78
    assert by_period[2].rep_len == 78
    assert by_period[2].pos_a == 1 and by_period[2].pos_b == 3
    # every reported run is a genuine equality
    for r in out:
        t = periodic if r.doc_id == 1 else plain
        assert (
            t[r.pos_a - 1 : r.pos_a - 1 + r.rep_len]
            == t[r.pos_b - 1 : r.pos_b - 1 + r.rep_len]
        )
    assert not [r for r in out if r.doc_id == 2]


def test_intra_doc_repeats_far_apart(spark):
    """A 40-char block repeated at distance (period > min_len) comes
    back with the exact planted length and positions."""
    from nabatshy_spark.operators import suffixes

    block = "Z".join(f"m{i}" for i in range(20))[:40]
    text = f"head-{block}-unique-middle-part-here-{block}-tail"
    out = suffixes.intra_doc_repeat_runs(
        _mkdocs(spark, [(1, text)]), "doc_id", "text", min_len=20
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.rep_len == 42  # planted 40 + the shared '-' on BOTH sides
    assert (
        text[r.pos_a - 1 : r.pos_a - 1 + r.rep_len]
        == text[r.pos_b - 1 : r.pos_b - 1 + r.rep_len]
    )


def test_cross_corpus_runs_planted_leak(spark):
    """A benchmark passage planted verbatim inside a training document
    must surface with exact span and length; clean docs must not."""
    from nabatshy_spark.operators import suffixes

    passage = "Q".join(f"ans{i}" for i in range(30))[:150]
    corpus = _mkdocs(
        spark,
        [
            (1, f"train doc with leaked eval text: {passage} plus more"),
            (2, "a perfectly clean training document with original words"),
        ],
    )
    bench = _mkdocs(spark, [(100, f"benchmark question {passage} answer")])
    out = suffixes.cross_corpus_substring_runs(
        corpus, bench, "doc_id", "text", max_df=None
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.corpus_id, r.bench_id) == (1, 100)
    assert r.dup_len >= 150
    a = f"train doc with leaked eval text: {passage} plus more"
    b = f"benchmark question {passage} answer"
    assert (
        a[r.pos_c - 1 : r.pos_c - 1 + r.dup_len]
        == b[r.pos_b - 1 : r.pos_b - 1 + r.dup_len]
    )


def test_cross_corpus_probe_prunes_before_shuffle(spark):
    """The benchmark hash set must reach the corpus-side window
    generation as a BROADCAST semi-join (round-10 prefilter): the plan
    carries a LeftSemi BroadcastHashJoin, and no corpus window survives
    to the df-cap aggregate unless its hash is shared with the
    benchmark — asserted by the physical plan shape."""
    from nabatshy_spark.operators import suffixes

    corpus = _mkdocs(
        spark, [(i, f"totally original corpus text number {i} " * 9) for i in range(6)]
    )
    bench = _mkdocs(spark, [(100, "benchmark only words that match nothing " * 6)])
    out = suffixes.cross_corpus_substring_runs(
        corpus, bench, "doc_id", "text", max_df=200
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert out.count() == 0  # nothing shared → nothing emitted


def test_window_hash_postings_chunked_identical_to_naive(spark):
    """The chunked two-step explode (per-row memory O(chunk), ADVICE
    r9) must emit exactly the naive per-position window relation —
    boundary windows straddling chunk edges included."""
    texts = [
        ("d1", "abcdefghijklmnopqrstuvwxyz0123456789"),
        ("d2", "abcabcabcabcabcabcabc"),
        ("d3", "xy"),  # shorter than min_len: contributes nothing
        ("d4", "zzzzzzz"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    min_len = 5
    naive = set()
    for doc_id, t in texts:
        for i in range(len(t) - min_len + 1):
            naive.add((doc_id, i + 1, t[i : i + min_len]))
    for chunk in (1, 3, 7, 100000):
        got = suffixes.window_hash_postings(
            df, "doc_id", "text", min_len=min_len, chunk=chunk
        ).collect()
        # compare on substrings (hash-free ground truth): rebuild the
        # substring from (doc_id, pos) and check the full (id,pos) set
        text_of = dict(texts)
        got_set = {
            (r.doc_id, r.pos, text_of[r.doc_id][r.pos - 1 : r.pos - 1 + min_len])
            for r in got
        }
        assert got_set == naive, f"chunk={chunk}"
        # and the hash itself is the window's xxhash64 (spot check via
        # chunk-independence): same (id,pos) -> same hash across chunks
        if chunk == 1:
            base = {(r.doc_id, r.pos): r["__h"] for r in got}
        else:
            assert {(r.doc_id, r.pos): r["__h"] for r in got} == base
