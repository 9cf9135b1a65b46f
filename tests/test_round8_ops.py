"""Round-8 additions: two-phase partitioned prefix sum (the real code
behind part_abc_classes' cumulative share), funnel single-pass
accounting, ANN recall floor."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from nabatshy_spark.catalog import load
from nabatshy_spark.operators.stats import cumulative_sum_ordered
from nabatshy_spark.plans.queries import QUERIES


def _global_window_cum(df, order, value_col, extra=()):
    """The single-sort form of cumulative_sum_ordered: one global
    ``Window.orderBy`` (every row on one task)."""
    w = Window.orderBy(*order)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    out = (
        df.withColumn("__cum", F.sum(value_col).over(wc))
        .withColumn("__rank", F.row_number().over(w).cast("long"))
        .withColumn("__tot", F.sum(value_col).over(Window.partitionBy()))
        .withColumn("__n", F.count("*").over(Window.partitionBy()))
    )
    for c in extra:
        out = out.withColumn(f"__cum_{c}", F.sum(c).over(wc))
    return out


def _cum_rows(df):
    return sorted(
        (
            r.l_partkey,
            str(r["__rev"]),
            str(r["__cum"]),
            r["__rank"],
            str(r["__tot"]),
            r["__n"],
        )
        for r in df.collect()
    )


def test_cumulative_sum_two_phase_matches_global_window(spark, sf_dir):
    """The two-phase partitioned prefix sum must be bit-identical to
    the single-sort global window over a total order — the
    differential that lets part_abc_classes ship the scale form."""
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(28,6)"
            )
        ).alias("__rev")
    )
    order = [F.col("__rev").desc(), F.col("l_partkey").asc()]
    win = _global_window_cum(per_part, order, "__rev")
    two = cumulative_sum_ordered(per_part, order, "__rev")
    a, b = _cum_rows(win), _cum_rows(two)
    assert len(a) > 100
    assert a == b


def test_cumulative_sum_two_phase_no_single_partition_window():
    """The offsets window must survive constant folding with a
    non-empty partition spec — an empty spec is exactly the
    single-partition WindowExec the operator exists to avoid."""
    from nabatshy_spark.session import get_spark

    spark = get_spark("nabatshy_tests", cpus=8)
    df = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").cast("long").alias("v")
    )
    two = cumulative_sum_ordered(df, [F.col("v").asc(), F.col("k").asc()], "v")
    plan = two._jdf.queryExecution().executedPlan().toString()
    # Every Window node in the physical plan must carry a partition
    # spec: "windowspecdefinition(" directly followed by the order
    # spec (no partition expressions) would mark the global form.
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        args = m.group(1)
        # partition exprs come before the ORDER BY marker "ASC"/"DESC";
        # a spec like "windowspecdefinition(v ASC..." has none.
        first = args.split(",")[0].strip()
        assert not first.endswith("ASC NULLS FIRST"), plan


def test_running_min_prev_two_phase_matches_window(spark, sf_dir):
    """Exclusive-prefix running min: two-phase must equal the global
    window, including the NULL for the globally first row."""
    from nabatshy_spark.operators.stats import running_min_prev_ordered

    li = load(spark, sf_dir, "lineitem")
    lvl = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.round(F.avg((F.col("l_returnflag") == "R").cast("int")), 6).alias(
            "v"
        )
    )
    order = [F.col("v").desc(), F.col("k").asc()]
    window = lvl.withColumn(
        "__prevmin",
        F.min("v").over(
            Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    a = sorted((r.k, r.v, r["__prevmin"]) for r in window.collect())
    b = sorted(
        (r.k, r.v, r["__prevmin"])
        for r in running_min_prev_ordered(lvl, order, "v").collect()
    )
    assert len(a) > 50 and a == b
    assert sum(1 for _, _, p in a if p is None) == 1  # exactly the first row


def test_cumulative_sum_extra_value_cols(spark, sf_dir):
    """extra_value_cols running sums must match per-column single-sort
    windows."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).alias("a"),
        F.length("text").alias("b"),
    )
    order = [F.col("doc_id").asc()]
    win = _global_window_cum(docs, order, "a", extra=["b"])
    two = cumulative_sum_ordered(docs, order, "a", extra_value_cols=["b"])
    rows_w = sorted(
        (r.doc_id, r["__cum"], r["__cum_b"], r["__rank"]) for r in win.collect()
    )
    rows_t = sorted(
        (r.doc_id, r["__cum"], r["__cum_b"], r["__rank"]) for r in two.collect()
    )
    assert rows_w == rows_t and len(rows_w) > 100


def test_ann_recall_floor(spark, sf_dir):
    """Quantitative gate for the rows-only ANN family (VERDICT r7 task
    #4): ann_recall_report's recall@10 for BOTH approximate methods
    (hyperplane LSH, PQ/ADC) must average >= 0.8 over the fixture's
    probes at the shipped probe counts — shape checks alone let a
    broken index ship. Per-probe recalls are printed so the measured
    values can be recorded in SCALE.md."""
    rows = QUERIES["ann_recall_report"](spark, sf_dir).collect()
    by_method: dict[str, list[float]] = {}
    for r in rows:
        by_method.setdefault(r.method, []).append(float(r.recall_at_10))
    assert set(by_method) == {"lsh", "pq"}
    for method, recalls in sorted(by_method.items()):
        mean = sum(recalls) / len(recalls)
        print(f"recall@10 {method}: per-probe={recalls} mean={mean:.3f}")
        assert mean >= 0.8, (method, recalls)


def test_minhash_dedup_floor(spark, sf_dir):
    """Quantitative gate for the probabilistic dedup path (the dedup
    twin of test_ann_recall_floor): at the full 128-hash budget the
    MinHash-LSH pipeline must recover >= 0.9 of the exact capped
    posting join's pairs, and verified precision must be >= 0.95 (< 1
    only via the documented df-cap divergence)."""
    rows = {r.config: r for r in QUERIES["minhash_dedup_eval"](spark, sf_dir).collect()}
    assert rows, "eval produced no rows"
    full = rows["128h_64bands"]
    print(
        "minhash eval:",
        {k: (v.precision, v.recall) for k, v in sorted(rows.items())},
    )
    assert full.n_true > 0
    assert full.recall >= 0.9, full
    assert full.precision >= 0.95, full


def test_bloom_prune_actually_prunes(spark, sf_dir):
    """The bloom predicate must (a) keep every true match — no false
    negatives ever — and (b) actually remove rows before the join on
    the fixture (selectivity < 1), otherwise the 'runtime filter' is
    decorative."""
    from nabatshy_spark.operators.sketches import (
        bloom_bitmap,
        bloom_bits,
        bloom_pred,
    )

    cust = load(spark, sf_dir, "customer")
    seg = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    words = bloom_bitmap(r.bit for r in bloom_bits(seg, "c_custkey").collect())
    o = load(spark, sf_dir, "orders")
    pred = bloom_pred(F.col("o_custkey"), words)
    total = o.count()
    pruned = o.filter(pred).count()
    true_n = o.join(
        F.broadcast(seg), o.o_custkey == seg.c_custkey, "left_semi"
    ).count()
    assert true_n <= pruned < total, (true_n, pruned, total)


def test_pq_codebooks_batched_matches_per_subspace(spark, sf_dir):
    """The one-job-per-round batched PQ training must be BIT-IDENTICAL
    to running clustering.kmeans_centroids per subspace (same init,
    tie-break and rounding) — the 8x job-count cut is pure batching,
    not a numeric change."""
    from nabatshy_spark.operators import clustering, similarity

    emb = load(spark, sf_dir, "embeddings").limit(200).localCheckpoint(eager=False)
    emb.count()
    fast = similarity.pq_codebooks(emb, "vec_id", "embedding", dim=64)
    sub = 64 // 8
    slow = []
    for j in range(8):
        sv = emb.select(
            F.col("vec_id"),
            F.transform(
                F.slice(F.col("embedding"), j * sub + 1, sub),
                lambda x: x.cast("double"),
            ).alias("__sv"),
        )
        slow.append(
            clustering.kmeans_centroids(sv, "vec_id", "__sv", k=16, iters=3)
        )
    assert fast == slow


def test_cumulative_sum_two_phase_edge_cases(spark):
    """Empty and single-row inputs through the two-phase path: the
    range partitioner emits mostly EMPTY partitions here, which must
    not contribute offset rows or break the broadcast join."""
    from nabatshy_spark.operators.stats import cumulative_sum_ordered

    empty = spark.createDataFrame([], "k long, v long")
    out = cumulative_sum_ordered(empty, [F.col("v").asc(), F.col("k").asc()], "v")
    assert out.count() == 0
    one = spark.createDataFrame([(7, 42)], "k long, v long")
    rows = cumulative_sum_ordered(
        one, [F.col("v").asc(), F.col("k").asc()], "v"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["__cum"], r["__rank"], r["__tot"], r["__n"]) == (42, 1, 42, 1)


def test_correctness_window_invariants():
    """Registry meta-guards for the driver's first-50 correctness
    window: the priority list must be exactly 50 unique registered
    names (entry #51 would silently never get a row), every round-8
    query must sit inside it, and every windowed name must either have
    an oracle or be one of the documented rows-only families."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    P = mod._PRIORITY
    qs, osql = mod.queries(), mod.oracle_sql()
    assert len(P) == 50 and len(set(P)) == 50
    assert all(k in qs for k in P)
    assert list(qs)[:50] == P
    # round-12 rotation rule: the queries this round's code changes
    # touched must be inside the window (no new queries this round —
    # optimization only).
    r12 = {
        # artifact-served paths of the optimization round
        "dedup_incremental", "dedup_minhash_lsh", "minhash_dedup_eval",
        "boilerplate_scrub", "curate_corpus", "curation_funnel",
        "er_doc_topk_eval", "dup_span_chars", "dup_ngram_coverage",
        # two-level ExactSubstr builds
        "longest_dup_substrings", "dup_substring_doc_stats",
        "exactsubstr_cut_plan", "exactsubstr_source_coverage",
        "decontaminate_exactsubstr", "exactsubstr_rewrite_preview",
        # entity unified-predicate gate + pair-key disambiguation
        "er_part_topk", "er_topk_eval", "dedup_ngram_jaccard",
        # advisor empty-contract fix; part-cust build parallelism
        "dictionary_encoding_advisor", "degree_distribution_trade",
        "kcore_trade_pruning",
    }
    missing = r12 - set(P)
    # dup_ngram_coverage shares the dup-vocab artifact but sits outside
    # the 50-slot window only if the staleness ledger already carries a
    # fresher row — it must NOT be missing here.
    assert not missing, missing
    rows_only_ok = {
        "hll_user_rollup", "embedding_pca_variance", "ann_recall_report",
        "distinct_users_approx", "profile_orders_approx", "ann_pq_topk",
        "ann_ivf_topk", "ann_ivfpq_topk", "bpe_vocab_merges",
        "bpe_token_stats", "compression_quality_flags",
        "percentile_accuracy_audit", "minhash_dedup_eval", "ann_lsh_topk",
        "dedup_embedding_lsh", "endpoint_stats_approx",
    }
    for k in P:
        assert k in osql or k in rows_only_ok, k
