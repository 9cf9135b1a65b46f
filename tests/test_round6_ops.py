"""Invariant tests for the round-6 operators: HLL sketch rollup
merge identity, incremental-MV merge, cosine range search vs top-k,
dependency drift conservation, blocklist and LTV shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from nabatshy_spark.catalog import load
from nabatshy_spark.operators import spans as S
from nabatshy_spark.operators.similarity import cosine_range_search, cosine_topk
from nabatshy_spark.plans.queries import QUERIES
from nabatshy_spark.plans.span_queries import load_spans


def test_hll_union_equals_direct_sketch(spark, sf_dir):
    """HLL union is register-wise max, so the estimate from unioned
    daily sketches must EQUAL the estimate of one sketch built
    directly over each week — the property that makes the pre-agg
    answer any day range without rescanning."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("week", F.to_date("ts")).cast("date").alias("week_start"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    direct = ev.groupBy("week_start").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).alias("direct_est")
    )
    rolled = QUERIES["hll_user_rollup"](spark, sf_dir)
    j = rolled.join(direct, "week_start").collect()
    assert len(j) == rolled.count()
    for r in j:
        assert r.est_users == r.direct_est, r


def test_hll_rollup_close_to_exact(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("week", F.to_date("ts")).cast("date").alias("week_start"),
        "user_id",
    )
    exact = {
        r.week_start: r.n
        for r in ev.groupBy("week_start")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in QUERIES["hll_user_rollup"](spark, sf_dir).collect():
        e = exact[r.week_start]
        assert abs(r.est_users - e) <= max(2, 0.02 * e), (r, e)


def test_mv_merge_equals_full_recompute(spark, sf_dir):
    """The merged (base + delta) MV must equal a single-pass
    aggregation — including the cutoff month, which receives rows from
    BOTH branches."""
    li = load(spark, sf_dir, "lineitem")
    full = {
        r.ship_month: (r.revenue, r.n_lines)
        for r in li.groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .collect()
    }
    merged = QUERIES["mv_incremental_refresh"](spark, sf_dir).collect()
    assert len(merged) == len(full)
    import datetime

    cutoff_month = datetime.date(2001, 6, 1)
    assert any(r.ship_month == cutoff_month for r in merged)
    for r in merged:
        fr, fn = full[r.ship_month]
        assert r.n_lines == fn
        assert abs(r.revenue - fr) < 0.02, (r.ship_month, r.revenue, fr)


def test_range_search_consistent_with_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    rng = {
        r.vec_id: r.cos
        for r in cosine_range_search(
            emb, "vec_id", "embedding", 0, 0.25
        ).collect()
    }
    top = cosine_topk(emb, "vec_id", "embedding", 0, k=50).collect()
    # every top-k hit above the radius is in the range result w/ same cos
    for r in top:
        if r.cos >= 0.25:
            assert rng[r.vec_id] == r.cos
    # and the range result has nothing below the radius
    assert all(c >= 0.25 for c in rng.values())


def test_dependency_drift_conserves_edge_counts(spark, sf_dir):
    sp = load_spans(spark)
    drift = QUERIES["spans_dependency_drift"](spark, sf_dir).collect()
    base = {
        (r.parent_service, r.child_service): r.call_count
        for r in S.service_dependency_graph(sp).collect()
    }
    assert len(drift) == len(base)
    for r in drift:
        assert r.calls_h1 + r.calls_h2 == base[(r.parent_service, r.child_service)]
        assert r.delta == r.calls_h2 - r.calls_h1


def test_blocklist_hits_shape(spark, sf_dir):
    rows = QUERIES["blocklist_term_hits"](spark, sf_dir).collect()
    assert rows
    terms = {r.term for r in rows}
    assert "forbiddenterm" not in terms  # absent term yields no row
    for r in rows:
        assert r.n_hits >= r.n_docs >= 1


def test_ltv_cumulative_is_monotone(spark, sf_dir):
    rows = QUERIES["cohort_ltv_curve"](spark, sf_dir).collect()
    assert rows
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_q, []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r.age_q)
        assert rs[0].age_q == 0  # the cohort's first quarter has orders
        cum = 0.0
        for r in rs:
            assert r.age_q >= 0
            cum += r.revenue
            assert abs(r.cum_revenue - cum) < 0.05
        # every row of one cohort reports the same cohort size
        assert len({r.n_customers for r in rs}) == 1


def test_cluster_safe_split_has_no_cross_split_groups(spark, sf_dir):
    """The split is a pure function of the content digest, so no
    exact-dup group may span two splits — the invariant this operator
    exists to guarantee."""
    from nabatshy_spark.operators import sampling

    docs = load(spark, sf_dir, "documents").withColumn(
        "__grp", F.md5(F.col("text"))
    )
    split = sampling.split_corpus(docs, "__grp", train_bps=62259, val_bps=1638)
    spanning = (
        split.groupBy("__grp")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert spanning == 0
    out = QUERIES["cluster_safe_split"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in out) == docs.count()
    assert {r.split for r in out} <= {"train", "val", "test"}
    for r in out:
        assert r.n_groups >= r.n_dup_groups
        assert r.n_docs >= r.n_groups


def test_column_stats_profile_matches_direct_queries(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    stats = {r.col_name: r for r in QUERIES["column_stats_profile"](spark, sf_dir).collect()}
    assert set(stats) == {
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
    }
    rf = stats["l_returnflag"]
    direct = li.agg(
        F.countDistinct("l_returnflag").alias("ndv"),
        F.min("l_returnflag").alias("mn"),
        F.max("l_returnflag").alias("mx"),
    ).collect()[0]
    assert rf.ndv == direct.ndv
    assert rf.min_value == direct.mn and rf.max_value == direct.mx
    assert rf.n_nulls == 0
    ok = stats["l_orderkey"]
    assert ok.ndv == li.select("l_orderkey").distinct().count()


def test_table_checksum_detects_tampering(spark, sf_dir):
    """The checksum must move when any row's content changes, and must
    NOT move under row reordering — the properties a replication
    audit needs."""
    from nabatshy_spark.plans.relational_queries import _CHECKSUM_TABLES

    base = {
        r.table_name: (r.n_rows, r.checksum)
        for r in QUERIES["table_checksum_audit"](spark, sf_dir).collect()
    }
    assert set(base) == {t for t, _ in _CHECKSUM_TABLES}
    nation = load(spark, sf_dir, "nation")
    cols = ["n_nationkey", "n_name", "n_regionkey"]
    row_hash = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])),
            1, 8,
        ), 16, 10,
    ).cast("long")
    # reorder: checksum is a sum, so a shuffled copy hashes identically
    shuffled = nation.orderBy(F.md5(F.col("n_name")))
    assert (
        shuffled.agg(F.sum(row_hash)).collect()[0][0]
        == base["nation"][1]
    )
    # tamper: change one name
    tampered = nation.withColumn(
        "n_name",
        F.when(F.col("n_nationkey") == 0, F.lit("TAMPERED")).otherwise(
            F.col("n_name")
        ),
    )
    assert (
        tampered.agg(F.sum(row_hash)).collect()[0][0]
        != base["nation"][1]
    )


def test_priority_sample_fixed_size_and_estimator(spark, sf_dir):
    """Priority sampling returns exactly k rows, τ is the (k+1)-th
    priority (≤ every sampled priority), and the Duffield-Lund-Thorup
    subset-sum estimator Σ max(w, τ) lands near the true total."""
    from nabatshy_spark.operators.sampling import priority_sample

    docs = load(spark, sf_dir, "documents")
    samp = priority_sample(docs, "doc_id", "n_chars", 200).collect()
    assert len(samp) == 201
    sample = [r for r in samp if r["__rank"] <= 200]
    assert len(sample) == 200
    tau = samp[0]["__tau"]
    assert all(r["__priority"] >= tau for r in sample)
    est = sum(max(float(r.n_chars), tau) for r in sample)
    true = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert abs(est - true) / true < 0.25  # unbiased, not low-variance


def test_priority_sample_is_deterministic(spark, sf_dir):
    from nabatshy_spark.operators.sampling import priority_sample

    docs = load(spark, sf_dir, "documents")
    a = sorted(r.doc_id for r in priority_sample(docs, "doc_id", "n_chars", 50).collect())
    b = sorted(r.doc_id for r in priority_sample(docs, "doc_id", "n_chars", 50).collect())
    assert a == b


def test_pareto_suppliers_is_exactly_the_undominated_set(spark, sf_dir):
    """The window-staircase skyline must equal the brute-force
    dominance definition on the per-supplier aggregate."""
    out = {r.suppkey for r in QUERIES["pareto_suppliers"](spark, sf_dir).collect()}
    li = load(spark, sf_dir, "lineitem")
    sup = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(28,6)"
            )
        ).alias("rev"),
        F.round(F.avg((F.col("l_returnflag") == "R").cast("int")), 6).alias("rr"),
    ).collect()
    expected = set()
    for a in sup:
        dominated = any(
            b.l_suppkey != a.l_suppkey
            and b.rev >= a.rev
            and b.rr <= a.rr
            and (b.rev > a.rev or b.rr < a.rr)
            for b in sup
        )
        if not dominated:
            expected.add(a.l_suppkey)
    assert out == expected


def test_fuzzy_name_pairs_invariants(spark, sf_dir):
    rows = QUERIES["fuzzy_name_pairs"](spark, sf_dir).collect()
    assert rows, "synthetic part names should yield at least one near pair"
    for r in rows:
        assert r.name_a < r.name_b
        assert 1 <= r.edit_dist <= 3
        # blocked on the head noun: second token must agree
        assert r.name_a.split(" ")[1] == r.name_b.split(" ")[1]


def test_spans_overlap_pairs_brute_force_one_trace(spark):
    """Recompute one trace's overlap pairs in Python and compare."""
    out = QUERIES["spans_overlap_pairs"](spark, "").collect()
    assert out
    top = out[0]
    spans = (
        load_spans(spark)
        .filter(F.col("trace_id") == top.trace_id)
        .select("span_id", "start_time_unix_nano", "end_time_unix_nano")
        .collect()
    )
    n_pairs, max_ov = 0, 0
    for i, a in enumerate(spans):
        for b in spans[i + 1:]:
            x, y = (a, b) if a.span_id < b.span_id else (b, a)
            if (
                x.start_time_unix_nano < y.end_time_unix_nano
                and y.start_time_unix_nano < x.end_time_unix_nano
            ):
                n_pairs += 1
                max_ov = max(
                    max_ov,
                    min(x.end_time_unix_nano, y.end_time_unix_nano)
                    - max(x.start_time_unix_nano, y.start_time_unix_nano),
                )
    assert (top.n_overlap_pairs, top.max_overlap_ns) == (n_pairs, max_ov)


def test_cms_join_size_estimate_never_underestimates(spark, sf_dir):
    """Count-min inner product: collisions only ever ADD mass, so the
    estimate must dominate the true join size; the expected overshoot
    is ~|keys|/width ≈ 30%, so 1.6x is a safe ceiling."""
    r = QUERIES["join_size_estimate"](spark, sf_dir).collect()[0]
    assert r.cms_estimate >= r.true_join_size
    assert r.cms_estimate < 1.6 * r.true_join_size


def test_priority_sample_weight_monotonicity(spark, sf_dir):
    """Raising every weight by a constant factor must not change the
    selected sample: priorities q = w/u all scale together, so the
    top-k set is scale-invariant — the property that makes the scheme
    safe to re-run after unit changes (chars vs KB)."""
    from nabatshy_spark.operators.sampling import priority_sample

    docs = load(spark, sf_dir, "documents")
    base = {
        r.doc_id
        for r in priority_sample(docs, "doc_id", "n_chars", 100).collect()
        if r["__rank"] <= 100
    }
    scaled_docs = docs.withColumn("n_scaled", F.col("n_chars") * 1000)
    scaled = {
        r.doc_id
        for r in priority_sample(scaled_docs, "doc_id", "n_scaled", 100).collect()
        if r["__rank"] <= 100
    }
    assert base == scaled


def test_pareto_front_is_antichain(spark, sf_dir):
    """No skyline member may dominate another skyline member — the
    output must be an antichain under the (revenue up, return_rate
    down) preference order."""
    rows = QUERIES["pareto_suppliers"](spark, sf_dir).collect()
    assert rows
    for a in rows:
        for b in rows:
            if a.suppkey == b.suppkey:
                continue
            dominates = (
                b.revenue >= a.revenue
                and b.return_rate <= a.return_rate
                and (b.revenue > a.revenue or b.return_rate < a.return_rate)
            )
            assert not dominates, (a, b)
