"""Round-7 fixes: size-aware semi-join, priority-sample τ guard and
52-bit uniforms, banded fuzzy blocking, stale-bucketed-layout eviction,
cross-engine float formatting in column_stats_profile."""

from __future__ import annotations

import os
import pathlib

import pytest
from pyspark.sql import functions as F

from nabatshy_spark.catalog import load
from nabatshy_spark.operators.joins import _parse_byte_size, semi_join_ids
from nabatshy_spark.plans.queries import QUERIES



def test_parse_byte_size_units():
    assert _parse_byte_size("10485760") == 10485760
    assert _parse_byte_size("10485760b") == 10485760
    assert _parse_byte_size("10m") == 10 << 20
    assert _parse_byte_size("10MB") == 10 << 20
    assert _parse_byte_size("1g") == 1 << 30
    assert _parse_byte_size("512k") == 512 << 10
    assert _parse_byte_size("-1") == -1


def test_semi_join_ids_both_branches_identical(spark, sf_dir):
    """The broadcast and shuffle-hash branches must return identical
    rows, and the physical plan must actually switch strategy: an
    estimate of 10 ids broadcasts, one above the broadcast threshold
    shuffles."""
    docs = load(spark, sf_dir, "documents")
    ids = docs.filter(F.col("n_chars") > 500).select("doc_id")
    thr = _parse_byte_size(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    )

    bcast = semi_join_ids(docs, ids, "doc_id", 10)
    shuf = semi_join_ids(docs, ids, "doc_id", (abs(thr) // 24) + 10_000_000)

    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()
    shuf_plan = shuf._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in shuf_plan
    assert "ShuffledHashJoin" in shuf_plan or "SortMergeJoin" in shuf_plan

    a = sorted(r.doc_id for r in bcast.select("doc_id").collect())
    b = sorted(r.doc_id for r in shuf.select("doc_id").collect())
    assert a == b and len(a) > 0


def test_semi_join_ids_threshold_picks_shuffle(spark, sf_dir):
    """An id-count estimate above autoBroadcastJoinThreshold must select
    the shuffle branch."""
    docs = load(spark, sf_dir, "documents")
    ids = docs.select("doc_id").limit(10)
    thr = _parse_byte_size(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    )
    big_estimate = (abs(thr) // 24) + 10_000_000
    plan = (
        semi_join_ids(docs, ids, "doc_id", big_estimate)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" not in plan


def test_priority_sample_tau_zero_when_sample_covers_input(spark, sf_dir):
    """n <= k: the sample IS the population, τ must be 0 and the
    estimator Σ max(w, τ) must equal the exact sum (DLT degenerate
    case) instead of borrowing a sampled row's priority as τ."""
    from nabatshy_spark.operators.sampling import priority_sample

    docs = load(spark, sf_dir, "documents").limit(50)
    rows = priority_sample(docs, "doc_id", "n_chars", 200).collect()
    assert len(rows) == 50
    assert all(r["__tau"] == 0.0 for r in rows)
    est = sum(max(float(r.n_chars), r["__tau"]) for r in rows)
    true = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert est == pytest.approx(float(true))


def test_priority_sample_52bit_priorities_are_tie_free(spark, sf_dir):
    """The 52-bit uniform must produce no priority collisions on the
    corpus (the 16-bit form collided at ~65k distinct values per
    weight level)."""
    from nabatshy_spark.operators.sampling import priority_sample

    docs = load(spark, sf_dir, "documents")
    rows = priority_sample(docs, "doc_id", "n_chars", 500).collect()
    pr = [r["__priority"] for r in rows]
    assert len(set(pr)) == len(pr)


def test_fuzzy_name_pairs_banded_blocking_is_complete(spark, sf_dir):
    """The (block, length-bucket ±1) join key must lose NO pair the
    unbanded block join found: compare against the brute block-only
    form on the same inputs."""
    part = load(spark, sf_dir, "part")
    names = (
        part.select("p_name")
        .distinct()
        .withColumn(
            "__block",
            F.coalesce(F.get(F.split("p_name", " "), 1), F.lit("")),
        )
        .withColumn("__len", F.length("p_name"))
    )
    a = names.select(
        F.col("p_name").alias("name_a"), "__block", F.col("__len").alias("__la")
    )
    b = names.select(
        F.col("p_name").alias("name_b"), "__block", F.col("__len").alias("__lb")
    )
    brute = {
        (r.name_a, r.name_b)
        for r in a.join(b, "__block")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= 3)
            & (F.levenshtein("name_a", "name_b") <= 3)
        )
        .select("name_a", "name_b")
        .collect()
    }
    banded = {
        (r.name_a, r.name_b)
        for r in QUERIES["fuzzy_name_pairs"](spark, sf_dir).collect()
    }
    assert banded == brute


def test_fuzzy_block_key_matches_duckdb_split_part(spark):
    """Single-token names must block on '' (DuckDB split_part
    semantics), not NULL-drop out of the join."""
    df = spark.createDataFrame(
        [("alpha",), ("alphq",), ("two tok",)], ["p_name"]
    )
    blocks = df.select(
        F.coalesce(F.get(F.split("p_name", " "), 1), F.lit("")).alias("b")
    ).collect()
    assert sorted(r.b for r in blocks) == ["", "", "tok"]


def test_ensure_bucketed_evicts_stale_partial_layout(spark, sf_dir, tmp_path, monkeypatch):
    """A pre-existing layout directory WITHOUT _SUCCESS (crashed run)
    must be evicted and rebuilt, not registered over."""
    import shutil

    from nabatshy_spark.sources import bucketed

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    src = os.path.join(sf_dir, "nation.parquet")
    # Publish once to learn the layout's path (the table name ends with
    # its artifact key), then leave a crashed partial layout there.
    table = bucketed.ensure_bucketed(spark, sf_dir, "nation", ["n_nationkey"], 4)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    fam = tmp_path / "bucketed"
    stale = fam / table.rsplit("_", 1)[1]
    shutil.rmtree(stale)
    stale.mkdir()
    (stale / "part-corrupt.parquet").write_bytes(b"not parquet")

    got = bucketed.ensure_bucketed(spark, sf_dir, "nation", ["n_nationkey"], 4)
    assert got == table
    assert (stale / "_SUCCESS").exists()
    assert not (stale / "part-corrupt.parquet").exists()
    # The quarantine-rename eviction must clean up after itself.
    leftovers = [p.name for p in fam.iterdir() if ".quarantine-" in p.name or ".staging-" in p.name]
    assert leftovers == []
    n = spark.table(table).count()
    assert n == spark.read.parquet(src).count()
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_ensure_bucketed_quarantine_restores_racer_publish(spark, sf_dir, tmp_path, monkeypatch):
    """TOCTOU hardening: if a concurrent session completes an atomic
    rename-publish of a VALID layout between this session's _SUCCESS
    check and its eviction, the evictor must move the directory aside
    whole (quarantine rename), notice the _SUCCESS inside, and restore
    it atomically — never rmtree a valid published layout in place."""
    import shutil

    from nabatshy_spark.sources import bucketed

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    src = os.path.join(sf_dir, "nation.parquet")
    # Publish once to learn the layout's path (the table name ends with
    # its artifact key), then leave a crashed partial layout there.
    table = bucketed.ensure_bucketed(spark, sf_dir, "nation", ["n_nationkey"], 4)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    fam = tmp_path / "bucketed"
    key = table.rsplit("_", 1)[1]
    path = fam / key
    shutil.rmtree(path)
    path.mkdir()
    (path / "part-corrupt.parquet").write_bytes(b"not parquet")

    real_rename = os.rename
    state = {"injected": False}

    def racing_rename(s, d):
        if not state["injected"] and s == str(path):
            # The evictor is about to quarantine `path`. Simulate a
            # racer winning the window: evict the stale partial and
            # publish a valid (content-identical) layout at `path`.
            # The staging dir name carries a pid+nonce suffix — find it.
            state["injected"] = True
            staging_path = str(
                next(fam.glob(f"{key}.staging-*"))
            )
            racer = f"{path}.racer"
            shutil.copytree(staging_path, racer)
            (pathlib.Path(racer) / "_racer_marker").write_text("x")
            shutil.rmtree(path)
            real_rename(racer, str(path))
        return real_rename(s, d)

    monkeypatch.setattr(os, "rename", racing_rename)
    got = bucketed.ensure_bucketed(spark, sf_dir, "nation", ["n_nationkey"], 4)
    monkeypatch.setattr(os, "rename", real_rename)
    assert got == table and state["injected"]
    # The racer's publish survived (restored, not deleted) ...
    assert (path / "_racer_marker").exists()
    assert (path / "_SUCCESS").exists()
    # ... our staging copy was discarded, nothing leaked ...
    leftovers = [p.name for p in fam.iterdir() if p.name != key]
    assert leftovers == []
    # ... and the registered table reads the restored layout.
    assert spark.table(table).count() == spark.read.parquet(src).count()
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_column_stats_profile_float_minmax_fixed_point(spark, sf_dir):
    """Float min/max must render as fixed-point DECIMAL(38,6) strings —
    engine-portable — never shortest-roundtrip doubles."""
    rows = {
        r.col_name: r
        for r in QUERIES["column_stats_profile"](spark, sf_dir).collect()
    }
    for c in ("l_quantity", "l_extendedprice", "l_discount"):
        assert rows[c].min_value.count(".") == 1
        assert len(rows[c].min_value.split(".")[1]) == 6
        assert len(rows[c].max_value.split(".")[1]) == 6
    # integer columns stay exact integer strings
    assert "." not in rows["l_orderkey"].min_value


# ---- round-7 new-query invariants (oracle parity is in
# test_oracle_parity.py; these pin the semantic contracts) ----


def test_stratified_kfold_balance(spark, sf_dir):
    """Within every stratum, fold sizes differ by at most 1 — the
    exact-balance property hash-mod-k lacks."""
    rows = QUERIES["stratified_kfold_assignment"](spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.n_docs)
    for lang, sizes in by_lang.items():
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert len(sizes) <= 5


def test_class_balance_caps_majority(spark, sf_dir):
    rows = QUERIES["class_balance_resample"](spark, sf_dir).collect()
    min_before = min(r.n_before for r in rows)
    for r in rows:
        assert r.n_after <= 2 * min_before
        assert r.n_after <= r.n_before
        assert r.n_after == r.n_before or r.n_after == 2 * min_before


def test_knn_label_eval_covers_eval_set(spark, sf_dir):
    rows = QUERIES["knn_label_eval"](spark, sf_dir).collect()
    emb = load(spark, sf_dir, "embeddings")
    n_eval = emb.filter(F.col("vec_id") % 10 == 0).count()
    assert sum(r.n_eval for r in rows) == n_eval
    for r in rows:
        assert 0 <= r.n_correct <= r.n_eval


def test_embedding_outlier_mahal_topk_sorted(spark, sf_dir):
    rows = QUERIES["embedding_outlier_mahal"](spark, sf_dir).collect()
    assert len(rows) == 20
    dists = [r.mahal_dist for r in rows]
    assert dists == sorted(dists, reverse=True)
    assert all(d > 0 for d in dists)


def test_spans_busy_time_bounds(spark, sf_dir):
    """Interval-union busy time is ≤ the raw duration sum (concurrency
    only ever collapses time) and ≥ the longest single span."""
    from nabatshy_spark.plans.span_queries import load_spans

    rows = {
        r.service_name: r
        for r in QUERIES["spans_service_busy_time"](spark, sf_dir).collect()
    }
    sp = load_spans(spark).select(
        F.element_at("resource_attributes", F.lit("service.name")).alias("svc"),
        (F.col("end_time_unix_nano") - F.col("start_time_unix_nano")).alias("d"),
    ).filter(F.col("svc").isNotNull())
    agg = {
        r.svc: r
        for r in sp.groupBy("svc")
        .agg(F.sum("d").alias("tot"), F.max("d").alias("mx"), F.count("*").alias("n"))
        .collect()
    }
    assert set(rows) == set(agg)
    for svc, r in rows.items():
        assert r.busy_ns <= agg[svc].tot
        assert r.busy_ns >= agg[svc].mx
        assert r.n_spans == agg[svc].n
        assert 1 <= r.n_islands <= r.n_spans


def test_degree_distribution_partitions_parts(spark, sf_dir):
    rows = QUERIES["degree_distribution_trade"](spark, sf_dir).collect()
    li = load(spark, sf_dir, "lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    assert sum(r.n_parts for r in rows) == n_parts
    for r in rows:
        assert 2 ** r.degree_bucket <= r.min_degree <= r.max_degree
        assert r.max_degree < 2 ** (r.degree_bucket + 1)


def test_weighted_percentiles_monotone(spark, sf_dir):
    for r in QUERIES["weighted_percentiles_brand"](spark, sf_dir).collect():
        assert r.p25 <= r.p50 <= r.p75 <= r.p90


def test_dictionary_advisor_verdicts(spark, sf_dir):
    rows = {
        r.column_name: r
        for r in QUERIES["dictionary_encoding_advisor"](spark, sf_dir).collect()
    }
    assert rows["lineitem.l_returnflag"].recommend == "dict"
    assert rows["customer.c_name"].recommend == "plain"
    for r in rows.values():
        assert (r.dict_bytes < r.plain_bytes) == (r.recommend == "dict")
        assert r.ndv <= r.n_rows


def test_dhash_brightness_invariant_and_pattern_sensitive(spark):
    """dHash must be identical for the same pattern at different
    brightness (the near-dup case) and different across patterns."""
    import numpy as np

    from nabatshy_spark.operators.multimodal import decode_image, image_dhash
    from nabatshy_spark.operators.pngcodec import encode_png

    def mk(pattern, offset):
        x = np.arange(8)
        v = {0: np.zeros(8), 1: x * 16,
             2: np.where(x >= 4, 96, 0), 3: np.abs(2 * x - 7) * 8}[pattern]
        return encode_png(np.tile(v + offset, (6, 1)).astype(np.uint8))

    rows = [(i, mk(p, o)) for i, (p, o) in enumerate(
        [(0, 0), (0, 40), (1, 0), (1, 63), (2, 10), (2, 50), (3, 0), (3, 30)]
    )]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r.dhash for r in image_dhash(df).collect()}
    assert out[0] == out[1] and out[2] == out[3]
    assert out[4] == out[5] and out[6] == out[7]
    assert len({out[0], out[2], out[4], out[6]}) == 4
    # sanity: the codec round-trips these payloads
    assert decode_image(rows[0][1]).width == 8


def test_kcore_rounds_contract_monotonically(spark, sf_dir):
    rows = QUERIES["kcore_trade_pruning"](spark, sf_dir).collect()
    assert [r.round for r in rows] == [1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        assert b.n_edges <= a.n_edges
        assert b.n_left <= a.n_left and b.n_right <= a.n_right
    # every surviving left node in the FINAL graph has degree >= k-ish
    # only w.r.t. the PREVIOUS round's graph (simultaneous-peel
    # semantics); the audit row counts must at least be consistent
    for r in rows:
        if r.n_edges:
            assert r.n_left >= 1 and r.n_right >= 1
            assert r.n_edges >= max(r.n_left, r.n_right)


def test_twap_differs_from_plain_avg_and_bounds(spark, sf_dir):
    rows = QUERIES["event_value_twap"](spark, sf_dir).collect()
    assert rows, "no event types"
    ev = load(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("value"), F.max("value")).collect()[0]
    for r in rows:
        assert lo <= r.twap <= hi
        assert lo <= r.plain_avg <= hi
        assert r.held_us > 0 and r.n_intervals > 0


def test_abc_classes_partition_and_share(spark, sf_dir):
    rows = {r.abc_class: r for r in QUERIES["part_abc_classes"](spark, sf_dir).collect()}
    assert set(rows) == {"A", "B", "C"}
    li = load(spark, sf_dir, "lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    assert sum(r.n_parts for r in rows.values()) == n_parts
    total_share = sum(r.revenue_share_pct for r in rows.values())
    assert abs(total_share - 100.0) < 0.01
    # Class shares honor the 80/95 boundaries (the synthetic revenue
    # is near-uniform, so A holds many parts — the BOUNDARIES, not a
    # real-world Pareto head, are the invariant).
    assert rows["A"].revenue_share_pct <= 80.0 + 0.01
    assert rows["A"].revenue_share_pct + rows["B"].revenue_share_pct <= 95.0 + 0.01
    assert rows["A"].revenue_share_pct > rows["B"].revenue_share_pct > rows["C"].revenue_share_pct


def test_psi_baseline_year_is_zero_and_nonnegative(spark, sf_dir):
    rows = QUERIES["psi_order_value_drift"](spark, sf_dir).collect()
    assert rows[0].psi == 0.0  # baseline vs itself
    o = load(spark, sf_dir, "orders")
    assert sum(r.n_orders for r in rows) == o.count()
    assert all(r.psi >= 0 for r in rows)  # PSI is a sum of KL-type terms


def test_compression_ratio_separates_repetition_from_prose(spark):
    """Crafted texts pin the signal: heavy repetition compresses far
    below varied prose; ratios are deterministic across calls."""
    from nabatshy_spark.operators.textanalysis import compression_ratio

    rows = [
        (0, "the same line again " * 50),
        (1, "Quick zephyrs blow, vexing daft Jim; sphinx of black "
            "quartz judge my vow. Pack my box with five dozen jugs."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in compression_ratio(df, "doc_id", "text").collect()}
    assert out[0].ratio < 0.1 < out[1].ratio
    assert out[0].raw_bytes == len(rows[0][1].encode())
    again = {r.doc_id: r.ratio for r in compression_ratio(df, "doc_id", "text").collect()}
    assert again == {k: v.ratio for k, v in out.items()}


def test_compression_quality_flags_aggregates(spark, sf_dir):
    rows = QUERIES["compression_quality_flags"](spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert 0 < r.min_ratio <= r.avg_ratio
        assert 0 <= r.n_flagged <= r.n_docs


def test_supplier_risk_bands_partition_parts(spark, sf_dir):
    rows = {r.risk_band: r for r in QUERIES["supplier_single_source_risk"](spark, sf_dir).collect()}
    li = load(spark, sf_dir, "lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    assert sum(r.n_parts for r in rows.values()) == n_parts
    for r in rows.values():
        assert 0 < r.avg_top_share <= 1.0
        assert r.avg_suppliers >= 1.0
    if "sole_sourced" in rows and "diversified" in rows:
        assert rows["sole_sourced"].avg_top_share > rows["diversified"].avg_top_share
        assert rows["sole_sourced"].avg_suppliers < rows["diversified"].avg_suppliers


def test_label_separation_covers_all_vectors(spark, sf_dir):
    rows = QUERIES["embedding_label_separation"](spark, sf_dir).collect()
    emb = load(spark, sf_dir, "embeddings")
    assert sum(r.n_vecs for r in rows) == emb.count()
    for r in rows:
        assert -1.0 <= r.avg_intra_cos <= 1.0
        assert -1.0 <= r.avg_best_foreign_cos <= 1.0
        assert abs(
            r.separation_margin - (r.avg_intra_cos - r.avg_best_foreign_cos)
        ) < 1e-4


def test_percentile_accuracy_audit_bounds(spark, sf_dir):
    """approx_percentile at default accuracy must stay within 5%
    relative error of the exact percentiles on every event type, and
    the monotonicity p50 <= p95 <= p99 must hold on both sides."""
    rows = QUERIES["percentile_accuracy_audit"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_p50 <= r.exact_p95 <= r.exact_p99
        assert r.approx_p50 <= r.approx_p95 <= r.approx_p99
        assert r.max_rel_err < 0.05, (r.event_type, r.max_rel_err)
