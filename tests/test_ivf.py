"""IVF vector index: build, prune, recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from nabatshy_spark.catalog import load
from nabatshy_spark.operators.ivf import build_ivf, ivf_topk
from nabatshy_spark.operators.similarity import cosine_topk


def test_ivf_prunes_partitions_and_recalls(spark, sf_dir, tmp_path):
    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf(emb, path)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    approx = ivf_topk(spark, path, qvec, k=10, nprobe=3)

    # partition pruning must reach the scan: the cell filter appears as
    # PartitionFilters, not a post-scan Filter
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]

    got = [r.vec_id for r in approx.collect()]
    exact = [r.vec_id for r in cosine_topk(emb, "vec_id", "embedding", 0, 10).collect()]
    # vec 0 itself lives in the probed cells → rank-1 hit is itself
    assert got[0] == 0

    # recall grows monotonically-ish with nprobe. On this table the
    # exact top-10 sits at cos 0.3-0.5 (near-random directions), so
    # coarse cells can't concentrate them — measured 2/10 at nprobe=3
    # up to 5/10 at nprobe=12; true near-dup workloads (cos > 0.8)
    # cluster into few cells. Assert the shape, not a flattering
    # number.
    overlaps = []
    for npr in (2, 8, 16):
        g = {r.vec_id for r in ivf_topk(spark, path, qvec, k=11, nprobe=npr).collect()}
        overlaps.append(len(g & set(exact)))
    assert overlaps[0] <= overlaps[1] <= overlaps[2] == 10, overlaps


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir, tmp_path):
    """Probing every cell must reproduce the exact result (minus the
    query vector itself, which brute force excludes)."""
    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_all")
    build_ivf(emb, path)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    allprobe = ivf_topk(spark, path, qvec, k=11, nprobe=16)
    got = [r.vec_id for r in allprobe.collect() if r.vec_id != 0][:10]
    exact = [r.vec_id for r in cosine_topk(emb, "vec_id", "embedding", 0, 10).collect()]
    assert got == exact


def test_ensure_ivf_lifecycle(spark, sf_dir, tmp_path, monkeypatch):
    """ensure_ivf is idempotent, rebuilds when the source changes, and
    never serves a partially-built directory."""
    import os
    import shutil

    from nabatshy_spark.operators.ivf import ensure_ivf

    src = str(tmp_path / "emb_src.parquet")
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), src)
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "idx"))

    p1 = ensure_ivf(spark, src)
    assert os.path.isdir(p1)
    assert ensure_ivf(spark, src) == p1  # cache hit, no rebuild

    # mutate the source (touch mtime + change bytes) → a NEW index path;
    # the stale one is never reused for the new content
    emb = load(spark, sf_dir, "embeddings").limit(50)
    emb.write.mode("overwrite").parquet(src + ".tmp")
    os.remove(src)
    os.rename(src + ".tmp", src)
    p2 = ensure_ivf(spark, src)
    assert p2 != p1
    n = spark.read.parquet(p2).count()
    assert n == 50


def test_ivfpq_full_probe_deep_rerank_exact(spark, sf_dir, tmp_path):
    """IVFPQ with every cell probed and re-rank depth ≥ corpus equals
    brute force (exact-cosine re-rank decides); the ADC scan projects
    only (id, code) — the PQ IO story — and pruning still reaches the
    scan at small nprobe."""
    from nabatshy_spark.operators.ivf import build_ivfpq, ivfpq_topk

    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfpq")
    build_ivfpq(emb, path)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    exact = [r.vec_id for r in cosine_topk(emb, "vec_id", "embedding", 0, 10).collect()]
    # k=11: the index contains the query row itself (cos 1.0, rank 1),
    # which brute-force cosine_topk excludes by contract
    full = ivfpq_topk(spark, path, qvec, k=11, nprobe=16, rerank=100)
    got = [r.vec_id for r in full.collect() if r.vec_id != 0]
    assert got == exact

    pruned = ivfpq_topk(spark, path, qvec, k=10, nprobe=3, rerank=8)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    rows = pruned.collect()
    assert 0 < len(rows) <= 10
    # approximate probe still finds the query's own vector first
    assert rows[0].vec_id == 0
