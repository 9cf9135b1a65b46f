"""Vector and multimodal registry queries: embedding-table analytics,
exact and approximate nearest-neighbour search (LSH, IVF, PQ),
clustering, embedding dedup, and the binary media columns (audio,
video, image) of the ``documents`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nabatshy_spark.catalog import load
from nabatshy_spark.operators import dedup, multimodal, similarity
from nabatshy_spark.plans.queries import query


@query("dedup_embedding")
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.45): EXACT all-pairs
    via blocked BLAS matrix products (replicate-to-block-pair tasks →
    one matmul per task) — no nested-loop join in the plan (asserted in
    test_plans.py). Exact because this corpus has no cosine gap at the
    threshold, so LSH with recall≈1 would degenerate to all-candidates
    (measured; see operators/dedup.py docstring)."""
    return dedup.embedding_dup_pairs(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


@query("dedup_embedding_clustered")
def dedup_embedding_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-pruned EXACT embedding dedup — same result set (and same
    oracle) as dedup_embedding, but compute is Σ|i|·|j| over k-means
    cluster pairs surviving the ball-cover bound instead of N²/2: the
    sub-quadratic 100 TB path (SemDeDup-shaped, made exact; see
    operators/dedup.py::embedding_dup_pairs_clustered, curve in
    SCALE.md)."""
    return dedup.embedding_dup_pairs_clustered(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=8
    )


@query("audio_wav_features", headline=True)
def audio_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV decode (stdlib wave) over a binary audio column: the
    deterministic square-wave synth (operators/multimodal.py
    attach_audio) makes every decoded feature analytically known, so
    the oracle checks the actual byte-level decode, not a fake."""
    return multimodal.audio_features(
        multimodal.attach_audio(load(spark, sf_dir, "documents"), "doc_id")
    ).select(
        "doc_id", "sample_rate", "n_channels", "n_samples", "duration_s", "rms"
    )


@query("video_frame_sample")
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a keyframe-array video column (every 2nd of
    4 PNG frames, decoded for real by the stdlib codec); per-frame
    mean pixel is analytic so the oracle is exact."""
    return multimodal.frame_sample_features(
        multimodal.attach_frames(load(spark, sf_dir, "documents"), "doc_id"),
        every_n=2,
    ).select("doc_id", "frame_idx", "width", "height", "mean_pixel")


@query("kmeans_embeddings", headline=True)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding table (k=4,
    2 rounds): per-round centroid literals → narrow argmin scan →
    k·dim-group mean update (operators/clustering.py). Exactly
    reproducible, so the oracle replays both rounds in SQL."""
    from nabatshy_spark.operators import clustering

    return clustering.kmeans(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding", iters=2
    )


@query("ann_cosine_topk", headline=True)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 neighbours of vec_id 0 —
    broadcast query vector + TakeOrderedAndProject."""
    return similarity.cosine_topk(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding", query_id=0, k=10
    )


@query("ann_lsh_topk")
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane LSH bucketing + exact
    rerank of candidates. Probabilistic recall → no SQL oracle (driver
    records a rows-only check); tests measure recall vs brute force."""
    return similarity.lsh_topk(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding", query_id=0
    )


@query("multimodal_features")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column plumbing: attach payload → Arrow-batched
    mapInPandas feature extraction (size + sha256). The decode step is
    a documented stub; the pipeline shape is real."""
    return multimodal.extract_features(
        multimodal.attach_binary(load(spark, sf_dir, "documents"), "doc_id", "text")
    )


@query("dedup_embedding_lsh")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs — the scale path of
    dedup_embedding (probabilistic recall ⇒ rows-only check; overlap
    measured in tests)."""
    return similarity.lsh_dup_pairs(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


@query("ann_ivf_topk")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via the IVF file layout: embeddings written
    partitioned by coarse LSH cell, probe list → partition pruning →
    exact cosine rerank (nprobe=8 of 16 cells). The index comes from
    ``ivf.ensure_ivf`` — content-fingerprinted and staging-then-rename
    published, so a changed embeddings table rebuilds and a concurrent
    or failed build never serves a partial layout. Probabilistic recall
    → no SQL oracle (driver records a rows-only check); tests assert
    the recall shape, the PartitionFilters plan, and the rebuild-on-
    change lifecycle."""
    import os as _os

    from nabatshy_spark.operators import ivf

    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.filter(emb.vec_id == 0).first()
    if qrow is None:  # empty table: no query vector, empty result
        return spark.createDataFrame([], "vec_id: long, cos: double")
    path = ivf.ensure_ivf(spark, _os.path.join(sf_dir, "embeddings.parquet"))
    qvec = [float(x) for x in qrow["embedding"]]
    return ivf.ivf_topk(spark, path, qvec, k=10, nprobe=8)


@query("embedding_centroids")
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids as (label, dim, centroid_v, n)
    rows — posexplode + hash agg, the scale form of vector averaging."""
    return similarity.label_centroids(
        load(spark, sf_dir, "embeddings"), "label", "embedding"
    )


@query("embedding_quantize", headline=True)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization stats per embedding
    (operators/similarity.py:quantize_int8) — codegen'd floor-based
    mapping whose arithmetic both engines reproduce bit-for-bit."""
    return similarity.quantize_int8(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


@query("embedding_gram", headline=True)
def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram matrix of the embedding table (similarity.gram_matrix):
    per-partition d×d BLAS partials, shuffle carries tasks×d² scalars
    — never rows×d² (the PCA/whitening pre-pass)."""
    return similarity.gram_matrix(load(spark, sf_dir, "embeddings"), "embedding")


@query("image_thumbnails")
def image_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode→resize preprocessing (multimodal.thumbnail_features
    over real PNG bytes from the deterministic synth): solid-gray
    sources make the thumbnail mean analytic, so the oracle checks the
    actual decode+resize arithmetic."""
    return multimodal.thumbnail_features(
        multimodal.attach_images(load(spark, sf_dir, "documents"), "doc_id")
    ).select("doc_id", "width", "height", "thumb_w", "thumb_h", "thumb_mean")


@query("ann_pq_topk")
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (similarity.pq_topk, Jégou et al. PQ):
    deterministic per-subspace codebooks, nibble codes, ADC lookup-table
    scan over the 64×-smaller code relation, exact-cosine re-rank of
    the top candidates. Approximate ⇒ rows-only driver check; the
    recall unit test pins quality against brute force."""
    return similarity.pq_topk(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        query_id=0, k=10, rerank=8,
    )


@query("ann_ivfpq_topk")
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via the composed IVF+PQ index (FAISS IVFADC
    architecture, Jégou et al.): partition pruning on the coarse cell
    × ADC scan over the (id, code) projection × exact-cosine re-rank.
    Content-fingerprinted lifecycle (ivf.ensure_ivfpq). Probabilistic
    recall ⇒ rows-only; the unit pins exactness at full probe + deep
    re-rank."""
    import os as _os

    from nabatshy_spark.operators import ivf

    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.filter(emb.vec_id == 0).first()
    if qrow is None:
        return spark.createDataFrame([], "vec_id long, cos double")
    path = ivf.ensure_ivfpq(spark, _os.path.join(sf_dir, "embeddings.parquet"))
    return ivf.ivfpq_topk(
        spark, path, [float(x) for x in qrow.embedding], k=10, nprobe=8, rerank=8
    )


@query("embedding_norm_stats", headline=True)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding L2-norm² health stats (drift / collapsed-
    vector detection before ANN indexing). The norm is a per-row
    array fold (no explode, no shuffle until the tiny per-label agg);
    6-dp rounding bounds cross-engine float reassociation, the same
    contract as embedding_gram."""
    emb = load(spark, sf_dir, "embeddings")
    norms = emb.select(
        "label",
        F.expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE),"
            " (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        ).alias("norm2"),
    )
    return (
        norms.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("norm2"), 6).alias("avg_norm2"),
            F.round(F.min("norm2"), 6).alias("min_norm2"),
            F.round(F.max("norm2"), 6).alias("max_norm2"),
        )
        .orderBy("label")
    )


@query("ann_recall_report")
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the approximate ANN paths (hyperplane LSH and
    PQ/ADC) against exact brute-force cosine, per probe query — the
    eval artifact an index rollout gates on. BOTH indexes are built
    ONCE and shared across all probes, the production shape: the PQ
    codebooks + encoded corpus, and the LSH signature relation
    (re-hashing the corpus per probe costs ~3 s × |probes| at
    sf0.01). Probabilistic by construction
    → rows-only check (no SQL oracle); the unioned per-query plans
    stay fully distributed (no collect of candidate sets).
    """
    emb = load(spark, sf_dir, "embeddings").localCheckpoint(eager=False)
    probes = [0, 1, 2, 3]
    signed = similarity.lsh_signature(emb, "embedding", 64).localCheckpoint(
        eager=False
    )
    books = similarity.pq_codebooks(emb, "vec_id", "embedding", dim=64)
    # An empty corpus trains no centroids — report the LSH path only
    # (every per-probe frame is empty anyway) instead of encoding
    # against zero codebooks.
    have_pq = bool(books and books[0])
    encoded = (
        similarity.pq_encode(emb, "vec_id", "embedding", books).localCheckpoint(
            eager=False
        )
        if have_pq
        else None
    )
    reports = []
    for qid in probes:
        exact = similarity.cosine_topk(
            emb, "vec_id", "embedding", query_id=qid, k=10
        ).select(F.col("vec_id").alias("nbr"))
        approx = {
            "lsh": similarity.lsh_topk(
                emb, "vec_id", "embedding", query_id=qid, signed=signed
            ),
        }
        if have_pq:
            approx["pq"] = similarity.pq_topk(
                emb, "vec_id", "embedding", query_id=qid, k=10,
                books=books, encoded=encoded,
            )
        for method, res in approx.items():
            hits = exact.join(
                res.select(F.col("vec_id").alias("nbr")), "nbr", "inner"
            ).agg(F.count("*").alias("n_hits"))
            reports.append(
                hits.select(
                    F.lit(qid).alias("query_id"),
                    F.lit(method).alias("method"),
                    F.col("n_hits"),
                    F.round(F.col("n_hits") / 10.0, 2).alias("recall_at_10"),
                )
            )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("query_id", "method")


@query("image_dup_groups", headline=True)
def image_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact image dedup on DECODED pixel content (not payload bytes —
    the same pixels re-encoded compress differently): group by the
    decoded gray level, keep groups of ≥2 with the canonical (min)
    doc. The deterministic synth makes the expected groups analytic,
    so the oracle checks the real PNG decode path end to end."""
    feats = multimodal.image_features(
        multimodal.attach_images(load(spark, sf_dir, "documents"), "doc_id")
    )
    return (
        feats.filter(F.col("decode_error").isNull())
        .select("doc_id", F.col("mean_pixel").cast("int").alias("gray"))
        .groupBy("gray")
        .agg(
            F.count("*").alias("n_images"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_images") >= 2)
        .orderBy("gray")
    )


@query("video_scene_changes", headline=True)
def video_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over keyframe videos: decode EVERY keyframe
    (real PNG decode, Arrow-batched mapInPandas), then a per-video lag
    window on the frame means flags cuts where |Δ| > 100 gray levels.
    The synthetic frames' gray = (id·7 + i·13) mod 256, so the oracle
    re-derives every mean analytically and the check covers the
    actual decode→window composition end to end. The window
    partitions by video — partition-local after the frame-feature
    shuffle; blobs never shuffle (they explode inside the Python
    batch)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    frames = multimodal.attach_frames(docs, "doc_id")
    feats = multimodal.frame_sample_features(frames, every_n=1).filter(
        F.col("decode_error").isNull()
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    d = feats.withColumn("__prev", F.lag("mean_pixel").over(w)).withColumn(
        "__delta", F.abs(F.col("mean_pixel") - F.col("__prev"))
    )
    return (
        d.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum(
                F.when(F.col("__delta") > 100, 1).otherwise(0)
            ).alias("n_cuts"),
            F.round(F.max("__delta"), 6).alias("max_delta"),
        )
        .orderBy("doc_id")
    )


@query("embedding_label_drift", headline=True)
def embedding_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift per label: Euclidean distance between each
    label's centroid and the corpus centroid, with the label's mean
    within-cluster distance as the dispersion yardstick — the
    vector-space sibling of ks_source_drift/chi2_lang_source (text
    drift screens miss a feed whose TEXT looks fine but whose
    embeddings moved).  One posexplode pass builds per-(label, dim)
    sums; every centroid, the global centroid (derived from the label
    sums, not a second scan), and the 64-dim distance arithmetic live
    on the labels×dims relation.  The second scan computes each
    vector's distance to its (broadcast) label centroid for the
    dispersion column."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("pos", "val"),
    ).select("vec_id", "label", "pos", F.col("val").cast("double").alias("val"))
    lab = dims.groupBy("label", "pos").agg(
        F.sum("val").alias("s"), F.count("*").alias("n")
    )
    glob = lab.groupBy("pos").agg(
        (F.sum("s") / F.sum("n")).alias("g")
    )
    cent = lab.select(
        "label", "pos", (F.col("s") / F.col("n")).alias("c")
    )
    dist = (
        cent.join(F.broadcast(glob), "pos")
        .groupBy("label")
        .agg(
            F.sqrt(
                F.sum((F.col("c") - F.col("g")) * (F.col("c") - F.col("g")))
            ).alias("centroid_dist"),
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("centroid_norm"),
        )
    )
    spread = (
        dims.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                (F.col("val") - F.col("c")) * (F.col("val") - F.col("c"))
            ).alias("d2")
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.avg(F.sqrt("d2")).alias("avg_within_dist"),
        )
    )
    return (
        spread.join(F.broadcast(dist), "label")
        .select(
            "label", "n_vecs",
            F.round("centroid_dist", 6).alias("centroid_dist"),
            F.round("centroid_norm", 6).alias("centroid_norm"),
            F.round("avg_within_dist", 6).alias("avg_within_dist"),
        )
        .orderBy("label")
    )


@query("decontaminate_semantic", headline=True)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) decontamination — the vector twin of
    the n-gram ``decontaminate_corpus``: corpus vectors whose cosine
    against ANY eval-set vector reaches 0.35 are contamination
    candidates even when no 8-gram overlaps (paraphrased eval items).
    The eval side (vec_id % 50 == 0 here; thousands of rows in a real
    bench suite) is broadcast, so the corpus never shuffles — one
    scan, a broadcast nested-loop with pure higher-order-function
    arithmetic (zip_with product + aggregate sum, JVM codegen, no
    UDF), then a per-vector top-1 window over only the ≥-threshold
    survivors.  Cosines are rounded to 6 dp BEFORE the threshold and
    the best-match ordering so float reassociation can't flip a
    boundary row between engines."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    norm = F.sqrt(
        F.aggregate(
            "emb", F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    ev = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("ev_id"),
        F.col("emb").alias("ev_emb"),
        norm.alias("ev_norm"),
    )
    co = emb.filter(F.col("vec_id") % 50 != 0).withColumn("co_norm", norm)
    dot = F.aggregate(
        F.zip_with("emb", "ev_emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = F.round(dot / (F.col("co_norm") * F.col("ev_norm")), 6)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("ev_id")
    )
    return (
        co.crossJoin(F.broadcast(ev))
        .select("vec_id", "label", "ev_id", sim.alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id", "label",
            F.col("ev_id").alias("matched_eval"), "cosine",
        )
        .orderBy("vec_id")
    )


@query("embedding_pca_variance", headline=True)
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA explained-variance spectrum of the embeddings table
    (similarity.pca_variance_report): distributed one-pass mean +
    Gram fold, driver-side eigh on the d x d covariance (O(1)
    scalars). Rows-only driver check — eigensolver float details
    differ across engines; the unit test pins the trace identity and
    spectrum shape instead."""
    from nabatshy_spark.operators.similarity import pca_variance_report

    return pca_variance_report(
        load(spark, sf_dir, "embeddings"), "embedding"
    )


@query("ann_threshold_search", headline=True)
def ann_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine range search (all neighbors with cos ≥ 0.25 of vector 0,
    operators/similarity.cosine_range_search): broadcast query, one
    corpus scan, codegen'd filter, no shuffle. The radius-query twin
    of ann_cosine_topk, oracle-checked exactly (DuckDB
    list_dot_product arithmetic matches Spark's aggregate fold)."""
    return similarity.cosine_range_search(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        query_id=0, threshold=0.25,
    )


@query("knn_label_eval", headline=True)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-propagation evaluation (k=5): hold out every 10th
    vector, predict its label by majority vote of its 5 nearest
    training vectors (exact cosine, ties → smaller label), and report
    per-label accuracy — the eval harness behind embedding-based
    quality/topic classifiers bootstrapped from a small labeled set.

    Scale: the eval set is broadcast (it is the SMALL side by
    construction); the corpus is scanned once, and per-eval top-k is a
    WindowGroupLimit (partial per-partition top-5, then final) over
    |eval|×|train| candidate rows — losers never survive the shuffle.
    Each side's norm is computed ONCE per row before the pair
    expansion, so the per-pair expression is just the dot fold — the
    norm folds are O(N+M), not O(N·M) (measured 3× on the interpreted
    higher-order-function path). The train side is rebalanced to the
    session's parallelism when the source arrives in fewer partitions
    (a 2 MB single-file scan would otherwise run the whole nested loop
    on one task); at 100 TB the scan is naturally parallel and the
    train side would first pass through the IVF/LSH pruner
    (operators/ivf.py) — this is the exact-reference twin."""
    emb = load(spark, sf_dir, "embeddings")

    def norm(col: str):  # noqa: ANN202 — sqrt of the self-dot fold
        return F.sqrt(
            F.aggregate(
                F.transform(
                    F.col(col), lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    evals = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("__qv"),
        F.col("label").alias("true_label"),
        norm("embedding").alias("__qn"),
    )
    train = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("__tv"),
        F.col("label").alias("train_label"),
        norm("embedding").alias("__tn"),
    )
    # Rebalance only when the source arrives in fewer files than the
    # session's parallelism (inputFiles is driver-side metadata — no
    # job, unlike .rdd.getNumPartitions() which converts the plan). At
    # 100 TB the scan has thousands of splits and this never fires, so
    # the big side is never gratuitously shuffled.
    par = spark.sparkContext.defaultParallelism
    if len(emb.inputFiles()) < par:
        train = train.repartition(par)
    dot = F.aggregate(
        F.zip_with(
            F.col("__tv"),
            F.col("__qv"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = train.join(F.broadcast(evals)).select(
        "eval_id",
        "true_label",
        "train_id",
        "train_label",
        F.round(dot / (F.col("__tn") * F.col("__qn")), 6).alias("__cos"),
    )
    w_rank = Window.partitionBy("eval_id").orderBy(
        F.col("__cos").desc(), F.col("train_id").asc()
    )
    votes = (
        pairs.withColumn("__rk", F.row_number().over(w_rank))
        .filter(F.col("__rk") <= 5)
        .groupBy("eval_id", "true_label", "train_label")
        .agg(F.count("*").alias("__v"))
    )
    w_vote = Window.partitionBy("eval_id").orderBy(
        F.col("__v").desc(), F.col("train_label").asc()
    )
    pred = (
        votes.withColumn("__pr", F.row_number().over(w_vote))
        .filter(F.col("__pr") == 1)
        .select(
            "eval_id",
            "true_label",
            F.col("train_label").alias("pred_label"),
        )
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count("*").alias("n_eval"),
            F.sum(
                (F.col("pred_label") == F.col("true_label")).cast("int")
            ).alias("n_correct"),
        )
        .select(
            "true_label",
            "n_eval",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_eval"), 6).alias("accuracy"),
        )
        .orderBy("true_label")
    )


@query("embedding_outlier_mahal", headline=True)
def embedding_outlier_mahal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier audit via diagonal Mahalanobis distance:
    per-dimension mean/variance over the corpus, then each vector's
    distance sqrt(Σ (x_d-μ_d)²/σ²_d); the 20 most anomalous vectors are
    flagged — the embedding-quality gate that catches collapsed,
    corrupt, or out-of-distribution vectors before they poison
    dedup/ANN stages. Top-k rather than a fixed radius because a χ₆₄
    distance concentrates hard around √64 — an absolute threshold is
    either empty or the whole corpus; "most anomalous k" is the form
    that stays meaningful at every corpus size.

    Scale: the stats relation is d rows (dimension-sized, broadcast);
    both passes are explode→sum aggregates with map-side partials —
    no all-pairs term anywhere, O(N·d) total."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("__d", "__x"),
    ).withColumn("__x", F.col("__x").cast("double"))
    stats = dims.groupBy("__d").agg(
        F.avg("__x").alias("__mu"),
        (F.avg(F.col("__x") * F.col("__x"))).alias("__msq"),
    ).withColumn("__var", F.col("__msq") - F.col("__mu") * F.col("__mu"))
    dist = (
        dims.join(F.broadcast(stats), "__d")
        .withColumn(
            "__z2",
            (F.col("__x") - F.col("__mu"))
            * (F.col("__x") - F.col("__mu"))
            / F.col("__var"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum("__z2")).alias("__dist"))
    )
    return (
        dist.select(
            "vec_id", "label", F.round("__dist", 3).alias("mahal_dist")
        )
        .orderBy(F.col("mahal_dist").desc(), F.col("vec_id").asc())
        .limit(20)
    )


@query("image_dhash_near_dups", headline=True)
def image_dhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup groups via dHash
    (operators/multimodal.image_dhash): decode → grayscale → 9×8
    nearest-resize → 64 horizontal-gradient-sign bits, then group by
    hash — collapses "same image at a different exposure" duplicates
    that exact pixel dedup (image_dup_groups) and byte hashing both
    miss, because dHash depends only on gradient signs, which a global
    brightness shift leaves untouched.

    The synthetic ingest (attach_patterned_images) makes the check
    analytic: pattern = id%4, brightness = (id·7)%64, so the hash
    groups must be EXACTLY the id%4 classes — the SQL oracle derives
    the expected groups from id arithmetic while the Spark side earns
    them through the real PNG encode→decode→resize→hash path (the
    attach_audio differential-check trick applied to perceptual
    hashing).

    Scale: hashing is a narrow Arrow-batched stage over the blob scan;
    the group-by shuffles 8-byte hashes, never pixels."""
    from nabatshy_spark.operators import multimodal

    docs = load(spark, sf_dir, "documents")
    h = multimodal.image_dhash(
        multimodal.attach_patterned_images(docs, "doc_id")
    )
    return (
        h.filter(F.col("decode_error").isNull())
        .groupBy("dhash")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count("*").alias("n_images"),
        )
        .select("canonical_doc", "n_images")
        .orderBy("canonical_doc")
    )


@query("embedding_label_separation", headline=True)
def embedding_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class-separation audit: per label, the average
    cosine of members to their OWN label centroid vs to their nearest
    FOREIGN centroid, and the margin between the two — the
    Davies-Bouldin-flavored health check that tells you whether labels
    are even separable in this embedding space before training a
    classifier on it (complements embedding_label_drift, which tracks
    movement, not separability).

    Scale: centroids are a |labels|×d aggregate (dimension-sized,
    broadcast); each vector computes d-length folds against ≤|labels|
    centroid arrays — O(N·L·d) scan work, no pairwise term."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("__d", "__x")
    ).withColumn("__x", F.col("__x").cast("double"))
    cent = (
        dims.groupBy("label", "__d")
        .agg(F.avg("__x").alias("__m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__d"), F.col("__m")))
                ),
                lambda s: s["__m"],
            ).alias("__cv")
        )
        .select(F.col("label").alias("c_label"), "__cv")
    )

    def _norm(col):  # sqrt of the self-dot fold — engine-portable
        return F.sqrt(
            F.aggregate(
                F.transform(col, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    # Hoist each side's norm out of the vector×centroid expansion (the
    # knn_label_eval lesson: HOF folds are interpreted, so the per-pair
    # expression should be the dot alone — norms are O(N+L), not O(N·L)).
    cent = cent.withColumn("__cn", _norm(F.col("__cv")))
    vecs = emb.withColumn("__vn", _norm(F.col("embedding")))
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("__cv"), lambda x, y: x.cast("double") * y
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = vecs.join(F.broadcast(cent)).withColumn(
        "__cos", dot / (F.col("__vn") * F.col("__cn"))
    )
    own = scored.filter(F.col("label") == F.col("c_label")).select(
        "vec_id", "label", F.col("__cos").alias("__own")
    )
    foreign = (
        scored.filter(F.col("label") != F.col("c_label"))
        .groupBy("vec_id")
        .agg(F.max("__cos").alias("__best_foreign"))
    )
    return (
        own.join(foreign, "vec_id")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("__own"), 6).alias("avg_intra_cos"),
            F.round(F.avg("__best_foreign"), 6).alias("avg_best_foreign_cos"),
            F.round(F.avg(F.col("__own") - F.col("__best_foreign")), 6).alias(
                "separation_margin"
            ),
        )
        .orderBy("label")
    )
