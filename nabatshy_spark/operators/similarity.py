"""Similarity search over embedding columns (SURVEY §2.11).

Baseline: brute-force cosine top-k (exact, one scan, broadcast query
vector). Scale path: random-hyperplane LSH — signatures are computed
with engine-portable deterministic planes, candidates come from a
band-bucket join, and only candidates get the exact cosine.

At 100 TB the brute-force path is a full scan per query — fine for
batch scoring (it's embarrassingly parallel, no shuffle), wrong for
interactive lookup; the LSH path reads only matching buckets, and an
IVF layout (partitionBy coarse cluster id on write) would let the scan
prune files entirely.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nabatshy_spark.operators.dedup import COSINE_THRESHOLD, cosine

# LSH banding: lsh_topk's signature width, and the band count both
# LSH operators split a signature into
_LSH_TOPK_PLANES = 64
_LSH_BANDS = 16
# PQ codes: 8 subspaces of 16 centroids each, trained in 3 Lloyd
# rounds
PQ_M = 8
PQ_KS = 16
_PQ_ITERS = 3


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query_id: int, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine to the vector of ``query_id`` (excluded
    from results). The 1-row query side is broadcast; ranking is a
    TakeOrderedAndProject (per-partition top-k, single-reduce merge —
    no global sort)."""
    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__q")
    )
    return (
        df.filter(F.col(id_col) != query_id)
        .join(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__q")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_range_search(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    threshold: float,
) -> DataFrame:
    """Exact cosine RANGE search: every vector with cosine ≥
    ``threshold`` to the vector of ``query_id`` (itself excluded) —
    the all-neighbors twin of :func:`cosine_topk` (radius query instead
    of k-nearest, the shape dedup/contamination sweeps want).

    Scale shape: identical to topk — the 1-row query side is broadcast,
    the corpus is scanned once, the threshold filter is a codegen'd
    predicate on the scan output, and NOTHING shuffles (the final sort
    is over the matched handful, not the corpus). The IVF/LSH variants
    prune the scan when the radius is tight; this is the exact
    reference plan they are checked against.
    """
    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__q")
    )
    return (
        df.filter(F.col(id_col) != query_id)
        .join(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__q")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
    )


# --- random-hyperplane LSH -------------------------------------------------


def _planes(dim: int, num: int) -> list[list[float]]:
    rng = random.Random(42)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num)]


def lsh_signature(df: DataFrame, vec_col: str, num_planes: int = 16, dim: int = 64) -> DataFrame:
    """Append a ``__sig`` bit-signature column: bit i = sign of the dot
    product with deterministic gaussian plane i.

    Arrow-batched pandas UDF doing ONE numpy matmul per batch
    ((batch×dim) @ (dim×planes) → sign bits packed into an int64) —
    measured 4.1 s → 0.6 s for the 64-plane signature over 5k vectors
    at sf0.1 vs the per-plane ``aggregate(zip_with(...))`` HOF chain
    (HOFs are interpreted per element; 64 planes × 64 dims per row is
    exactly the workload the pandas-UDF exception in SURVEY §2.10 is
    for). Plane matrix is a broadcast-sized closure constant
    (dim × planes × 8 bytes). EXACT zeros keep the HOF semantics (only
    strictly positive dots set a bit) — but near-zero dots are NOT
    bit-identical to the old sequential HOF fold: numpy's matmul
    accumulates in a different order, so a dot within float rounding
    of 0 can flip sign vs a sequential fold. Only
    approximate/rows-only consumers read signatures, and recall gates
    (ann_recall_report) are the contract, not bit-stability across
    implementations. Null or wrong-dimension vectors raise with the
    offending row identified rather than producing a silent garbage
    signature."""
    import numpy as np
    from pyspark.sql import functions as _F
    from pyspark.sql.functions import pandas_udf

    planes_m = np.array(_planes(dim, num_planes), dtype=np.float64).T

    @pandas_udf("long")
    def _sig(vecs):  # pd.Series of list<float> -> pd.Series of long
        # Closure, not module-level: cloudpickle ships it by value so
        # external-driver executors don't need /root/repo on sys.path.
        import numpy as _np
        import pandas as _pd

        if len(vecs) == 0:
            return _pd.Series([], dtype="int64")
        bad = [
            i
            for i, v in enumerate(vecs)
            if v is None or len(v) != planes_m.shape[0]
        ]
        if bad:
            v0 = vecs.iloc[bad[0]]
            raise ValueError(
                f"lsh_signature: vector at batch offset {bad[0]} is "
                f"{'null' if v0 is None else f'dim {len(v0)}'}; expected "
                f"dim {planes_m.shape[0]} — clean or filter the "
                "embedding column before signing"
            )
        x = _np.asarray(
            [_np.asarray(v, dtype=_np.float64) for v in vecs]
        )
        bits = (x @ planes_m) > 0.0
        weights = _np.left_shift(
            _np.int64(1), _np.arange(planes_m.shape[1], dtype=_np.int64)
        )
        return _pd.Series(bits.astype(_np.int64) @ weights)

    return df.withColumn("__sig", _sig(_F.col(vec_col)))


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    signed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-10: candidates share at least one signature band
    with the query (64 planes → 16 bands of 4 bits), then exact cosine
    on candidates only. Returns the same schema as ``cosine_topk``;
    recall is probabilistic (hence no SQL oracle — the driver records
    a rows-only check; tests/test_round8_ops.py gates mean recall@10
    ≥ 0.8 on the fixture). Pass a precomputed ``signed`` relation
    (``lsh_signature(df, vec_col, 64)``, the production index)
    to probe many queries without re-hashing the corpus per probe —
    the same share-the-index shape as pq_topk's ``encoded``.

    Parameter math (and why 16 bands): per-band
    collision probability for a neighbor at angle θ is (1−θ/π)^bits;
    the fixture's exact 10th neighbors sit at cosine ≈ 0.24-0.28
    (p ≈ 0.60), so a 4-bit band collides at p⁴ ≈ 0.13 and recall ≈
    1−(1−0.13)^B needs B ≈ 12-16 bands — measured on the fixture:
    4 bands 0.25, 8 bands 0.575, 12 bands 0.75, 16 bands 0.825. The
    cost is candidate fraction ≈ 1−(1−2⁻⁴)^16 ≈ 0.64 of the corpus at
    this WEAK-neighbor similarity — hyperplane LSH only prunes well
    when neighbors are close (p ≥ 0.75 ⇒ the same 16 bands reach
    recall ≥ 0.99 with far smaller buckets); for weak-similarity
    corpora the IVF path (operators/ivf.py) is the pruning index."""
    bits = _LSH_TOPK_PLANES // _LSH_BANDS
    mask = (1 << bits) - 1
    if signed is None:
        signed = lsh_signature(df, vec_col, _LSH_TOPK_PLANES)
    band_arr = F.array(
        *[
            F.shiftright("__sig", bits * j).bitwiseAND(F.lit(mask))
            for j in range(_LSH_BANDS)
        ]
    )
    banded = signed.select(
        F.col(id_col), F.col(vec_col), F.posexplode(band_arr).alias("__band", "__key")
    )
    qb = banded.filter(F.col(id_col) == query_id).select(
        F.col("__band").alias("__qband"),
        F.col("__key").alias("__qkey"),
        F.col(vec_col).alias("__q"),
    )
    candidates = (
        banded.filter(F.col(id_col) != query_id)
        .join(
            F.broadcast(qb),
            (F.col("__band") == F.col("__qband")) & (F.col("__key") == F.col("__qkey")),
        )
        .select(F.col(id_col), F.col(vec_col), F.col("__q"))
        .dropDuplicates([id_col])
    )
    return (
        candidates.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("__q")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(10)
    )


def lsh_dup_pairs(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed (the scale path for
    ``dedup.embedding_dup_pairs``): candidates share a signature band,
    then exact cosine ≥ ``COSINE_THRESHOLD`` on candidates only; verification is
    exact, so precision is 1 and only recall is probabilistic.

    Parameter rule (EXECUTED here, not just documented): bits-per-band
    trades recall against candidate volume and must scale with log N.
    Candidate volume is ~ bands × N² / 2^(bits+1), so bits are chosen
    from a cheap count: 2-bit bands below N=2000 (recall ≈
    1-(1-0.648²)^16 ≈ 0.9998 at cos 0.45), 4-bit above (recall ≈
    1-(1-0.648⁴)^16 ≈ 0.955, 4× fewer candidate pairs — measured 12.7s →
    ~4s at sf0.1). Past ~10⁶ rows raise the plane budget instead (e.g.
    8-bit bands × 64 = 512 planes) — wider signatures cost one linear
    scan, candidate expansion costs N². Rows-only check; tests measure
    overlap vs brute force."""
    bits = 2 if df.count() <= 2000 else 4
    num_planes = bits * _LSH_BANDS
    mask = (1 << bits) - 1
    signed = lsh_signature(df, vec_col, num_planes)
    band_arr = F.array(
        *[
            F.shiftright("__sig", bits * j).bitwiseAND(F.lit(mask))
            for j in range(_LSH_BANDS)
        ]
    )
    banded = signed.select(
        F.col(id_col), F.posexplode(band_arr).alias("__band", "__key")
    )
    ids = F.array_sort(F.collect_list(id_col))
    pairs = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("__ids"), i + 2, F.greatest(F.size("__ids") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    candidates = (
        banded.groupBy("__band", "__key")
        .agg(ids.alias("__ids"))
        .filter(F.size("__ids") > 1)
        .select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.doc_a"), F.col("__p.doc_b"))
        .distinct()
    )
    # Verification is the volume stage when the corpus has no cosine
    # gap (candidates ≈ all pairs): one Arrow-batched numpy einsum per
    # batch instead of an interpreted per-element HOF fold — same
    # values, measured ~3× on 12M candidates at sf0.1.
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them and pandas_udf's hint inference can't resolve local names —
    # the explicit PandasUDFType default (SCALAR) is what we want
    @pandas_udf("double")
    def _cos6(va, vb):
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(va.to_numpy()).astype("float64")
        B = np.stack(vb.to_numpy()).astype("float64")
        dots = np.einsum("ij,ij->i", A, B)
        cos = dots / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))
        return pd.Series(np.round(cos, 6))

    vecs = df.select(F.col(id_col), F.col(vec_col))
    return (
        candidates.join(
            vecs.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("__va")),
            "doc_a",
        )
        .join(
            vecs.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("__vb")),
            "doc_b",
        )
        .withColumn("cos", _cos6(F.col("__va"), F.col("__vb")))
        .filter(F.col("cos") >= COSINE_THRESHOLD)
        .select("doc_a", "doc_b", "cos")
    )


def label_centroids(df: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label centroid of a vector column, emitted as (label, dim,
    centroid_v, n) rows — the aggregation a clustering / prototype /
    drift-monitoring job runs over an embedding table.

    Row-form on purpose: posexplode → groupBy(label, dim) is a plain
    partial-aggregated hash agg (|labels|×|dims| groups), which scales
    to any corpus without ever holding arrays in agg state; re-assemble
    with array_agg ordered by dim when an array is needed.
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_v"),
        F.count("*").alias("n"),
    )


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale = max|v| / 127, components mapped with floor(v / scale) —
    the storage/ANN-compression step that cuts an embedding table 4×
    before indexing. floor (not round) on purpose: IEEE double divide
    + floor is bit-reproducible across engines, while round's
    half-way rule differs between them; the ≤1-LSB downward bias is
    irrelevant to retrieval quality.

    Emits per-vector summary stats (scale, q_min, q_max, l1 norm of
    the quantized vector) — scalar columns so an exact cross-engine
    oracle can check the math; a writer would project the quantized
    array itself (the ``q`` expression) next to them.

    Pure codegen'd column expressions over one narrow scan — the
    quantization itself adds no shuffle and no UDF.
    """
    # Stage the per-vector scale into its own projection: inlining the
    # array_max expression into the quantize lambda would re-evaluate
    # it PER ELEMENT (O(d²) interpreted work per row — measured ~10×
    # slower); as a materialized column it's computed once per row.
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    staged = df.select(
        F.col(id_col),
        v.alias("__v"),
        F.when(maxabs > 0, maxabs / F.lit(127.0)).otherwise(F.lit(1.0)).alias(
            "__scale"
        ),
    )
    scale = F.col("__scale")
    q = F.transform(F.col("__v"), lambda x: F.floor(x / scale).cast("int"))
    return staged.select(
        F.col(id_col),
        F.round(scale, 9).alias("scale"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q_l1"),
    )


def gram_matrix(df: DataFrame, vec_col: str) -> DataFrame:
    """Gram (uncentered second-moment) matrix of an embedding column:
    G[i,j] = Σ_rows v_i·v_j — the one-pass statistic behind PCA/
    whitening/covariance (center by subtracting mean⊗mean downstream).

    Scale shape: each PARTITION folds its rows into one d×d numpy
    partial (mapInPandas — d² floats of state per task, one BLAS
    ``X.T @ X`` per Arrow batch), then the d² (i, j, partial) rows
    groupBy-sum. Nothing row-proportional ever shuffles: the exchange
    carries tasks × d² scalars. The d×explode SQL form would shuffle
    rows × d² values — 6 orders of magnitude more at 100 TB.

    Returns (i, j, g) for the upper triangle (i ≤ j; the matrix is
    symmetric), g rounded to 6 for cross-engine comparison.
    """
    import pandas as pd

    probe = df.select(vec_col).first()  # O(1) schema probe
    if probe is None:  # empty table: no dimensionality, empty matrix
        return df.sparkSession.createDataFrame([], "i: int, j: int, g: double")
    d_probe = len(probe[0])

    def partial_gram(batches):
        import numpy as np

        acc = np.zeros((d_probe, d_probe))
        for pdf in batches:
            if len(pdf):
                x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                acc += x.T @ x
        iu = np.triu_indices(d_probe)
        yield pd.DataFrame(
            {"i": iu[0].astype("int32"), "j": iu[1].astype("int32"), "g": acc[iu]}
        )

    partials = df.select(vec_col).mapInPandas(
        partial_gram, "i: int, j: int, g: double"
    )
    return (
        partials.groupBy("i", "j")
        .agg(F.round(F.sum("g"), 6).alias("g"))
    )


# --- product quantization (PQ/ADC) ----------------------------------------


def _sqdist_sql(vec_sql: str, centroid: list[float]) -> str:
    """SQL-string twin of clustering._sqdist — Σ (v−c)² as the SAME
    zip_with/aggregate fold, emitted as text so a caller composing
    hundreds of distance expressions pays ONE py4j call + one parse
    instead of ~20 py4j round trips per centroid. Double literals use
    repr (shortest round-trip) with the D suffix, so the JVM sees the
    exact same IEEE values F.lit would ship.

    Non-finite components are rejected up front: repr()
    renders them 'nan'/'inf', whose D-suffixed forms do not parse in
    Spark SQL — and a NaN centroid means the k-means training data
    contained non-finite values, which every downstream distance
    comparison would silently poison anyway (NaN propagates through
    the fold and fails every argmin), so the actionable error beats
    emitting CAST('NaN' AS DOUBLE) and limping on."""
    bad = [x for x in centroid if not math.isfinite(float(x))]
    if bad:
        raise ValueError(
            f"_sqdist_sql: centroid contains non-finite component(s) "
            f"{bad[:3]} — training vectors must be finite (filter or "
            "impute the embedding column before k-means/PQ)"
        )
    arr = ",".join(f"{float(x)!r}D" for x in centroid)
    return (
        f"aggregate(zip_with({vec_sql}, array({arr}),"
        " (a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)"
    )


def pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks (Jégou, Douze, Schmid, "Product
    quantization for nearest neighbor search", TPAMI 2011): split the
    ``dim`` dimensions into ``m`` = ``PQ_M`` contiguous subspaces and
    run the deterministic Lloyd's k-means (operators/clustering.py)
    with ``ks`` = ``PQ_KS`` centroids in each.

    The result is m × ks × (dim/m) doubles — O(1) driver data (1 KB
    here). At corpus scale, train on a consistent hash sample
    (sampling.hash_sample) — codebook quality saturates around 10⁵–10⁶
    training vectors regardless of corpus size.

    All m subspaces train TOGETHER, one Spark job per Lloyd round
    (posexplode to (subspace, subvector) rows; assignment is a CASE
    chain dispatching each row to its own subspace's centroid argmin;
    means come back in one two-level aggregate keyed by (subspace,
    cluster, dim)). Numerically IDENTICAL to running
    clustering.kmeans_centroids per subspace — same first-ks-ids init,
    same distance tie-break, same means, asserted
    bit-equal by a differential unit in tests/test_round8_ops.py.
    The m×ks distance expressions are built as ONE SQL string
    (F.expr), not composed F-calls: each F call is a py4j round trip,
    and 128 HOF trees cost ~4.5 s per round in pure driver-side
    construction — the string form parses in one call, and the
    distance array materializes once per row before the argmin.
    Measured 18.2 s → 6.5 s for the m=8 default at sf0.01 (the
    remainder is parse+analysis of the still-large tree; steady-state
    execution is ~0.3 s/round)."""
    m, ks = PQ_M, PQ_KS
    sub = dim // m
    init = df.orderBy(id_col).limit(ks).select(vec_col).collect()
    books = [
        [
            [float(x) for x in r[0][j * sub : (j + 1) * sub]]
            for r in init
        ]
        for j in range(m)
    ]
    if not init:
        return books
    sv_arr = F.array(
        *[
            F.transform(
                F.slice(F.col(vec_col), j * sub + 1, sub),
                lambda x: x.cast("double"),
            )
            for j in range(m)
        ]
    )
    for _ in range(_PQ_ITERS - 1):
        branches = []
        for j in range(m):
            dists = "array(" + ",".join(
                f"round({_sqdist_sql('__sv', c)}, 9)" for c in books[j]
            ) + ")"
            branches.append(f"WHEN __j = {j} THEN {dists}")
        # materialize the 16-distance array ONCE per row (half the
        # expression tree vs inlining it into both argmin operands),
        # then argmin over the column — identical values either way
        dist_case = F.expr("CASE " + " ".join(branches) + " END")
        assign = F.expr(
            "CAST(array_position(__d, array_min(__d)) - 1 AS INT)"
        )
        means = (
            df.select(F.posexplode(sv_arr).alias("__j", "__sv"))
            .withColumn("__d", dist_case)
            .withColumn("__cluster", assign)
            .select(
                "__j", "__cluster", F.posexplode("__sv").alias("__dim", "__val")
            )
            .groupBy("__j", "__cluster", "__dim")
            .agg(F.round(F.avg("__val"), 6).alias("__m"))
            .groupBy("__j", "__cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__dim", "__m"))
                ).alias("__c")
            )
            .collect()
        )
        new = {
            (r["__j"], r["__cluster"]): [e["__m"] for e in r["__c"]]
            for r in means
        }
        # empty clusters keep their previous centroid (same rule as
        # clustering.kmeans_centroids)
        books = [
            [new.get((j, i), books[j][i]) for i in range(ks)]
            for j in range(m)
        ]
    return books


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
) -> DataFrame:
    """Encode vectors to their PQ codes: code[j] = argmin over the
    subspace-j codebook. Pure array-expression argmin per subspace
    (same tie-break discipline as clustering.assign_clusters), one
    narrow scan, no shuffle.

    The ``code`` column is m bytes of information per vector (m=8,
    ks=16 ⇒ 8 nibbles) versus m·sub·8 bytes of raw floats — the ~64×
    storage/scan-IO compression that makes ADC scans cheap: a writer
    persists (id, code) as its own table/column and the raw vectors
    are only touched by the re-rank."""
    m = len(books)
    sub = len(books[0][0])
    codes = []
    for j, book in enumerate(books):
        # SQL-string form for the same py4j-construction reason as
        # pq_codebooks (m×ks distance trees).
        sv = (
            f"transform(slice({vec_col}, {j * sub + 1}, {sub}),"
            " x -> CAST(x AS DOUBLE))"
        )
        dists = "array(" + ",".join(
            f"round({_sqdist_sql(sv, c)}, 9)" for c in book
        ) + ")"
        codes.append(
            f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"
        )
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr("array(" + ",".join(codes) + ")").alias("code"),
    )


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int = 10,
    rerank: int = 8,
    books: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance computation (ADC),
    exact-cosine re-ranked: (1) train codebooks, (2) encode the corpus,
    (3) score every code against the query's per-subspace lookup table
    (m·ks floats, computed driver-side and inlined as literals — the
    scan does m element_at lookups + adds per row, nothing else),
    (4) TakeOrdered the ``rerank·k`` best ADC candidates, (5) exact
    cosine on those candidates only, top-k. Same output schema as
    ``cosine_topk``; recall is approximate (rows-only driver check,
    recall pinned by unit test).

    100 TB shape: the ADC scan reads ONLY the (id, code) relation —
    ~64× less IO than the raw vectors — and ranking is a per-partition
    top-R merge (TakeOrderedAndProject), no global sort, no shuffle of
    vectors; the re-rank joins ``rerank·k`` ids back to the vector
    table (broadcast of the id set → pushed-down point reads).

    ``books``/``encoded`` let a caller train and encode ONCE and fan
    many probes over the shared index (the production shape: the
    encoded relation is the persisted PQ index, probes only build a
    LUT each) — ``ann_recall_report`` uses this to avoid re-training
    per probe."""
    import numpy as np

    probe = df.filter(F.col(id_col) == query_id).select(vec_col).first()
    if probe is None:
        return df.sparkSession.createDataFrame([], f"{id_col} long, cos double")
    q = np.asarray(probe[0], dtype=np.float64)
    dim = len(q)

    if books is None:
        books = pq_codebooks(df, id_col, vec_col, dim)
    m = len(books)
    sub = dim // m
    if encoded is None:
        encoded = pq_encode(df, id_col, vec_col, books)
    encoded = encoded.filter(F.col(id_col) != query_id)

    # per-subspace LUT of squared distances from the query's subvector
    adc = None
    for j, book in enumerate(books):
        qj = q[j * sub : (j + 1) * sub]
        lut = [float(np.sum((qj - np.asarray(c)) ** 2)) for c in book]
        term = F.element_at(
            F.array(*[F.lit(x) for x in lut]), F.element_at(F.col("code"), j + 1) + 1
        )
        adc = term if adc is None else adc + term
    candidates = (
        encoded.select(F.col(id_col), adc.alias("__adc"))
        .orderBy(F.col("__adc").asc(), F.col(id_col).asc())
        .limit(rerank * k)
    )
    qlit = F.array(*[F.lit(float(x)) for x in q])
    return (
        df.join(F.broadcast(candidates), id_col, "left_semi")
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), qlit), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pca_variance_report(df: DataFrame, vec_col: str) -> DataFrame:
    """Explained-variance spectrum of an embedding column — the PCA
    screen that decides how many dimensions actually carry signal
    (whitening / dimensionality-reduction precursor, Pearson/Hotelling,
    public). Eigenvalues come from the CENTERED covariance: the
    distributed work is the same one-pass d×d second-moment fold as
    :func:`gram_matrix` plus a d-vector mean — nothing row-proportional
    shuffles — and the eigendecomposition runs driver-side on the d×d
    matrix (d² scalars, the same O(1)-to-driver discipline as k-means
    centroids).

    Returns (component, eigenvalue, explained_var_ratio,
    cumulative_ratio), components ordered by eigenvalue descending.
    Approximate at no point — but eigensolvers' float details differ
    across libraries, so this is a rows-only query (no SQL oracle);
    the unit test pins trace identity (Σλ = total variance), ordering,
    and non-negativity."""
    import numpy as np

    # one pass for n + per-dim sums (d floats); gram fold for the d x d
    probe = df.select(vec_col).first()  # O(1) schema probe
    if probe is None:  # empty table: no spectrum
        return df.sparkSession.createDataFrame(
            [],
            "component int, eigenvalue double, explained_var_ratio double, "
            "cumulative_ratio double",
        )
    if probe[0] is None:
        raise ValueError(
            f"pca_variance_report: first {vec_col!r} value is NULL — "
            "filter null vectors out before calling (the column must "
            "be a non-null fixed-length array)"
        )
    d_probe = len(probe[0])
    sums = df.select(
        F.count("*").alias("__n"),
        # coalesce: size(NULL) is NULL in Spark 4 and min/max skip
        # nulls, so a null vector past row 1 would otherwise slip the
        # check while F.sum silently drops it from the moment sums.
        F.min(F.coalesce(F.size(vec_col), F.lit(-1))).alias("__dmin"),
        F.max(F.coalesce(F.size(vec_col), F.lit(-1))).alias("__dmax"),
        *[
            F.sum(F.element_at(F.col(vec_col), i + 1)).alias(f"__s{i}")
            for i in range(d_probe)
        ],
    ).collect()[0]
    if sums["__dmin"] != d_probe or sums["__dmax"] != d_probe:
        raise ValueError(
            f"pca_variance_report: {vec_col!r} lengths vary "
            f"(min={sums['__dmin']}, max={sums['__dmax']}, "
            f"expected {d_probe}) — vectors must be non-null and "
            "fixed-length"
        )
    n = sums["__n"]
    mean = np.array([sums[f"__s{i}"] for i in range(d_probe)]) / n
    g_rows = gram_matrix(df, vec_col).collect()
    g = np.zeros((d_probe, d_probe))
    for r in g_rows:
        g[r.i, r.j] = r.g
        g[r.j, r.i] = r.g
    cov = g / n - np.outer(mean, mean)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    evals = np.clip(evals, 0.0, None)
    total = float(evals.sum())
    rows = []
    cum = 0.0
    for i, ev in enumerate(evals):
        ratio = float(ev / total) if total > 0 else 0.0
        cum += ratio
        rows.append((i + 1, round(float(ev), 6), round(ratio, 6),
                     round(cum, 6)))
    return df.sparkSession.createDataFrame(
        rows,
        "component int, eigenvalue double, explained_var_ratio double, "
        "cumulative_ratio double",
    )
