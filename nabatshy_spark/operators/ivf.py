"""IVF-style vector index: embeddings written partitioned by a coarse
LSH cell, so a top-k query prunes at the FILE level — the storage-side
upgrade of the LSH bucket join (SCALE.md "similarity" section made
executable).

Cell id = the first ``_CELL_BITS`` of the random-hyperplane signature
(deterministic planes, same family as operators/similarity.py). A
query reads only the cells sharing its id — with multi-probe widening
(flip one bit at a time) to recover recall near cell boundaries, the
standard IVF nprobe knob.

At 100 TB this is a directory layout: ``cell=<id>/part-*.parquet``;
Spark's partition pruning turns the probe list into a file-list
restriction before any IO happens (asserted on the physical plan in
tests — PartitionFilters, not a post-scan filter).

Recall depends on how similar the true neighbours actually are:
near-dup workloads (cos > 0.8) concentrate into few cells and probe
cheaply; weakly-similar neighbours (cos ≈ 0.3, near-random directions,
as in the synthetic test embeddings) scatter and need a high nprobe —
the tests assert the recall *shape* (monotone in nprobe, exact at full
probe), not a flattering constant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nabatshy_spark import artifacts
from nabatshy_spark.operators.dedup import cosine
from nabatshy_spark.operators.similarity import PQ_KS, PQ_M, lsh_signature

CELL_COL = "cell"
# the served index: 2^4 cells over 64-d embeddings
_CELL_BITS = 4
_DIM = 64


def build_ivf(df: DataFrame, path: str, vec_col: str = "embedding") -> None:
    """Write the vector table partitioned by its coarse LSH cell."""
    signed = lsh_signature(df, vec_col, num_planes=_CELL_BITS, dim=_DIM)
    (
        signed.withColumn(CELL_COL, F.col("__sig").cast("int"))
        .drop("__sig")
        .write.mode("overwrite")
        .partitionBy(CELL_COL)
        .parquet(path)
    )


# Output versions of the index artifacts (see artifacts.ensure): bump
# one whenever its build's layout or contents change.
_IVF_VERSION = 1
_IVFPQ_VERSION = 1


def ensure_ivf(
    spark: SparkSession,
    source_path: str,
    vec_col: str = "embedding",
) -> str:
    """Explicit, idempotent IVF build step — the index lifecycle owner.

    The index directory is keyed by a fingerprint of the source parquet
    files (path + size + mtime), so a changed embeddings table can
    never be served by a stale layout; the build writes to a staging
    directory and renames it into place, so a failed or concurrent
    build can never expose a partial index. Returns the index path.

    At 100 TB this maps to a catalog-registered table location whose
    name embeds the source snapshot version; the staging-then-rename
    publish is the same pattern (rename is atomic per filesystem /
    object-store commit). Lifecycle owned by artifacts.ensure.
    """
    return artifacts.ensure(
        "ivf",
        source_path,
        _IVF_VERSION,
        {"vec_col": vec_col, "cell_bits": _CELL_BITS, "dim": _DIM},
        lambda staging: build_ivf(spark.read.parquet(source_path), staging, vec_col),
    )


def _probe_cells(cell: int, cell_bits: int, nprobe: int) -> list[int]:
    """The query's cell plus its nearest neighbours in hamming order
    (deterministic: by bit-distance, then cell value) — the IVF nprobe
    widening; nprobe = 2^cell_bits probes everything."""
    masks = sorted(range(1 << cell_bits), key=lambda m: (m.bit_count(), m))
    return [cell ^ m for m in masks[:nprobe]]


def ivf_topk(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """Top-k by cosine, scanning only the probed cells.

    The cell filter is on the partition column, so it resolves to a
    directory listing before any data IO (PartitionFilters in the
    plan); exact cosine reranks within the probed cells.
    """
    sig = 0
    from nabatshy_spark.operators.similarity import _planes

    for i, plane in enumerate(_planes(len(query_vec), _CELL_BITS)):
        if sum(a * b for a, b in zip(query_vec, plane)) > 0:
            sig |= 1 << i
    cells = _probe_cells(sig, _CELL_BITS, nprobe)
    df = spark.read.parquet(path).filter(F.col(CELL_COL).isin(cells))
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(
            F.col("vec_id"),
            F.round(cosine(F.col("embedding"), qcol), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )


# --- IVF + PQ composition (the FAISS IVFPQ architecture, public) ----------


def build_ivfpq(df: DataFrame, path: str, vec_col: str = "embedding") -> None:
    """Write an IVF+PQ index: rows partitioned by coarse LSH cell, each
    row carrying its PQ ``code`` next to the raw vector (Jégou et al.
    IVFADC). The trained codebooks (m·ks·(dim/m) doubles) land as a
    JSON sidecar in the index directory — the index is self-contained.

    Query-time IO story: the ADC stage reads ONLY (id, code) from the
    probed cells — partition pruning × ~64× column compression — and
    the raw vectors are touched just for the final re-rank candidates.
    """
    import json

    from nabatshy_spark.operators.similarity import pq_codebooks, pq_encode

    books = pq_codebooks(df, "vec_id", vec_col, _DIM)
    encoded = pq_encode(df, "vec_id", vec_col, books)
    signed = lsh_signature(encoded, vec_col, num_planes=_CELL_BITS, dim=_DIM)
    (
        signed.withColumn(CELL_COL, F.col("__sig").cast("int"))
        .drop("__sig")
        .write.mode("overwrite")
        .partitionBy(CELL_COL)
        .parquet(path)
    )
    with open(os.path.join(path, "_pq_codebooks.json"), "w") as f:
        json.dump(books, f)


def ivfpq_topk(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 3,
    rerank: int = 8,
) -> DataFrame:
    """Top-k over an IVF+PQ index: probe cells (partition pruning) →
    ADC scan over the (id, code) projection (driver-side lookup tables
    inlined as literals) → exact-cosine re-rank of the ``rerank·k``
    best candidates only. nprobe=2^_CELL_BITS with deep rerank recovers
    the exact answer; the knobs trade IO for recall independently
    (cells scanned × candidates re-ranked)."""
    import json

    import numpy as np

    from nabatshy_spark.operators.similarity import _planes

    with open(os.path.join(path, "_pq_codebooks.json")) as f:
        books = json.load(f)
    m = len(books)
    q = np.asarray(query_vec, dtype=np.float64)
    sub = len(q) // m

    sig = 0
    for i, plane in enumerate(_planes(len(query_vec), _CELL_BITS)):
        if sum(a * b for a, b in zip(query_vec, plane)) > 0:
            sig |= 1 << i
    cells = _probe_cells(sig, _CELL_BITS, nprobe)

    reader = spark.read.parquet(path)
    codes = reader.filter(F.col(CELL_COL).isin(cells)).select("vec_id", "code")
    adc = None
    for j, book in enumerate(books):
        qj = q[j * sub : (j + 1) * sub]
        lut = [float(np.sum((qj - np.asarray(c)) ** 2)) for c in book]
        term = F.element_at(
            F.array(*[F.lit(x) for x in lut]), F.element_at(F.col("code"), j + 1) + 1
        )
        adc = term if adc is None else adc + term
    candidates = (
        codes.select(F.col("vec_id"), adc.alias("__adc"))
        .orderBy(F.col("__adc").asc(), F.col("vec_id").asc())
        .limit(rerank * k)
    )
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        reader.filter(F.col(CELL_COL).isin(cells))
        .join(F.broadcast(candidates.select("vec_id")), "vec_id", "left_semi")
        .select(
            F.col("vec_id"),
            F.round(cosine(F.col("embedding"), qcol), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ensure_ivfpq(
    spark: SparkSession,
    source_path: str,
    vec_col: str = "embedding",
) -> str:
    """Idempotent IVF+PQ build with the same content-fingerprinted,
    staging-then-rename lifecycle as :func:`ensure_ivf` (codebooks are
    deterministic, so two concurrent builds produce identical indexes
    and the rename race is benign). Lifecycle owned by artifacts.ensure."""
    return artifacts.ensure(
        "ivfpq",
        source_path,
        _IVFPQ_VERSION,
        {
            "id_col": "vec_id",
            "vec_col": vec_col,
            "cell_bits": _CELL_BITS,
            "dim": _DIM,
            "m": PQ_M,
            "ks": PQ_KS,
        },
        lambda staging: build_ivfpq(spark.read.parquet(source_path), staging, vec_col),
    )
