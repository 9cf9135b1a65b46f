"""Embedding clustering (SURVEY §2.11, no reference counterpart):
Lloyd's k-means expressed as DataFrame rounds — the canonical
iterative algorithm a training-data pipeline runs for corpus mixing,
IVF coarse quantizers, and topic balance audits.

Execution shape per iteration (the part that matters at 100 TB):

- the k×dim centroid matrix lives on the DRIVER (k·dim doubles — O(1))
  and enters the plan as literals, so assignment is a single narrow
  scan: no join, no shuffle of the vectors. The arithmetic is JVM-side
  array-HOF expressions (interpreted, not codegen'd — acceptable
  because assignment is scan-bound; if k·dim work ever dominates, the
  swap-in is one Arrow-batched pandas UDF doing the same argmin as a
  BLAS matmul, same plan shape);
- the centroid update shuffles only (cluster, dim, partial-sum) rows —
  k·dim groups regardless of corpus size (posexplode then two-level
  aggregate with map-side combine);
- rounds are driver-coordinated like connected_components; lineage is
  cut per round by collecting the (tiny) centroids, not the data.

Determinism: init = the vectors of the k smallest ids; ties in the
argmin break toward the lower centroid index; centroids round to 6
decimals per round. That makes the first ``iters`` rounds exactly
reproducible by any engine (the DuckDB oracle replays 2 rounds
verbatim), not just "close".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sqdist(vec, centroid: list[float]):
    """Σ (v_i - c_i)² as a codegen'd fold over the array column."""
    lit = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(
    df: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """(id, cluster): nearest centroid, first-min-wins on exact ties
    (distances rounded to 9 decimals so near-ties resolve identically
    in any engine)."""
    dists = F.array(
        *[F.round(_sqdist(F.col(vec_col), c), 9) for c in centroids]
    )
    return df.select(
        F.col(id_col),
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int")
        .alias("cluster"),
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
) -> list[list[float]]:
    """The centroids ``kmeans`` would assign against after ``iters``
    rounds (k·dim doubles — O(1) driver data). Exposed separately so
    operators that need the geometry itself (e.g. the cluster-pruned
    embedding dedup's ball-cover bound) share one implementation."""
    init = (
        df.orderBy(id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = [[float(x) for x in r[0]] for r in init]
    for _ in range(iters - 1):
        if not centroids:
            break
        assigned = assign_clusters(df, id_col, vec_col, centroids).join(
            df.select(id_col, vec_col), id_col
        )
        means = (
            assigned.select(
                "cluster", F.posexplode(F.col(vec_col)).alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("c"))
            .collect()
        )
        # empty clusters keep their previous centroid
        new = {r["cluster"]: [e["m"] for e in r["c"]] for r in means}
        centroids = [new.get(i, centroids[i]) for i in range(k)]
    return centroids


def kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int = 2,
) -> DataFrame:
    """Deterministic Lloyd's k-means into 4 clusters; returns (id,
    cluster) after ``iters`` assignment rounds (the last round's
    centroids are the second-to-last round's means)."""
    centroids = kmeans_centroids(df, id_col, vec_col, 4, iters)
    if not centroids:
        # empty input: no seeds to assign against — empty result with
        # the contract schema
        return df.select(F.col(id_col), F.lit(0).cast("int").alias("cluster"))
    return assign_clusters(df, id_col, vec_col, centroids)
