"""Graph registry queries over the trade graphs the star schema implies
(nation↔nation via supplier/customer, part↔customer via orders):
PageRank, triangles, BFS reach, label propagation, degree
distribution and k-core pruning (operators/graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nabatshy_spark.plans.queries import query


@query("pagerank_trade", headline=True)
def pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget PageRank (operators/graph.py) over the nation
    trade graph: one edge per lineitem from the customer's nation to
    the supplier's nation (broadcast dims onto the fact scan). 5
    deterministic power iterations, one shuffle pair per round,
    localCheckpoint-truncated lineage."""
    from nabatshy_spark.operators import graph

    # The aggregated (src, dst, parallel-edge count) relation
    # is served from the shared trade-edge artifact (one fact pass per
    # corpus, four graph-query consumers — graph.shared_trade_edges);
    # cnt is exactly the multiplicity pagerank's internal aggregation
    # computed, so the power iteration is unchanged.
    edges = graph.shared_trade_edges(spark, sf_dir).select("src", "dst", "cnt")
    return graph.pagerank(edges, iterations=5, mult_col="cnt").select(
        F.col("node").alias("nationkey"), "rank"
    )


@query("trade_triangles", headline=True)
def trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle counts on the undirected nation trade graph
    (operators/graph.py:triangle_counts — degree-oriented wedge join,
    Suri-Vassilvitskii): same edge derivation as pagerank_trade, so
    together they give the topology dashboard rank + cohesion."""
    from nabatshy_spark.operators import graph

    # Served from the shared trade-edge artifact — the
    # operator's first step is normalize+distinct, so the aggregated
    # (src, dst) pair relation induces the identical simple graph.
    edges = graph.shared_trade_edges(spark, sf_dir).select("src", "dst")
    return graph.triangle_counts(edges).select(
        F.col("node").alias("nationkey"), "triangles"
    )


@query("trade_reach_hops", headline=True)
def trade_reach_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS (operators/graph.py:bfs_hops) over the SPARSE
    trade graph — the 150 highest-revenue nation→nation edges (top-K by
    revenue keeps the graph sparse at ANY scale factor; the dense
    all-pairs graph has diameter ~1 and nothing to traverse). Min hops
    from nation 0; frontier joins + anti-join per round, lineage
    truncated per iteration."""
    from nabatshy_spark.operators import graph

    # The per-pair revenue aggregate is served from the
    # shared trade-edge artifact (rev = the identical groupBy sum,
    # doubles bit-exact through parquet).
    pair_rev = graph.shared_trade_edges(spark, sf_dir).select(
        "src", "dst", F.col("rev").alias("__rev")
    )
    top = pair_rev.orderBy(
        F.col("__rev").desc(), F.col("src").asc(), F.col("dst").asc()
    ).limit(150)
    return (
        graph.bfs_hops(top, source=0)
        .select(F.col("node").alias("nationkey"), "hop")
        .orderBy("hop", "nationkey")
    )


@query("lpa_trade_communities", headline=True)
def lpa_trade_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the nation trade graph
    (graph.label_propagation, Raghavan et al. 2007): nations whose
    strong trade edges cluster together. Edges = directed nation pairs
    whose lineitem volume exceeds the MEAN pair volume (a scale-free,
    in-plan threshold — 1-row broadcast, no driver scalar), built with
    the same broadcast-dims fact scan as pagerank_trade; 4
    synchronized LPA rounds with smallest-label tie-break make the
    result exactly reproducible by the unrolled SQL oracle. The
    question differs from connected components: the dense trade graph
    is one component, communities are where volume CLUSTERS."""
    from nabatshy_spark.operators.graph import (
        label_propagation,
        shared_trade_edges,
    )

    # The per-pair volume aggregate is served from the shared
    # trade-edge artifact (cnt = the identical groupBy count; the mean
    # threshold below is an exact integer-sum average either way).
    vol = shared_trade_edges(spark, sf_dir).select(
        "src", "dst", F.col("cnt").alias("__v")
    )
    mean_v = vol.agg(F.avg("__v").alias("__m"))
    strong = (
        vol.join(F.broadcast(mean_v))
        .filter(F.col("__v") > F.col("__m"))
        .select("src", "dst")
    )
    out = label_propagation(strong)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("community").cast("long").alias("community"),
    ).orderBy("node")


@query("degree_distribution_trade", headline=True)
def degree_distribution_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part↔customer trade graph (how many
    distinct customers bought each part), log₂-bucketed — the
    skew-shape diagnostic that decides salting/broadcast strategy for
    the graph algorithms (pagerank_trade, lpa_trade_communities) and
    documents whether a hub-node blowup is lurking.

    Scale: one orderkey join (both sides bucketable), one distinct on
    (part, customer) — the heavy shuffle — then dimension-sized
    aggregates; the histogram is |buckets| rows."""
    from nabatshy_spark.operators import graph

    # The distinct (part, cust) relation comes from the
    # shared bipartite edge artifact (already distinct by build).
    deg = (
        graph.shared_part_cust_edges(spark, sf_dir)
        .groupBy("part")
        .agg(F.count("*").alias("__deg"))
    )
    return (
        deg.withColumn(
            "degree_bucket", F.floor(F.log2(F.col("__deg"))).cast("int")
        )
        .groupBy("degree_bucket")
        .agg(
            F.count("*").alias("n_parts"),
            F.min("__deg").alias("min_degree"),
            F.max("__deg").alias("max_degree"),
        )
        .orderBy("degree_bucket")
    )


@query("kcore_trade_pruning", headline=True)
def kcore_trade_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round (25,25)-core peel of the part↔customer trade
    graph (operators/graph.bipartite_core_prune): three simultaneous
    degree-prune rounds, one audit row per round with surviving
    node/edge counts — the dense-core extraction that precedes
    community detection or co-purchase embedding training (hubs-only
    subgraph), and the iterative-graph operator class with an EXACTLY
    unrollable SQL oracle (unlike run-to-fixpoint forms).

    Scale: per round two groupBy-count shuffles + two semi-joins;
    edges localCheckpoint per round so lineage stays one round deep."""
    from nabatshy_spark.operators import graph

    # The distinct (part, cust) pair relation is served from
    # the shared bipartite edge artifact. The artifact is
    # distinct BY BUILD, so the operator's dedup exchange is skipped
    # (edges_distinct=True — §2.4, a distinct on already-unique data).
    edges = graph.shared_part_cust_edges(spark, sf_dir)
    return graph.bipartite_core_prune(
        edges, "part", "cust", k=25, rounds=3, edges_distinct=True
    )
