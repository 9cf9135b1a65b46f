"""Frequent-itemset mining (market-basket co-occurrence) — the
pairwise core of A-priori (Agrawal/Srikant, public) expressed as
DataFrame ops. The reference has no itemset surface (extension brief:
large-scale pipeline analytics); this gives "parts bought together"
over the order/lineitem star.

Scale shape, in order of importance at 100 TB:
- **A-priori pruning before pair expansion**: an item in a frequent
  pair must itself be frequent, so infrequent items are dropped with
  one aggregate + semi-join BEFORE the quadratic-in-basket-size
  self-join. On a heavy-tailed catalog this removes most of the join
  input.
- **Basket-size cap**: a basket of size m emits m(m-1)/2 pairs; a few
  pathological baskets (a crawler's cart, a test account) can dominate
  the shuffle. Baskets larger than ``max_basket`` are dropped — the
  standard bound (they contribute noise pairs, not signal support).
- Pair expansion happens INSIDE a codegen'd array expression over each
  basket's sorted item array (i<j slices), not as a basket-keyed
  self-join: one regroup instead of two join-side exchanges, and each
  unordered pair is produced exactly once — no post-hoc dedup shuffle.
  The arrays are bounded by ``max_basket``, so per-row expansion state
  is bounded regardless of corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nabatshy_spark import artifacts
from nabatshy_spark.catalog import load, table_path


def _pair_support_relations(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
    max_basket: int,
):
    """Shared A-priori core: (pair supports, frequent-item supports,
    capped-basket grand total as a 1-row frame). Pair supports are
    already filtered to >= min_support."""
    # One basket-keyed group replaces the old plan's (basket,item)
    # DISTINCT + separate basket-size aggregate: collect_set dedups
    # within the basket and the cap filters on the array size, so the
    # per-basket state is bounded by ``max_basket`` survivors.
    capped = (
        df.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .groupBy("basket")
        .agg(F.collect_set("item").alias("items"))
        .filter(F.size("items") <= max_basket)
        # materialized once on first use (non-eager, so no extra job):
        # item supports, the A-priori prune, and the basket total are
        # three consumers that would otherwise each re-scan the fact
        # table and redo the basket shuffle
        .localCheckpoint(eager=False)
    )
    kv = capped.select("basket", F.explode("items").alias("item"))
    frequent_items = (
        kv.groupBy("item")
        .agg(F.count("*").alias("__sup"))
        .filter(F.col("__sup") >= min_support)
    )
    item_sup = frequent_items.select("item", "__sup")
    frequent_items = frequent_items.select("item")
    # The frequent-item relation is bounded by the catalog, orders of
    # magnitude below the fact table — broadcast it so the A-priori
    # prune costs no item-keyed shuffle of kv.
    pruned = kv.join(F.broadcast(frequent_items), "item")
    # One regroup replaces the basket-keyed SELF-JOIN (two exchanges
    # in the old plan): sort each basket's surviving items and expand
    # the i<j pairs inside one codegen'd expression — each unordered
    # pair is produced exactly once.
    baskets = (
        pruned.groupBy("basket")
        .agg(F.sort_array(F.collect_list("item")).alias("items"))
        .filter(F.size("items") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) -> "
                "transform(slice(items, i + 2, size(items) - i - 1), "
                "y -> struct(x AS item_a, y AS item_b))))"
            )
        ).alias("p")
    ).select("p.item_a", "p.item_b")
    pair_sup = (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    n_baskets = capped.agg(F.count("*").cast("double").alias("__n_baskets"))
    return pair_sup, item_sup, n_baskets


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 3,
    max_basket: int = 1000,
    k: int = 100,
) -> DataFrame:
    """Unordered item pairs co-occurring in >= ``min_support`` distinct
    baskets, top ``k`` by support (desc; item ids asc as tiebreak).
    Input rows are (basket, item) — duplicates within a basket are
    collapsed first so support counts baskets, not rows.
    """
    pair_sup, _, _ = _pair_support_relations(
        df, basket_col, item_col, min_support, max_basket
    )
    return topk_pairs(pair_sup, k)


def topk_pairs(pair_sup: DataFrame, k: int) -> DataFrame:
    """frequent_pairs' output step over a (item_a, item_b, support)
    relation — public so callers serving the supports from the shared
    artifact (:func:`shared_part_basket_stats`) produce the identical
    result without re-mining."""
    return pair_sup.orderBy(
        F.col("support").desc(),
        F.col("item_a").asc(),
        F.col("item_b").asc(),
    ).limit(k)


def rules_from_supports(
    pair_sup: DataFrame,
    item_sup: DataFrame,
    n_baskets: DataFrame,
    k: int,
) -> DataFrame:
    """A-priori association rules (Agrawal/Srikant, public) over
    pre-computed support relations: per unordered pair, support,
    directional confidences conf(a→b) = sup(ab)/sup(a) and conf(b→a),
    and lift = sup(ab)·N / (sup(a)·sup(b)) over the capped-basket
    universe. Top ``k`` by support with item-id tiebreaks (support is
    an integer, so the ordering — unlike one on float lift — is
    engine-exact). Item supports are a catalog-bounded relation
    broadcast onto the pair table, and the basket grand total is a
    1-row broadcast — nothing fact-proportional beyond the supports
    (:func:`shared_part_basket_stats`)."""
    sa = item_sup.select(
        F.col("item").alias("item_a"), F.col("__sup").alias("__sa")
    )
    sb = item_sup.select(
        F.col("item").alias("item_b"), F.col("__sup").alias("__sb")
    )
    return (
        pair_sup.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .join(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "support",
            F.round(F.col("support") / F.col("__sa"), 6).alias("conf_a_to_b"),
            F.round(F.col("support") / F.col("__sb"), 6).alias("conf_b_to_a"),
            F.round(
                F.col("support")
                * F.col("__n_baskets")
                / (F.col("__sa") * F.col("__sb")),
                6,
            ).alias("lift"),
        )
        .orderBy(
            F.col("support").desc(),
            F.col("item_a").asc(),
            F.col("item_b").asc(),
        )
        .limit(k)
    )


# ---------------------------------------------------------------------------
# shared part-basket support artifact
# ---------------------------------------------------------------------------

# Versions the support artifact: the lineitem fingerprint tracks the
# data; this tracks _pair_support_relations' semantics (capping,
# dedup-within-basket, in-array pair expansion). Bump on any change
# there, or a warm artifact root serves pre-change supports.
_BASKET_STATS_VERSION = 1
# basket-size cap and support floor of the shared supports (see the
# module docstring)
_MAX_BASKET = 1000
_MIN_SUPPORT = 3


def shared_part_basket_stats(spark, sf_dir: str):
    """Fingerprint-keyed materialization of the A-priori support
    relations over the (order, part) baskets: pair supports (already
    filtered to >= ``_MIN_SUPPORT``), frequent-item supports, and the
    capped-basket grand total — the three outputs of
    :func:`_pair_support_relations` that frequent_part_pairs and
    association_rules_parts each re-mined from the fact table per run
    (measured: the basket regroup + pair expansion is
    ~1.5 s of each query at sf0.1, twice per sweep, for one
    deterministic relation). All three are integer-valued (the total
    is a count cast to double — exact), so the parquet round-trip is
    bit-exact and both consumers are unchanged. At 100 TB pair-support
    mining is the scheduled once-per-corpus job; ranking and rule
    scoring are cheap reads of its output.

    Returns (pair_sup, item_sup, n_baskets) DataFrames.
    """
    def _build(staging: str) -> None:
        pair_sup, item_sup, n_baskets = _pair_support_relations(
            load(spark, sf_dir, "lineitem"),
            "l_orderkey",
            "l_partkey",
            _MIN_SUPPORT,
            _MAX_BASKET,
        )
        pair_sup.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "pairs")
        )
        item_sup.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "items")
        )
        n_baskets.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staging, "total")
        )
        # Multi-relation artifact: each parquet dir has its own
        # _SUCCESS; the lifecycle gate checks the top level.
        with open(os.path.join(staging, "_SUCCESS"), "w"):
            pass

    path = artifacts.ensure(
        "basket_stats",
        table_path(sf_dir, "lineitem"),
        _BASKET_STATS_VERSION,
        {"min_support": _MIN_SUPPORT, "max_basket": _MAX_BASKET},
        _build,
    )
    return (
        spark.read.parquet(os.path.join(path, "pairs")),
        spark.read.parquet(os.path.join(path, "items")),
        spark.read.parquet(os.path.join(path, "total")),
    )
