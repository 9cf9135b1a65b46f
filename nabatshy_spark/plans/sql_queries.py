"""SQL-front-end queries — the same engine served through
``spark.sql`` over registered views (SURVEY §3.2 note: Catalyst
produces the same plan either way; these prove the SQL surface works
against the same catalog, for users who speak SQL rather than the
DataFrame API).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nabatshy_spark.catalog import register_views
from nabatshy_spark.plans.queries import query


@query("sql_top_revenue_brands")
def sql_top_revenue_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rollup via the SQL API: lineitem ⋈ part, grouped by
    brand, top 10 by revenue."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p.p_brand,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
        ORDER BY revenue DESC, p.p_brand ASC
        LIMIT 10
        """
    )


@query("sql_segment_order_stats")
def sql_segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment customer/order stats via the SQL API."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               count(DISTINCT c.c_custkey) AS n_customers,
               count(o.o_orderkey)         AS n_orders,
               round(avg(o.o_totalprice), 6) AS avg_order_price
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        """
    )


@query("sql_grouping_sets_revenue")
def sql_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup in ONE pass via GROUPING SETS —
    (flag, status), (flag), and grand total share a single scan and
    shuffle instead of three union'd aggregations."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query("sql_cheapest_supplier_per_brand")
def sql_cheapest_supplier_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery surface (the TPC-H Q2 shape, adapted
    to this star — no partsupp table): lineitems selling a part at
    that part's corpus-wide minimum price, rolled up per brand.
    Catalyst DECORRELATES the subquery into an aggregate + equi-join
    (one extra shuffle keyed on l_partkey), so the correlated form is
    scale-safe — no per-row re-execution as a naive reading implies."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p.p_brand AS brand,
               count(*) AS n_min_price_lines,
               round(min(l.l_extendedprice), 2) AS cheapest_line
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_extendedprice = (
            SELECT min(l2.l_extendedprice) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
        )
        GROUP BY p.p_brand
        ORDER BY brand
        """
    )


@query("sql_promo_revenue_share")
def sql_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-sum ratio over a join (the TPC-H Q14 shape):
    share of revenue from ECONOMY-type parts in one month. Single
    scan+join, the ratio is arithmetic over two conditional
    aggregates — no second pass."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT round(
                 100.0 * sum(CASE WHEN p.p_type = 'ECONOMY'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 6
               ) AS promo_share_pct,
               count(*) AS n_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
        """
    )


@query("sql_small_qty_revenue")
def sql_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-average filter (the TPC-H Q17 shape): revenue that
    would be lost by dropping small-quantity lines of one brand, where
    "small" is relative to each part's own average quantity. Catalyst
    decorrelates the scalar subquery into a per-part aggregate joined
    back on l_partkey — one extra keyed shuffle, not per-row
    re-execution.

    Numeric stability: quantities are integral doubles so the
    per-part avg is exact; the revenue sum goes through DECIMAL(28,6)
    (associative, order-independent) before the final double cast."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,6)))
                          AS DOUBLE) / 7.0, 2) AS avg_yearly_loss,
               count(*) AS n_small_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < 0.2 * (
            SELECT avg(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
          )
        """
    )


@query("sql_large_orders")
def sql_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-then-semi-join (the TPC-H Q18 shape): orders whose total
    quantity exceeds 300, joined back to customer/order attributes.
    The HAVING aggregate runs first over lineitem only (partial
    map-side combine on l_orderkey), and the tiny survivor set then
    drives broadcast joins against orders and customer — the fact
    table is scanned once."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice,
               CAST(big.total_qty AS BIGINT) AS total_qty
        FROM (
          SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 300
        ) big
        JOIN orders o ON o.o_orderkey = big.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY total_qty DESC, o.o_orderkey
        """
    )


@query("sql_late_sole_suppliers")
def sql_late_sole_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS pair (the TPC-H Q21 shape, adapted — this
    star has l_shipdate + o_orderdate, not commit/receipt dates):
    suppliers who were the ONLY late shipper (ship > order + 365d) in
    multi-supplier orders. Catalyst plans the EXISTS as a left-semi
    and the NOT EXISTS as a left-anti join on l_orderkey — both keyed
    shuffles over the already-filtered late subset, no nested loops."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH li AS (
          SELECT l.l_orderkey, l.l_suppkey,
                 datediff(l.l_shipdate, o.o_orderdate) AS lag_days
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT s.s_name, l1.l_suppkey AS suppkey,
               count(DISTINCT l1.l_orderkey) AS n_waiting_orders
        FROM li l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        WHERE l1.lag_days > 365
          AND EXISTS (
            SELECT 1 FROM li l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM li l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.lag_days > 365)
        GROUP BY s.s_name, l1.l_suppkey
        ORDER BY n_waiting_orders DESC, suppkey
        LIMIT 100
        """
    )


@query("sql_dormant_high_balance")
def sql_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join + uncorrelated scalar subqueries (the TPC-H Q22
    shape, adapted — no phone column): per-nation count and balance of
    above-average-balance customers with no order in the final year of
    the dataset. The NOT EXISTS becomes a left-anti join against the
    (small) recent-orders projection; the global average is one scalar
    broadcast.

    The threshold is computed as an exact DECIMAL sum divided in
    DOUBLE — identical bits in Spark and the DuckDB oracle, so the
    boundary compare cannot flip between engines."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_nationkey,
               count(*) AS n_customers,
               CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(28,6))), 2)
                    AS DOUBLE) AS total_acctbal
        FROM customer c
        WHERE c.c_acctbal > (
            SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                   / count(*)
            FROM customer c2 WHERE c2.c_acctbal > 0)
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= (
                SELECT max(o2.o_orderdate) - INTERVAL 365 DAYS FROM orders o2))
        GROUP BY c.c_nationkey
        ORDER BY c.c_nationkey
        """
    )


@query("sql_order_priority_check", headline=True)
def sql_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-driven priority audit (the TPC-H Q4 shape, adapted to
    this star's l_shipdate): orders placed in one quarter with at
    least one line shipped more than 60 days after the order date,
    counted per priority. The EXISTS plans as a left-semi join on
    l_orderkey — the lineitem side is filtered before the shuffle."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o.o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """
    )


@query("sql_nation_trade_volume", headline=True)
def sql_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume (the TPC-H Q7 shape): revenue shipped
    between two nations in either direction, by year. Five-way join
    where nation is broadcast twice and customer/supplier join keyed;
    revenue goes through DECIMAL(28,6) so the sum is order-independent
    across engines."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year,
               CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
        ORDER BY supp_nation, cust_nation, l_year
        """
    )


@query("sql_market_share", headline=True)
def sql_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (the TPC-H Q8 shape): one supplier
    nation's share of revenue sold into a region's market, by order
    year. Seven-way star join where region/nation broadcast; both the
    numerator and denominator sums go through DECIMAL(28,6) and are
    cast to DOUBLE before the division so the ratio is
    order-independent across engines."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH all_lines AS (
          SELECT year(o.o_orderdate) AS o_year,
                 CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(28,6)) AS volume,
                 n2.n_name AS supp_nation
          FROM lineitem l
          JOIN orders o   ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
          JOIN region r   ON n1.n_regionkey = r.r_regionkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
          WHERE r.r_name = 'ASIA'
            AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
            AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        )
        SELECT o_year,
               round(CAST(sum(CASE WHEN supp_nation = 'NATION_7'
                                   THEN volume
                                   ELSE CAST(0 AS DECIMAL(28,6)) END)
                          AS DOUBLE)
                     / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
               count(*) AS n_lines
        FROM all_lines GROUP BY o_year ORDER BY o_year
        """
    )


@query("sql_product_profit")
def sql_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-line profit by supplier nation and ship year (the
    TPC-H Q9 shape, adapted: this star has no partsupp table, so cost
    is proxied as 80% of the part's retail price × quantity). The
    LIKE filter prunes part before the join; profit terms go through
    DECIMAL(28,6)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name AS nation, year(l.l_shipdate) AS o_year,
               CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   - 0.8 * p.p_retailprice * l.l_quantity
                                   AS DECIMAL(28,6))), 2) AS DOUBLE) AS profit,
               count(*) AS n_lines
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY n.n_name, year(l.l_shipdate)
        ORDER BY nation, o_year DESC
        """
    )


@query("sql_customer_distribution", headline=True)
def sql_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (the TPC-H Q13 shape):
    LEFT JOIN with a join-side predicate (non-urgent orders only) so
    zero-order customers survive into the c_count=0 bucket, then a
    second aggregation over the first. Two shuffles total; the outer
    histogram relation is tiny."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_count, count(*) AS custdist FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey
        ) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """
    )


@query("sql_discounted_revenue", headline=True)
def sql_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive-predicate revenue (the TPC-H Q19 shape): three OR
    branches over (brand, size range, quantity range). Catalyst
    extracts the common p_partkey equi-join and pushes the brand/size
    disjunction down to the part scan; the quantity bounds filter the
    lineitem side before the join."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(28,6))), 2) AS DOUBLE)
                 AS revenue,
               count(*) AS n_lines
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 25
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 35
               AND l.l_quantity BETWEEN 20 AND 30)
        """
    )


@query("sql_top_supplier")
def sql_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by quarterly revenue (the TPC-H Q15 shape): a
    revenue CTE reused twice — once joined to supplier, once under a
    scalar-subquery max. Revenue is rounded AFTER a DECIMAL(28,6)
    sum, so the equality against the max is exact on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                     AS DECIMAL(28,6))), 2) AS DOUBLE)
                   AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        ORDER BY s.s_suppkey
        """
    )


@query("sql_returned_item_report", headline=True)
def sql_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (the TPC-H Q10 shape): top 20 customers
    by revenue lost to returns in one quarter. The quarter predicate
    prunes orders before the join, nation broadcasts, and the top-20
    is a TakeOrdered over the aggregated relation — no global sort of
    the fact table."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, n.n_name AS nation,
               CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(28,6))), 2) AS DOUBLE)
                 AS revenue,
               count(*) AS n_lines
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c.c_custkey ASC
        LIMIT 20
        """
    )


@query("sql_order_ship_lag")
def sql_order_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-ship lag distribution: per order, days from
    order date to its FIRST shipped line (min over lines), bucketed
    into a weekly histogram. Aggregate-join-aggregate where the first
    agg pre-shrinks lineitem to one row per order before the join —
    the shape that keeps the fact-fact join narrow at scale."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH first_ship AS (
          SELECT l_orderkey, min(l_shipdate) AS first_ship
          FROM lineitem GROUP BY l_orderkey
        )
        SELECT CAST(floor(datediff(f.first_ship, o.o_orderdate) / 7.0) AS INT)
                 AS lag_weeks,
               count(*) AS n_orders
        FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey
        GROUP BY 1 ORDER BY lag_weeks
        """
    )


@query("sql_order_backlog", headline=True)
def sql_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time: how many orders were placed but
    not yet first-shipped at each week boundary — the interval-overlap
    sweep-line (+1 at order, −1 at first ship, running sum over the
    merged event stream), the same shape spans_concurrency uses on
    traces, here on the TPC-H star. Costs one order-grain agg + one
    tiny 2-column sweep; never a week×orders cross join."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH first_ship AS (
          SELECT l_orderkey, min(l_shipdate) AS first_ship
          FROM lineitem GROUP BY l_orderkey
        ),
        ev AS (
          SELECT CAST(date_trunc('week', o.o_orderdate) AS DATE) AS wk,
                 1 AS d
          FROM orders o
          UNION ALL
          SELECT CAST(date_trunc('week', f.first_ship) AS DATE), -1
          FROM first_ship f
        ),
        weekly AS (
          SELECT wk, sum(d) AS delta FROM ev GROUP BY wk
        )
        SELECT wk,
               sum(delta) OVER (ORDER BY wk
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS open_orders
        FROM weekly ORDER BY wk
        """
    )


@query("sql_top_customers_per_nation", headline=True)
def sql_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions through the SQL API: top-2 customers per
    nation by order revenue, RANK() over the AGGREGATED per-customer
    relation (the window never sees order-grain rows). Revenue goes
    through a DECIMAL(28,6) sum and is emitted rounded, so rank ties
    and values are engine-exact."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH per_cust AS (
          SELECT n.n_name AS nation, c.c_custkey,
                 CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(28,6))), 2)
                      AS DOUBLE) AS revenue
          FROM customer c
          JOIN orders o ON o.o_custkey = c.c_custkey
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          GROUP BY n.n_name, c.c_custkey
        )
        SELECT nation, c_custkey, revenue, rnk FROM (
          SELECT *, rank() OVER (PARTITION BY nation
                                 ORDER BY revenue DESC, c_custkey ASC) AS rnk
          FROM per_cust
        ) WHERE rnk <= 2
        ORDER BY nation, rnk, c_custkey
        """
    )


@query("sql_important_parts", headline=True)
def sql_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disproportionate-value parts (the TPC-H Q11 shape, adapted:
    the schema has no partsupp, so "stock value" is the shipped
    revenue of one nation's suppliers per part). The per-part value
    relation is built once and reused under the scalar-subquery total;
    the share filter multiplies the exact DECIMAL sum by an integer
    (value*500 > total ⟺ share > 0.2%) instead of dividing, so the
    comparison is exact on both engines — no rounded-quotient edge."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH natl AS (
          SELECT l.l_partkey AS p_partkey,
                 sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(28,6))) AS value
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          WHERE n.n_name = 'NATION_3'
          GROUP BY 1
        )
        SELECT p_partkey, CAST(round(value, 2) AS DOUBLE) AS value
        FROM natl
        WHERE value * 500 > (SELECT sum(value) FROM natl)
        ORDER BY value DESC, p_partkey
        """
    )


@query("sql_supplier_part_variety", headline=True)
def sql_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier variety per part profile (the TPC-H Q16 shape, linked
    through lineitem since there is no partsupp): distinct shipping
    suppliers per (brand, type, size) for a filtered part slice. The
    NOT-equal predicates and the IN-list push to the part scan; the
    exact count(DISTINCT) groups on the post-join relation."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'ECONOMY'
          AND p.p_size IN (1, 5, 11, 15, 21, 25, 31, 35, 41)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
        """
    )


@query("sql_promo_part_suppliers", headline=True)
def sql_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers with significant shipments of promo parts (the TPC-H
    Q20 semi-join shape, adapted to shipped quantities): the IN
    subquery plans as a LEFT SEMI join against the pre-aggregated
    (part, supplier) quantity relation — supplier rows are emitted at
    most once without a distinct, and the 'red%' prefix filter prunes
    part before the join."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH shipped AS (
          SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY 1, 2
        )
        SELECT s.s_suppkey, s.s_name, n.n_name AS nation
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE s.s_suppkey IN (
          SELECT sh.l_suppkey FROM shipped sh
          JOIN part p ON p.p_partkey = sh.l_partkey
          WHERE p.p_name LIKE 'red%' AND sh.qty > 40
        )
        ORDER BY s.s_suppkey
        """
    )


@query("sql_brand_qty_revenue", headline=True)
def sql_brand_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analogue (discounted revenue, disjunctive predicate
    blocks): three OR'd (brand, size-range, quantity-range) conjuncts.
    The plan point: Catalyst extracts the predicate parts referencing
    only one side and pushes their union below the join — the lineitem
    scan reads only quantity ∈ [1,30] rows and the part scan only the
    three brands — then re-applies the exact disjunction after the
    join.  Per-brand breakdown instead of Q19's single scalar so the
    oracle checks 3 rows of structure, not one number."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p.p_brand,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                 AS revenue,
               count(*) AS n_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
               AND l.l_quantity BETWEEN 20 AND 30)
        GROUP BY p.p_brand
        ORDER BY p.p_brand
        """
    )
