"""TPC-H family: the 22 TPC-H queries and the relational operator surface
(windows, set ops, cubes, pivots, sketches) over the TPC-H tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mlvectordb_spark.functions.localdf import local_rows_df
from mlvectordb_spark.queries.common import entry
from mlvectordb_spark.sources.testdata import load_table


TPCH_Q18_QTY = 300


@entry(oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
""", headline=True)
def q_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group: 3 highest-value orders per customer."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@entry(oracle="""
SELECT c_custkey, c_acctbal FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""")
def q_cust_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: customers with at least one order over 400k."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_acctbal"
    )


@entry(oracle="""
SELECT c_mktsegment FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT c_mktsegment FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'FURNITURE')
EXCEPT
SELECT 'FURNITURE' AS c_mktsegment
""")
def q_segment_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: segments of high-balance customers INTERSECT segments of
    BUILDING-or-MACHINERY customers, then EXCEPT one literal."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_acctbal") > 5000).select("c_mktsegment")
    b = cust.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY", "FURNITURE")).select(
        "c_mktsegment"
    )
    lit_df = local_rows_df(a.sparkSession, [("FURNITURE",)], "c_mktsegment STRING")
    return a.intersect(b).exceptAll(lit_df)


@entry(oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
  round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""")
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL API (the engine's spark.sql
    surface): per-status, per-priority, and grand-total rows in one pass."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@entry(oracle="""
SELECT l_returnflag, round(median(l_extendedprice), 4) AS median_price,
  round(min(l_extendedprice), 2) AS min_price,
  round(max(l_extendedprice), 2) AS max_price
FROM lineitem GROUP BY l_returnflag
""")
def q_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (sort-based, association-free — oracle-matchable unlike
    the sketch quantiles in approx_stats)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 4).alias("median_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@entry(oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
  round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""")
def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(status, priority): hierarchical subtotals."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@entry(oracle="""
SELECT l_returnflag,
  sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)::BIGINT AS n_hi_disc,
  round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice END), 2) AS hi_disc_price,
  round(avg(CASE WHEN NOT (l_discount > 0.05) THEN l_extendedprice END), 4) AS lo_disc_avg_price
FROM lineitem GROUP BY l_returnflag
""")
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER/CASE aggregation: discount-band metrics per return flag."""
    li = load_table(spark, sf_dir, "lineitem")
    hi = F.col("l_discount") > 0.05
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("n_hi_disc"),
        F.round(F.sum(F.when(hi, F.col("l_extendedprice"))), 2).alias(
            "hi_disc_price"
        ),
        F.round(
            F.avg(F.when(~hi, F.col("l_extendedprice"))), 4
        ).alias("lo_disc_avg_price"),
    )


@entry(oracle="""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
    round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
  round(sum(revenue) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
    AS running_revenue
FROM monthly
""")
def q_monthly_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window: running revenue over the monthly trend (unbounded
    preceding frame; month cardinality is small so the single-partition
    window is bounded)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        "month",
        "revenue",
        F.round(F.sum("revenue").over(w), 2).alias("running_revenue"),
    )


@entry(oracle="""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
    round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
  round(avg(revenue) OVER (
    ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS ma3,
  round(revenue - lag(revenue, 1) OVER (ORDER BY month), 2) AS mom_delta
FROM monthly
""")
def q_monthly_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-frame window (the §2.4 frame variant the running-total
    entry doesn't cover): 3-month trailing moving average and the
    LAG-based month-over-month delta over the monthly revenue trend. The
    windows run over the |months|-row aggregate, never order-grain data —
    the same one-small-window posture as monthly_running_revenue."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w3 = Window.orderBy("month").rowsBetween(-2, 0)
    wlag = Window.orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        F.round(F.avg("revenue").over(w3), 2).alias("ma3"),
        F.round(
            F.col("revenue") - F.lag("revenue", 1).over(wlag), 2
        ).alias("mom_delta"),
    )


@entry(oracle="""
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 4) AS avg_qty,
  round(avg(l_extendedprice), 4) AS avg_price,
  round(avg(l_discount), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""", headline=True)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: scan + filter + groupBy with 8 aggregates
    (map-side partial aggregation; only 4 groups reach the shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@entry(oracle="""
SELECT l_orderkey, o_orderdate, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""", headline=True)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: 3-way join + agg + top-10.
    customer is small → Catalyst broadcasts it; lineitem never shuffles
    for that join."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@entry(oracle="""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""", headline=True)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 6-way join through region→nation→{customer,supplier}
    with dimension broadcast; revenue per nation."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dim = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(dim), supp.s_nationkey == F.col("n_nationkey"))
        .filter(cust.c_nationkey == supp.s_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )


@entry(oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
  count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""", headline=True)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecast-revenue: pure filter + global agg over
    lineitem — the canonical predicate-pushdown showcase (every predicate
    reaches the parquet scan as PushedFilters; only 3 columns are read)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_items"),
    )


@entry(oracle="""
SELECT c_custkey, c_name, n_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""", headline=True)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item report: top 20 customers by revenue
    lost to returns in a quarter. lineitem never shuffles for the
    customer/nation joins (broadcast dims); the final top-k is a
    TakeOrderedAndProject, not a global sort."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@entry(oracle=f"""
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(sum(l_quantity), 2) > {TPCH_Q18_QTY}
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
""", headline=True)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume orders: orders whose total line
    quantity exceeds a threshold, with their customers. The HAVING
    aggregate runs FIRST on lineitem alone (map-side partials shrink it to
    one row per order before any join); the survivor set is highly
    selective (~0.3% of orders) but data-dependent, so it carries NO
    broadcast hint — AQE picks broadcast from its runtime size, the same
    contract as the dedup enrichment joins. customer is a bounded dim →
    forced broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > TPCH_Q18_QTY)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
    )


@entry(oracle="""
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority != '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count
""", headline=True)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order-count distribution: LEFT outer join
    so zero-order customers survive with count 0, then the distribution of
    counts. Two aggregations, both algebraic (map-side partials); the
    outer join shuffles on custkey once."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@entry(oracle="""
SELECT
  round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-06-01'
  AND l_shipdate < TIMESTAMP '1997-07-01'
""", headline=True)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo revenue share: one month of lineitem joined
    to the part dim (broadcast), conditional revenue over total revenue in
    a single aggregate — no second scan for the denominator."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01"))
        & (F.col("l_shipdate") < F.lit("1997-07-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )


@entry(oracle="""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 40 AND l_quantity BETWEEN 20 AND 36)
""", headline=True)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive-predicate revenue: OR of three
    (brand, size-range, quantity-range) conjunction bundles across the
    lineitem⋈part join. The quantity bounds push to the lineitem scan as
    one OR-filter (upper bound 36 covers all three branches); the
    brand/size bundles evaluate post-join — the standard split of a
    disjunction across join sides."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 36)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 11))
    )
    b2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(1, 25))
        & (F.col("l_quantity").between(10, 20))
    )
    b3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 40))
        & (F.col("l_quantity").between(20, 36))
    )
    return joined.filter(b1 | b2 | b3).agg(
        F.round(F.sum(rev), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@entry(oracle="""
WITH per_supp AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM per_supp)
""", headline=True)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier(s): quarterly revenue per supplier,
    keep every supplier at the maximum (ties included — the spec's
    WHERE total = (SELECT max(...)) semantics). The per-supplier revenue
    frame (already |suppliers|-reduced) is persisted so the fact table
    scans ONCE; the scalar max is a plain agg over the cached frame,
    broadcast-cross-joined back. The earlier window-max form
    (`F.max(...).over(Window.partitionBy())`) funneled every supplier
    through a single WindowExec partition — a one-task sort at 100×
    scale — while this shape keeps both jobs tiny and parallel."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # lazy localCheckpoint, not persist: same one-materialization reuse
    # across the scalar and filter branches, but the blocks are released
    # by GC when the frame goes out of scope — a persist() here would pin
    # a fresh cache entry per invocation for the app's lifetime (r7
    # review)
    per_supp = li.groupBy("l_suppkey").agg(
        F.round(F.sum(rev), 2).alias("total_revenue")
    ).localCheckpoint(eager=False)
    mx = per_supp.agg(F.max("total_revenue").alias("__mx"))
    return (
        per_supp.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@entry(oracle="""
WITH avg_qty AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS thresh
  FROM lineitem GROUP BY l_partkey
)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
  count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_qty USING (l_partkey)
WHERE p_brand = 'Brand#1' AND l_quantity < thresh
""", headline=True)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style small-quantity-order revenue: lineitems whose
    quantity is under 20% of their part's average quantity. The spec's
    correlated scalar subquery decorrelates into ONE per-part aggregate
    joined back (the standard Catalyst rewrite, stated explicitly).
    Both the per-part average AND the probe side are first left-semi
    joined against the broadcast Brand#1 partkeys, so the per-part
    aggregate's hash table holds only qualifying parts (~4% of the
    catalog) instead of every part — at 100 TB the unfiltered form is a
    full-fact-table aggregate feeding a 25×-too-large hash table for
    rows the brand join immediately discards (the r5 plan defect)."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    )
    brand_keys = F.broadcast(part.select("p_partkey"))
    li = load_table(spark, sf_dir, "lineitem").join(
        brand_keys, F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    avg_qty = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("__thresh")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("__thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@entry(oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""", headline=True)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style order-priority checking: orders placed in 1996 with
    at least one lineitem shipped AFTER the order date (the fixture has no
    l_commitdate, so ship-after-order stands in for the spec's
    commit<receipt), counted per priority. The EXISTS decorrelates to ONE
    left-semi join on orderkey with the inequality as a join condition —
    the fact table is never aggregated before the semi filter, and only
    (orderkey, shipdate) ship to the join."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    qualified = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        qualified.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@entry(oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
  year(l_shipdate) AS l_year,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
""", headline=True)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style volume shipping between two nations: revenue flowing
    supplier-nation → customer-nation for the (NATION_1, NATION_2) pair in
    either direction, per ship year. All four dimension hops (supplier,
    nation×2, customer via orders) broadcast; the fact table shuffles
    exactly once — for the orderkey join against orders (AQE-sized), never
    for a dimension."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
    )


@entry(oracle="""
SELECT l_returnflag,
  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
    AS high_line_count,
  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
    AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""", headline=True)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style priority-class counts per shipping class: the
    fixture has no l_shipmode, so l_returnflag stands in as the class;
    high = {1-URGENT, 2-HIGH} priorities, low = the rest, for one ship
    year. One orderkey join (priority arrives from orders), then a
    conditional aggregation — map-side partials, |classes| rows out."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@entry(oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand != 'Brand#5' AND p_size IN (1, 4, 7, 10)
GROUP BY p_brand, p_type, p_size
""", headline=True)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier-count by part attributes: distinct
    suppliers per (brand, type, size) over the lineitem part↔supplier
    associations (the fixture has no partsupp table), excluding Brand#5
    and restricting to four sizes. The part predicate broadcasts and
    prunes the fact scan BEFORE the count_distinct shuffle; output is
    |attribute groups| rows."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_size").isin(1, 4, 7, 10))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@entry(oracle="""
SELECT c_nationkey, count(*) AS numcust,
  round(sum(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c.c_custkey AND o_totalprice > 300000
  )
GROUP BY c_nationkey
""", headline=True)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style global sales opportunity: customers with account
    balance above the average POSITIVE balance and NO LARGE orders
    (o_totalprice > 300000 — the plain no-orders form is vacuous at the
    fixture's 10 orders/customer density), grouped by nation (the
    fixture's analog of the phone country code). The scalar subquery is a
    1-row aggregate broadcast into the filter; the no-large-orders test
    is one left-anti join against the (filtered, projected) orders
    keys."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@entry(oracle="""
WITH asia_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), offers AS (
  -- floor-based half-up rounding, mirroring the engine (round() halves
  -- diverge across engines at exact .5 boundaries)
  SELECT l_partkey, l_suppkey,
    floor(min(l_extendedprice / l_quantity) * 10000 + 0.5) / 10000
      AS supply_cost,
    any_value(s_name) AS s_name, any_value(s_acctbal) AS s_acctbal,
    any_value(n_name) AS n_name
  FROM lineitem
  JOIN asia_supp ON l_suppkey = s_suppkey
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_type = 'SMALL' AND p_size <= 5)
  GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, supply_cost
FROM offers
WHERE supply_cost = (SELECT min(o2.supply_cost) FROM offers o2
                     WHERE o2.l_partkey = offers.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""")
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style minimum-cost supplier: for small parts (p_type =
    'SMALL', p_size <= 5), the ASIA supplier(s) offering the lowest
    implied unit price. The fixture has no partsupp, so the part↔supplier
    offer table is synthesized from lineitem as min(l_extendedprice /
    l_quantity) per (part, supplier) — the observed best unit price. The
    spec's correlated MIN subquery decorrelates into a window min over
    the already-reduced offer table: ONE fact shuffle (the offer groupBy);
    part / supplier / nation / region all broadcast; the window runs over
    |qualifying parts × ASIA suppliers| rows, not the fact table."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "SMALL") & (F.col("p_size") <= 5)
    ).select("p_partkey")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_supp = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("__unit"),
    )
    offers = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .join(F.broadcast(asia_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            # explicit floor-based half-up rounding instead of round():
            # the min unit price can land exactly on a 4-decimal .5
            # boundary (observed at sf0.1: 455.51375), where Spark's
            # BigDecimal-exact HALF_UP and DuckDB's multiply-based round
            # disagree on the last digit — floor(x*1e4 + 0.5)/1e4 is the
            # same IEEE double arithmetic on both engines, so identical
            # inputs give identical digits
            (F.floor(F.min("__unit") * 10000 + F.lit(0.5)) / 10000).alias(
                "supply_cost"
            ),
            F.first("s_name").alias("s_name"),
            F.first("s_acctbal").alias("s_acctbal"),
            F.first("n_name").alias("n_name"),
        )
    )
    mn = F.min("supply_cost").over(Window.partitionBy("l_partkey"))
    return (
        offers.withColumn("__mn", mn)
        .filter(F.col("supply_cost") == F.col("__mn"))
        .select(
            "s_acctbal", "s_name", "n_name",
            F.col("l_partkey").alias("p_partkey"), "supply_cost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@entry(oracle="""
SELECT year(o_orderdate) AS o_year,
  round(sum(CASE WHEN sn.n_name = 'NATION_1'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY year(o_orderdate)
""")
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share: NATION_1's share of ECONOMY-
    part revenue sold into the ASIA customer market, per order year
    (1996–1997). Five dimension hops — part (type filter), supplier →
    nation (share numerator), customer → nation → region (market) — ALL
    broadcast; the fact table shuffles once for the orderkey join.
    Numerator and denominator come out of ONE conditional aggregate, not
    two scans."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    mkt_nat = (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(F.col("n_nationkey").alias("mkt_key"))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(mkt_nat), F.col("c_nationkey") == F.col("mkt_key"), "left_semi")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@entry(oracle="""
SELECT sn.n_name AS nation, year(o_orderdate) AS o_year,
  round(sum(round(l_extendedprice * (1 - l_discount)
                  - 0.5 * p_retailprice * l_quantity, 4)::DECIMAL(24,4)
            )::DOUBLE, 2) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY sn.n_name, year(o_orderdate)
""")
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-type profit: profit per supplier nation per
    order year for parts whose name contains 'widget'. The fixture has no
    partsupp supply cost, so cost is synthesized as 0.5 × p_retailprice ×
    l_quantity (documented constant margin). part / supplier / nation
    broadcast; the fact shuffles once on orderkey (the order-date hop),
    then one algebraic aggregate at (nation, year) grain. The per-term
    profit is rounded to 4 decimals and summed as DECIMAL so the result
    is exact under any summation order (the signed-term cancellation
    otherwise lands double sums on opposite sides of the cent boundary
    between engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    ).select("p_partkey", "p_retailprice")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.round(profit, 4).cast("decimal(24,4)")).cast("double"),
                2,
            ).alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@entry(oracle="""
WITH per_part AS (
  SELECT l_partkey, round(sum(l_extendedprice), 2) AS part_value
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1')
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, part_value
FROM per_part
WHERE part_value > 0.001 * (SELECT sum(part_value) FROM per_part)
""")
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style important stock: per-part traded value through
    NATION_1 suppliers, keeping parts whose value exceeds 0.1% of the
    national total. Value is sum(l_extendedprice) over the nation's
    lineitems (the fixture's analog of ps_supplycost × ps_availqty). The
    spec's scalar-subquery threshold is a plain agg over the ALREADY
    AGGREGATED (persisted) |parts| frame, broadcast-cross-joined back —
    one fact semi-join + one groupBy shuffle, no second fact scan for
    the total, and no single-partition WindowExec (the earlier
    `F.sum(...).over(Window.partitionBy())` form sorted every part in
    the catalog on one task — the r6 scale defect)."""
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    nat_supp = supp.join(
        F.broadcast(nat), supp.s_nationkey == nat.n_nationkey
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    # lazy localCheckpoint over persist: see q_tpch_q15 — one
    # materialization shared by both branches, blocks GC-released instead
    # of pinned in the cache manager per invocation
    per_part = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("part_value"))
    ).localCheckpoint(eager=False)
    total = per_part.agg(F.sum("part_value").alias("__total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.lit(0.001) * F.col("__total"))
        .select(F.col("l_partkey").alias("p_partkey"), "part_value")
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


@entry(oracle="""
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 30)
""")
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style excess-volume suppliers: ASIA suppliers who moved
    more than 30 units of any one 'small…' part during 1997. The spec's
    nested availqty>0.5×shipped test becomes a per-(supplier, part)
    volume aggregate over the prefix-filtered fact (the fixture has no
    partsupp/availqty), a HAVING threshold, and a left-semi join into the
    supplier dim. Part and region-supplier dims broadcast; one reduced
    groupBy shuffle."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("small")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    big_pairs = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 30)
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .join(big_pairs, supp.s_suppkey == big_pairs.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name")
    )


@entry(oracle="""
WITH base AS (
  SELECT l_orderkey, l_suppkey,
    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 100 DAY
             THEN 1 ELSE 0 END) AS supp_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
), per_ord AS (
  SELECT *,
    count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
    sum(supp_late) OVER (PARTITION BY l_orderkey) AS n_late
  FROM base
)
SELECT s_name, count(*) AS numwait
FROM per_ord
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE supp_late = 1 AND n_supp > 1 AND n_late = 1 AND r_name = 'ASIA'
GROUP BY s_name
""")
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style suppliers who kept orders waiting: ASIA suppliers
    that were the SOLE late supplier on a multi-supplier finished order
    (late = shipped >100 days after the order date; the fixture has no
    commit/receipt dates). The spec's EXISTS + NOT-EXISTS double self-join
    collapses into per-(order, supplier) late flags (one reduced groupBy)
    plus per-order supplier/late counts (one window over the SAME reduced
    grain) — the fact table is never self-joined. Supplier / nation /
    region broadcast; numwait per supplier, worst first."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS")
                ).cast("int")
            ).alias("__late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    flagged = (
        base.withColumn("__n_supp", F.count("*").over(w))
        .withColumn("__n_late", F.sum("__late").over(w))
        .filter(
            (F.col("__late") == 1)
            & (F.col("__n_supp") > 1)
            & (F.col("__n_late") == 1)
        )
    )
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_supp = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name")
    )
    return (
        flagged.join(F.broadcast(asia_supp), flagged.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@entry(oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, priority): all grouping-set combinations."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


@entry(oracle="""
SELECT o_orderpriority,
  sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_open,
  sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_filled,
  sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_partial
FROM orders GROUP BY o_orderpriority
""")
def q_orders_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation: order counts per priority by
    status (fixed status columns ⇒ single scan, no two-phase pivot)."""
    orders = load_table(spark, sf_dir, "orders")

    def n_status(s: str):
        return F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0)).cast(
            "bigint"
        )

    return orders.groupBy("o_orderpriority").agg(
        n_status("O").alias("n_open"),
        n_status("F").alias("n_filled"),
        n_status("P").alias("n_partial"),
    )


@entry(oracle="""
WITH wide AS (
  SELECT o_orderpriority,
    sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_open,
    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_filled,
    sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_partial
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, status_col, n_orders
FROM wide UNPIVOT (n_orders FOR status_col IN (n_open, n_filled, n_partial))
WHERE n_orders > 0
""")
def q_orders_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide per-status counts of q_orders_pivot back
    to long form via DataFrame.unpivot — the wide↔long roundtrip both
    report tooling and ML feature prep lean on. Zero extra shuffle beyond
    the pivot's aggregate: unpivot is a per-row expand."""
    wide = q_orders_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            "o_orderpriority",
            ["n_open", "n_filled", "n_partial"],
            "status_col",
            "n_orders",
        )
        .filter(F.col("n_orders") > 0)
    )


@entry(oracle="""
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""")
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase agg in Spark)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@entry(oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")
def q_cust_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers who never ordered (reference's deleted-id
    exclusion is the same shape — SURVEY.md §2.4 semi/anti row)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@entry(oracle="""
SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month, count(*) AS n_orders,
  round(sum(o_totalprice), 2) AS revenue
FROM orders GROUP BY 1
""", headline=True)
def q_revenue_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions + agg: monthly order revenue trend."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@entry(oracle="""
SELECT p_partkey, upper(p_name) AS uname,
  p_brand || '/' || p_type AS brand_type,
  length(p_name)::BIGINT AS name_len
FROM part WHERE p_name LIKE '%red%'
""")
def q_part_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions: LIKE filter + upper + concat on part names."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%red%"))
        .select(
            "p_partkey",
            F.upper(F.col("p_name")).alias("uname"),
            F.concat_ws("/", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
            F.length(F.col("p_name")).cast("bigint").alias("name_len"),
        )
    )


@entry(oracle="""
WITH top_parts AS (
  SELECT l_partkey, round(sum(l_extendedprice), 2) AS spend
  FROM lineitem GROUP BY l_partkey
  ORDER BY spend DESC, l_partkey ASC LIMIT 5
)
SELECT l_partkey, p_name, p_brand, spend
FROM top_parts JOIN part ON l_partkey = p_partkey
""")
def q_lineitem_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's enrichment join shape (Q1 step 2,
    query_processor.py:37-49): a k-row result set joined back to the big
    table — broadcast the small side, big side unshuffled."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    top_parts = (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice")), 2).alias("spend"))
        .orderBy(F.col("spend").desc(), F.col("l_partkey").asc())
        .limit(5)
    )
    return top_parts.join(F.broadcast(part), top_parts.l_partkey == part.p_partkey).select(
        "l_partkey", "p_name", "p_brand", "spend"
    )


@entry(oracle="""
SELECT o_orderkey, o_custkey, o_totalprice FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
    avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
  FROM orders
) WHERE o_totalprice > cust_avg + 0.000001
""")
def q_orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (decorrelated as a window): orders pricier
    than their customer's average order."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    avg_price = F.avg("o_totalprice").over(w)
    # epsilon guard: prices are 2-decimal, so any true price-vs-avg gap is a
    # multiple of 0.01/n — 1e-6 cleanly excludes exact ties without letting
    # cross-engine ulp noise flip rows. The raw avg itself is NOT emitted
    # (its value can sit exactly on a rounding boundary).
    return (
        orders.withColumn("cust_avg", avg_price)
        .filter(F.col("o_totalprice") > F.col("cust_avg") + F.lit(1e-6))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@entry(oracle="""
SELECT l_partkey, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY l_partkey HAVING count(*) >= 40
""")
def q_lineitem_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING: parts appearing in many lineitems."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .filter(F.col("n_items") >= 40)
    )


# one shared window, unique tiebreak ⇒ rank family deterministic
@entry(oracle="""
SELECT o_custkey, o_orderkey,
  row_number() OVER w AS rn,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist() OVER w, 6) AS cume,
  ntile(4) OVER w AS quartile,
  lag(o_totalprice, 1) OVER w AS prev_price,
  lead(o_totalprice, 1) OVER w AS next_price,
  first_value(o_totalprice) OVER w AS first_price
FROM orders WHERE o_custkey % 51 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, rn
""")
def q_orders_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window-function battery over one deterministic total
    order (§2.4 window coverage beyond aggregates+LAG): row_number,
    percent_rank, cume_dist, ntile quartiles, lag/lead neighbours, and
    first_value, all sharing a single (o_custkey, o_orderdate,
    o_orderkey) window — one Exchange on o_custkey, one sort, every
    function evaluated in the same WindowExec pass. The unique
    o_orderkey tiebreak makes rank-family outputs deterministic, so the
    DuckDB oracle matches bit-for-bit (6-dp rounding on the two
    ratio-valued functions)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.filter(F.col("o_custkey") % 51 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
            F.lag("o_totalprice", 1).over(w).alias("prev_price"),
            F.lead("o_totalprice", 1).over(w).alias("next_price"),
            F.first("o_totalprice").over(w).alias("first_price"),
        )
        .orderBy("o_custkey", "rn")
    )


@entry()
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximations (HLL distinct + quantile sketch): the
    constant-memory path for 100 TB cardinality/quantile questions. No SQL
    oracle — sketch implementations differ across engines by design — so
    the driver records the weaker rows-only check; the test suite bounds
    the estimates against exact values instead."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.round(
            F.percentile_approx("l_extendedprice", 0.5), 2
        ).alias("approx_median_price"),
        F.round(
            F.percentile_approx("l_extendedprice", 0.99), 2
        ).alias("approx_p99_price"),
    )
