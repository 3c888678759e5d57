"""Complex analytics queries — TPC-H/DS-shaped composite plans (the
reference's benchmark workload is TPC-DS via YQL, yt/benchmarks/run/).
These exercise multi-join + aggregate + window + CTE compositions whose
plan shape is what actually matters at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import load_tables
from ytsaurus_spark.operators import materialize
from ytsaurus_spark.queries import register


# --- TPC-H Q3 shape: shipping-priority top-k -------------------------------

@register(
    "tpch_q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-06-01'
      AND l_shipdate > TIMESTAMP '1995-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    cust = cat.read("customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = cat.read("orders").filter(
        F.col("o_orderdate") < F.lit("1995-06-01").cast("timestamp")
    )
    li = cat.read("lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-06-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --- TPC-H Q7 shape: bilateral volume by year ------------------------------

@register(
    "tpch_q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    # SQL form — Catalyst plans the same join DAG either way; broadcast of
    # the tiny nation/supplier dims happens via autoBroadcastJoinThreshold.
    return spark.sql(
        """
        SELECT supp_nation, cust_nation, l_year,
               round(sum(volume), 4) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation,
                 n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INT) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders   ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE n1.n_name <> n2.n_name
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        """
    )


# --- revenue share within region (agg + window over agg) -------------------

@register(
    "analytics_revenue_share",
    """
    WITH nat AS (
      SELECT r_name, n_name,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS nat_rev_c
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    )
    SELECT r_name, n_name,
           nat_rev_c / 100.0 AS nat_rev,
           CAST(floor(nat_rev_c * 1000000.0
                      / sum(nat_rev_c) OVER (PARTITION BY r_name) + 0.5)
                AS BIGINT) / 1000000.0 AS share,
           CAST(rank() OVER (PARTITION BY r_name ORDER BY nat_rev_c DESC, n_name)
                AS INT) AS rnk
    FROM nat
    """,
)
def analytics_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    orders, cust = cat.read("orders"), cat.read("customer")
    nation, region = cat.read("nation"), cat.read("region")
    # Integer-cents discipline: round each o_totalprice to cents BEFORE
    # summing (per-element doubles are bit-identical across engines, so the
    # BIGINT sum is exact), then half-up floor for the 6-decimal share —
    # round(double, 6) on a repeating ratio is a cross-engine repr hazard.
    nat = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("nat_rev_c"))
    )
    w = W.partitionBy("r_name")
    wr = w.orderBy(F.col("nat_rev_c").desc(), "n_name")
    return nat.select(
        "r_name",
        "n_name",
        (F.col("nat_rev_c") / 100.0).alias("nat_rev"),
        (
            F.floor(
                F.col("nat_rev_c") * 1000000.0 / F.sum("nat_rev_c").over(w) + 0.5
            ).cast("long")
            / 1000000.0
        ).alias("share"),
        F.rank().over(wr).alias("rnk"),
    )


# --- customer value deciles (ntile over aggregate) -------------------------

@register(
    "analytics_customer_deciles",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS t_tt
      FROM orders GROUP BY o_custkey
    ), h AS (
      SELECT t_tt, CAST(count(*) AS BIGINT) AS c FROM spend GROUP BY 1
    ), cum AS (
      SELECT t_tt, c,
             CAST(COALESCE(SUM(c) OVER (ORDER BY t_tt DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS c_gt
      FROM h
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h)
    SELECT CAST((10 * c_gt) // n + 1 AS INT) AS decile,
           CAST(sum(c) AS BIGINT) AS n_customers,
           round(sum(t_tt * c) / 100.0, 2) AS decile_rev,
           round(min(t_tt) / 100.0, 2) AS min_spend,
           round(max(t_tt) / 100.0, 2) AS max_spend
    FROM cum, tot GROUP BY 1
    """,
)
def analytics_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue deciles WITHOUT a global ntile (which would sort every
    customer on one executor): per-customer spend in exact cents →
    spend histogram → hierarchical `prefix_sum` on the NEGATED key for
    a strictly-greater cumulative count → `decile = (10*c_gt) div n + 1`
    assigned on histogram rows. Equal spenders share a decile; decile
    revenue folds from the histogram (`Σ t_tt·c`), exact to the cent."""
    from ytsaurus_spark.operators.curation import prefix_sum

    cat = load_tables(spark, sf_dir)
    spend = (
        cat.read("orders")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("t_tt")
        )
    )
    h = spend.groupBy("t_tt").agg(F.count(F.lit(1)).cast("long").alias("__c"))
    cum = prefix_sum(
        h.withColumn("__negt", -F.col("t_tt")), "__negt", "__c", "c_gt"
    )
    tot = h.agg(F.sum("__c").cast("long").alias("n_total"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy(
            (F.expr("(10 * c_gt) div n_total") + 1).cast("int").alias("decile")
        )
        .agg(
            F.sum("__c").cast("long").alias("n_customers"),
            F.round(F.sum(F.col("t_tt") * F.col("__c")) / 100.0, 2).alias(
                "decile_rev"
            ),
            F.round(F.min("t_tt") / 100.0, 2).alias("min_spend"),
            F.round(F.max("t_tt") / 100.0, 2).alias("max_spend"),
        )
    )


# --- correlated-subquery shape (TPC-H Q17-like): per-part average filter ---

@register(
    "tpch_q17_small_quantity",
    """
    SELECT CAST(floor(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                      * 100.0 / 7.0 + 0.5) AS BIGINT) / 10000.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    part = cat.read("part").filter(F.col("p_brand") == "Brand#1")
    # decorrelated form: the per-part average joins back broadcast — the
    # plan Catalyst produces for the correlated subquery, written explicitly
    avgs = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avgs, li.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            # exact integer cents, then half-up floor at 4 decimals —
            # round(sum/7.0, 4) can land on a non-dyadic x.xxxx5 where
            # Spark (shortest-repr) and DuckDB (binary) round apart
            (
                F.floor(
                    F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long")
                    * 100.0
                    / 7.0
                    + 0.5
                ).cast("long")
                / 10000.0
            ).alias("avg_yearly")
        )
    )


# --- TPC-H Q10 shape: top returned-revenue customers ------------------------

@register(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    cust, orders = cat.read("customer"), cat.read("orders")
    li = cat.read("lineitem").filter(F.col("l_returnflag") == "R")
    nation = cat.read("nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --- TPC-H Q6 shape: forecast revenue change (pure scan-filter-agg) --------

@register(
    "tpch_q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


# --- TPC-H Q12 shape: shipmode priority classes ----------------------------

@register(
    "tpch_q12_shipmode",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    GROUP BY l_returnflag
    """,
)
def tpch_q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders")
    li = cat.read("lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --- TPC-H Q14 shape: promo revenue percentage -----------------------------

@register(
    "tpch_q14_promo",
    """
    SELECT CAST(floor(
             100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN CAST(round(l_extendedprice * (1 - l_discount)
                                              * 10000) AS BIGINT)
                              ELSE 0 END)
             / sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
             * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate < TIMESTAMP '1995-10-01'
    """,
)
def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    part = cat.read("part")
    # net price has <=4 decimals, so per-element round(net*10000) is the
    # identical double in both engines and the sum is an exact integer;
    # the ratio of exact integers + half-up floor is engine-deterministic
    # (round(double, 6) on the raw ratio is a repr-tie hazard).
    net_tt = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.floor(
                    100.0
                    * F.sum(F.when(F.col("p_type").like("PROMO%"), net_tt).otherwise(0))
                    / F.sum(net_tt)
                    * 1000000
                    + 0.5
                ).cast("long")
                / 1000000.0
            ).alias("promo_revenue")
        )
    )


# --- TPC-H Q19 shape: disjunctive bracket predicates -----------------------

@register(
    "tpch_q19_brackets",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 15 AND 35)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 25 AND 50)
    """,
)
def tpch_q19_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li, part = cat.read("lineitem"), cat.read("part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(15, 35))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(25, 50))
    )
    return joined.filter(b).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )


# --- TPC-H Q4 shape: order priority with EXISTS ----------------------------

@register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1995-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_quantity > 45
      )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    big_lines = cat.read("lineitem").filter(F.col("l_quantity") > 45)
    return (
        orders.join(
            big_lines, orders.o_orderkey == big_lines.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --- TPC-H Q18 shape: large-volume customers (IN over grouped subquery) ----

@register(
    "tpch_q18_large_orders",
    """
    SELECT c_custkey, o_orderkey, round(total_qty, 2) AS total_qty
    FROM (
      SELECT o_custkey AS c_custkey, l_orderkey AS o_orderkey,
             sum(l_quantity) AS total_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey, l_orderkey
    ) t
    WHERE total_qty > 200
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c_custkey"),
            F.col("l_orderkey").alias("o_orderkey"),
        )
        .agg(F.sum("l_quantity").alias("_tq"))
        .filter(F.col("_tq") > 200)
        .select("c_custkey", "o_orderkey", F.round("_tq", 2).alias("total_qty"))
    )


# --- TPC-H Q22 shape: global-avg scalar subquery + anti join ---------------

@register(
    "tpch_q22_global_sales_opportunity",
    """
    SELECT c_nationkey AS cntry,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 250000)
    GROUP BY c_nationkey
    """,
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    cust, orders = cat.read("customer"), cat.read("orders")
    # scalar subquery: global average broadcast as a 1-row cross join —
    # Catalyst's own plan for uncorrelated scalar subqueries
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_cut")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_cut"))
        .join(
            orders.filter(F.col("o_totalprice") > 250000),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --- TPC-H Q15 shape: top supplier by revenue (CTE + max filter) -----------

@register(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1995-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 4) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 sum(l_extendedprice * (1 - l_discount)) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1995-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, round(total_revenue, 4) AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        """
    )


# --- TPC-H Q5: local supplier volume ---------------------------------------

_Q5_SQL = """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """


@register("tpch_q5_local_supplier_volume", _Q5_SQL)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the c_nationkey = s_nationkey
    equi-condition makes this the classic co-located fact-fact join; nation/
    region broadcast, lineitem-orders-customer shuffle on their keys."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q5_SQL)


# --- TPC-H Q8: national market share ---------------------------------------

_Q8_SQL = """
    SELECT o_year,
           CAST(floor(CAST(sum(CASE WHEN nation = 'NATION_3' THEN vol_tt
                                    ELSE 0 END) AS DOUBLE)
                      * 1e6 / CAST(sum(vol_tt) AS DOUBLE) + 0.5)
                AS BIGINT) / 1e6 AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT) AS vol_tt,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                            AND TIMESTAMP '1997-12-31'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """


@register("tpch_q8_market_share", _Q8_SQL)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): 8-table join, conditional-sum
    ratio. Part filter prunes lineitem via the join; dims broadcast."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q8_SQL)


# --- TPC-H Q9: product-type profit (supply cost proxied) -------------------

# Profit flows as exact BIGINT ten-thousandths: the per-row amount has <=4
# decimals, so the scaled value is integer-exact and the SUM is the same
# integer on every engine at every scale factor — a plain double sum
# rounded to cents flaked at sf0.1 (sum magnitude 2.2e7 puts the rounding
# boundary inside double summation-order noise).
_Q9_SQL = """
    SELECT nation, o_year,
           CAST(floor(CAST(sum(amount_tt) AS DOUBLE) / 1e2 + 0.5)
                AS BIGINT) / 1e2 AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(round((l_extendedprice * (1 - l_discount)
                         - 0.1 * p_retailprice * l_quantity) * 10000, 0)
                  AS BIGINT) AS amount_tt
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """


@register("tpch_q9_product_profit", _Q9_SQL)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit). The fixture has no partsupp table,
    so ps_supplycost is proxied as 0.1 * p_retailprice — same plan shape
    (part-filtered lineitem x supplier x orders, profit by nation x year)."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q9_SQL)


# --- TPC-H Q11: important stock (partsupp derived from lineitem) -----------

_Q11_SQL = """
    WITH supplied AS (
      SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2')
      GROUP BY l_partkey
    )
    SELECT l_partkey AS p_key, round(value, 2) AS value
    FROM supplied
    WHERE value > (SELECT 0.001 * sum(value) FROM supplied)
    ORDER BY value DESC, p_key
    """


@register("tpch_q11_important_stock", _Q11_SQL)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): per-part supplied value for a nation
    group, kept if above a scalar-subquery fraction of the total. The
    fixture has no partsupp, so value derives from lineitem revenue."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q11_SQL)


# --- TPC-H Q13: customer order-count distribution --------------------------


@register(
    "tpch_q13_customer_distribution",
    """
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): left join keeps order-less
    customers (c_count 0), two-level aggregation. The original's o_comment
    NOT LIKE filter is proxied by o_orderpriority (no comment column)."""
    cat = load_tables(spark, sf_dir)
    cust = cat.read("customer")
    orders = cat.read("orders")
    c_orders = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --- TPC-H Q16: parts/supplier relationship --------------------------------

_Q16_SQL = """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """


@register("tpch_q16_parts_supplier", _Q16_SQL)
def tpch_q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: distinct-supplier counts per (brand, type, size) with a
    NOT IN anti-join (negative-balance suppliers proxy the original's
    complaints filter). Part-supplier pairs derive from lineitem (no
    partsupp in the fixture)."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q16_SQL)


# --- TPC-H Q20: potential part promotion (semi-join) -----------------------

_Q20_SQL = """
    SELECT s_name, round(s_acctbal, 2) AS s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'small%'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 50
      )
    ORDER BY s_name
    """


@register("tpch_q20_part_promotion", _Q20_SQL)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): IN over an aggregated
    subquery → left-semi join; shipped quantity stands in for the
    original's ps_availqty threshold."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q20_SQL)


# --- TPC-H Q21: suppliers who kept orders waiting --------------------------

_Q21_SQL = """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """


@register("tpch_q21_suppliers_waiting", _Q21_SQL)
def tpch_q21_suppliers_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): the oracle keeps
    the reference's EXISTS / NOT EXISTS spelling; the Spark plan folds
    both correlated subqueries into ONE order-grain aggregate — for an
    l1 row with returnflag 'R', EXISTS(another supplier in the order) ⟺
    distinct-supplier count ≥ 2, and NOT EXISTS(another supplier with
    'R') ⟺ the order's distinct RETURNING-supplier count is exactly 1
    (l1's own supplier is returning, so 1 means only it). The naive
    semi + anti pair re-scanned the fact once per subquery (3 scans,
    round-6 audit); the fold is the l1 scan + one aggregate of the same
    scan shape — and both shuffle on l_orderkey, so AQE lines them up.
    The fixture lacks receipt/commit dates, so "late" is proxied by
    l_returnflag = 'R' — the sole-guilty-supplier correlation shape is
    what matters."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("__ns"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("__nrs"),
    )
    orders = cat.read("orders").filter(F.col("o_orderstatus") == "F")
    supp = cat.read("supplier")
    nation = cat.read("nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(per_order, "l_orderkey")
        .filter((F.col("__ns") > 1) & (F.col("__nrs") == 1))
        .join(orders, F.col("l_orderkey") == orders.o_orderkey, "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(
            F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey,
            "left_semi",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# --- TPC-H Q2: min-cost supplier (window form) -----------------------------


@register(
    "tpch_q2_min_cost_supplier",
    """
    WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    cand AS (
      SELECT p_partkey, s_name, s_acctbal, n_name,
             min(s_acctbal) OVER (PARTITION BY p_partkey) AS min_bal
      FROM part
      JOIN pairs    ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
    )
    SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey
    FROM cand WHERE s_acctbal = min_bal
    ORDER BY s_acctbal DESC, p_partkey, s_name
    LIMIT 20
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (min-cost supplier): the correlated min-subquery expressed
    as a per-part window min (one pass, no re-join). Part-supplier pairs
    derive from lineitem; min s_acctbal stands in for min ps_supplycost."""
    cat = load_tables(spark, sf_dir)
    pairs = cat.read("lineitem").select("l_partkey", "l_suppkey").distinct()
    part = cat.read("part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    nation = cat.read("nation")
    region = cat.read("region").filter(F.col("r_name") == "EUROPE")
    cand = (
        pairs.join(F.broadcast(part), pairs.l_partkey == F.col("p_partkey"))
        .join(cat.read("supplier"), pairs.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .withColumn("min_bal", F.min("s_acctbal").over(W.partitionBy("p_partkey")))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
    )
    return (
        cand.select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_name")
        .limit(20)
    )


@register(
    "analytics_retention_cohorts",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '2024-01-01', ts) // 7 AS wk
      FROM events
    ), first_wk AS (
      SELECT user_id, min(wk) AS cohort FROM act GROUP BY user_id
    ), cells AS (
      SELECT cohort, CAST(wk - cohort AS INT) AS offset_wk,
             CAST(count(*) AS BIGINT) AS n_users
      FROM act JOIN first_wk USING (user_id)
      GROUP BY cohort, wk - cohort
    ), sized AS (
      SELECT c.cohort, c.offset_wk, c.n_users, z.n_users AS cohort_size
      FROM cells c JOIN cells z
        ON c.cohort = z.cohort AND z.offset_wk = 0
    )
    SELECT CAST(cohort AS INT) AS cohort, offset_wk, n_users, cohort_size,
           CAST(floor(100.0 * n_users / cohort_size * 100 + 0.5)
                AS BIGINT) / 100.0 AS retention_pct
    FROM sized
    """,
)
def analytics_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix over the events stream: users
    grouped by first-active week, each later week's distinct-active
    count as a share of the cohort. Shape at 100 TB: the distinct
    (user, week) pre-aggregation partial-aggs map-side and bounds
    everything downstream to user-cardinality; first-week derives from
    the SAME aggregate; the cohort-size join runs on cohort×offset cells
    (tiny, broadcast). Percentages divide exact integer counts — no
    hash flake. Week = epoch-anchored day count div 7, engine-neutral."""
    cat = load_tables(spark, sf_dir)
    act = (
        cat.read("events")
        .select(
            "user_id",
            F.expr(
                "datediff(cast(ts as date), date'2024-01-01') div 7"
            ).alias("wk"),
        )
        .distinct()
    )
    first_wk = act.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    cells = (
        act.join(first_wk, "user_id")
        .groupBy("cohort", (F.col("wk") - F.col("cohort")).cast("int").alias("offset_wk"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    base = cells.filter(F.col("offset_wk") == 0).select(
        F.col("cohort").alias("z_cohort"), F.col("n_users").alias("cohort_size")
    )
    return (
        cells.join(F.broadcast(base), F.col("cohort") == F.col("z_cohort"))
        .select(
            F.col("cohort").cast("int").alias("cohort"),
            "offset_wk",
            "n_users",
            "cohort_size",
            (
                F.floor(
                    100.0 * F.col("n_users") / F.col("cohort_size") * 100 + 0.5
                ).cast("long")
                / 100.0
            ).alias("retention_pct"),
        )
    )


# --- iterative graph analytics: damped PageRank as chained passes ----------

@register(
    "graph_pagerank",
    """
    WITH edges AS (
      SELECT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), nn AS (SELECT count(*) * 1.0 AS n FROM nodes),
    outdeg AS (SELECT src AS node, count(*) * 1.0 AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
    c1 AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS recv
           FROM r0 r JOIN outdeg d ON r.node = d.node
                     JOIN edges e ON e.src = r.node GROUP BY e.dst),
    d1 AS (SELECT coalesce(sum(r.rank), 0) AS dm
           FROM r0 r LEFT JOIN outdeg d ON r.node = d.node WHERE d.node IS NULL),
    r1 AS (SELECT nodes.node,
                  0.15 / nn.n + 0.85 * (coalesce(recv, 0) + d1.dm / nn.n) AS rank
           FROM nodes LEFT JOIN c1 ON nodes.node = c1.node, nn, d1),
    c2 AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS recv
           FROM r1 r JOIN outdeg d ON r.node = d.node
                     JOIN edges e ON e.src = r.node GROUP BY e.dst),
    d2 AS (SELECT coalesce(sum(r.rank), 0) AS dm
           FROM r1 r LEFT JOIN outdeg d ON r.node = d.node WHERE d.node IS NULL),
    r2 AS (SELECT nodes.node,
                  0.15 / nn.n + 0.85 * (coalesce(recv, 0) + d2.dm / nn.n) AS rank
           FROM nodes LEFT JOIN c2 ON nodes.node = c2.node, nn, d2),
    c3 AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS recv
           FROM r2 r JOIN outdeg d ON r.node = d.node
                     JOIN edges e ON e.src = r.node GROUP BY e.dst),
    d3 AS (SELECT coalesce(sum(r.rank), 0) AS dm
           FROM r2 r LEFT JOIN outdeg d ON r.node = d.node WHERE d.node IS NULL),
    r3 AS (SELECT nodes.node,
                  0.15 / nn.n + 0.85 * (coalesce(recv, 0) + d3.dm / nn.n) AS rank
           FROM nodes LEFT JOIN c3 ON nodes.node = c3.node, nn, d3)
    SELECT node, round(rank, 6) AS rank FROM r3
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (3 synchronous iterations, d=0.85) over the
    supplier→customer order graph (operators/graph.pagerank). The
    reference runs iterative analytics as controller-resubmitted
    operation chains (controller_agent/controllers); here each iteration
    is a src-partitioned join + dst aggregate — two shuffles per pass,
    dangling mass redistributed uniformly. The oracle unrolls the same
    three iterations as chained CTEs."""
    from ytsaurus_spark.operators.graph import pagerank

    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
    )
    pr = pagerank(edges, iterations=3, damping=0.85)
    return pr.select("node", F.round("rank", 6).alias("rank"))


# --- connected components + triangles (iterative graph analytics) ----------

_COPURCHASE_EDGES_SQL = """
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS src,
                      greatest(a.l_partkey, b.l_partkey) AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_quantity <= 15 AND b.l_quantity <= 15
"""

_CC_ROUND_SQL = """
l{i} AS (SELECT node, min(comp) AS comp FROM (
    SELECT node, comp FROM l{p}
    UNION ALL SELECT s.v AS node, l.comp FROM sym s JOIN l{p} l ON s.u = l.node
  ) GROUP BY node)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-purchase graph: an undirected (lo, hi) edge per pair of
    small-quantity parts appearing in the same order — the sparse
    similarity graph a dedup/recommendation pipeline would build."""
    cat = load_tables(spark, sf_dir)
    a = cat.read("lineitem").filter(F.col("l_quantity") <= 15).select(
        "l_orderkey", "l_partkey"
    )
    b = a.select(
        F.col("l_orderkey").alias("r_orderkey"), F.col("l_partkey").alias("r_partkey")
    )
    return (
        a.join(
            b,
            (F.col("l_orderkey") == F.col("r_orderkey"))
            & (F.col("l_partkey") < F.col("r_partkey")),
        )
        .select(
            F.least("l_partkey", "r_partkey").alias("src"),
            F.greatest("l_partkey", "r_partkey").alias("dst"),
        )
        .distinct()
    )


@register(
    "graph_connected_components",
    "WITH e AS ("
    + _COPURCHASE_EDGES_SQL
    + """),
    sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
    l0 AS (SELECT DISTINCT u AS node, u AS comp FROM sym),"""
    + ",".join(_CC_ROUND_SQL.format(i=i, p=i - 1) for i in range(1, 5))
    + """
    SELECT node, comp FROM l4
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by synchronous min-label propagation (4
    rounds) over the part co-purchase graph
    (operators/graph.connected_components). The reference expresses this
    as a controller-resubmitted MapReduce chain
    (controller_agent/controllers); each Spark round is one node-keyed
    equi-join + one min-aggregate — |V|+|E| rows shuffled per round,
    never pairs. The oracle unrolls the identical 4 rounds as CTEs, so
    the k-hop-min label matches exactly regardless of convergence; the
    converge=True variant (true components via a per-round scalar
    convergence check) is differential-tested against union-find in
    tests."""
    from ytsaurus_spark.operators.graph import connected_components

    edges = _copurchase_edges(spark, sf_dir)
    return connected_components(edges, iterations=4)


@register(
    "graph_triangle_count",
    "WITH e AS ("
    + _COPURCHASE_EDGES_SQL
    + """),
    tri AS (
      SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
      FROM e e1 JOIN e e2 ON e2.src = e1.dst
                JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst)
    SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ) GROUP BY node
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle membership over the part co-purchase graph
    (operators/graph.triangle_count). Spark orients each edge from its
    lower-(degree, id) endpoint — the orientation that bounds the wedge
    join's intermediate size by O(m^1.5) on any degree distribution —
    then closes wedges with two self-equi-joins. The oracle counts the
    same triangles from the id-canonical edge list; per-triangle corner
    credit is engine-independent."""
    from ytsaurus_spark.operators.graph import triangle_count

    edges = _copurchase_edges(spark, sf_dir)
    return triangle_count(edges)


_BFS_ROUND_SQL = """
d{i} AS (SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{p}
    UNION ALL SELECT s.v AS node, d.dist + 1 AS dist
    FROM sym s JOIN d{p} d ON s.u = d.node
  ) GROUP BY node)"""


@register(
    "graph_bfs_layers",
    "WITH e AS ("
    + _COPURCHASE_EDGES_SQL
    + """),
    sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
    d0 AS (SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS dist
           FROM sym WHERE u % 97 = 0),"""
    + ",".join(_BFS_ROUND_SQL.format(i=i, p=i - 1) for i in range(1, 5))
    + """
    SELECT node, dist FROM d4
    """,
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop layers (operators/graph.bfs_layers): minimum
    hop distance within 4 rounds from the deterministic source set
    (co-purchase nodes ≡ 0 mod 97) — the min-plus twin of
    connected_components, one node-keyed join + min-aggregate per round.
    The oracle unrolls the same 4 relaxations as CTEs; unreached nodes
    are absent on both sides."""
    from ytsaurus_spark.operators.graph import bfs_layers

    edges = _copurchase_edges(spark, sf_dir).transform(materialize)
    sym_nodes = (
        edges.select(F.explode(F.array("src", "dst")).alias("node")).distinct()
    )
    sources = sym_nodes.filter(F.col("node") % 97 == 0)
    return bfs_layers(edges, sources, rounds=4)


_SSSP_ROUND_SQL = """
w{i} AS (SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM w{p}
    UNION ALL SELECT s.v AS node, d.dist + s.w AS dist
    FROM sym s JOIN w{p} d ON s.u = d.node
  ) GROUP BY node)"""


@register(
    "graph_sssp_weighted",
    """
    WITH e AS (
      SELECT least(a.l_partkey, b.l_partkey) AS src,
             greatest(a.l_partkey, b.l_partkey) AS dst,
             CAST(min(a.l_quantity + b.l_quantity) AS BIGINT) AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_quantity <= 15 AND b.l_quantity <= 15
      GROUP BY 1, 2
    ),
    sym AS (SELECT src AS u, dst AS v, w FROM e
            UNION ALL SELECT dst, src, w FROM e),
    w0 AS (SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS dist
           FROM sym WHERE u % 97 = 0),"""
    + ",".join(_SSSP_ROUND_SQL.format(i=i, p=i - 1) for i in range(1, 5))
    + """
    SELECT node, dist FROM w4
    """,
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source (multi-source) shortest paths
    (operators/graph.sssp_weighted): bounded Bellman–Ford over the
    co-purchase graph with edge weight = min combined quantity of the
    pair's co-occurrences — 4 relaxation rounds from the ≡0 mod 97
    source set. Distances stay exact BIGINTs; the oracle unrolls the
    same 4 min-plus rounds as CTEs. Note the weighted 4-round frontier
    can DIFFER from BFS reachability: a longer-hop cheaper path wins
    where the round budget allows it."""
    from ytsaurus_spark.operators.graph import sssp_weighted

    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    a = li.filter(F.col("l_quantity") <= 15).select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"),
        F.col("l_quantity").alias("qa"),
    )
    b = li.filter(F.col("l_quantity") <= 15).select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pb"),
        F.col("l_quantity").alias("qb"),
    )
    edges = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("pa") < F.col("pb")))
        .groupBy(
            F.least("pa", "pb").alias("src"),
            F.greatest("pa", "pb").alias("dst"),
        )
        .agg(F.min(F.col("qa") + F.col("qb")).cast("long").alias("w"))
        .transform(materialize)
    )
    sym_nodes = edges.select(
        F.explode(F.array("src", "dst")).alias("node")
    ).distinct()
    sources = sym_nodes.filter(F.col("node") % 97 == 0)
    return sssp_weighted(edges, sources, rounds=4)


_LPA_ROUND_SQL = """
lp{i} AS (
  SELECT node, lab FROM (
    SELECT node, lab,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rk
    FROM (SELECT s.v AS node, l.lab AS lab, count(*) AS c
          FROM sym s JOIN lp{p} l ON s.u = l.node
          GROUP BY s.v, l.lab))
  WHERE rk = 1)"""


@register(
    "graph_label_propagation",
    "WITH e AS ("
    + _COPURCHASE_EDGES_SQL
    + """),
    sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
    lp0 AS (SELECT DISTINCT u AS node, u AS lab FROM sym),"""
    + ",".join(_LPA_ROUND_SQL.format(i=i, p=i - 1) for i in range(1, 4))
    + """
    SELECT node, lab AS label FROM lp3
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by deterministic synchronous label
    propagation, 3 rounds, over the part co-purchase graph
    (operators/graph.label_propagation): each node adopts its
    neighbors' most frequent label, ties to the smallest — the
    classic LPA made order-independent so every engine computes the
    identical communities. Per round: one node-keyed join, one
    (node, label) partial-agged count, one degree-bounded argmax
    window — |V|+|E| rows shuffled, never pairs. The oracle unrolls
    the same 3 rounds as CTEs."""
    from ytsaurus_spark.operators.graph import label_propagation

    edges = _copurchase_edges(spark, sf_dir)
    return label_propagation(edges, iterations=3)


@register(
    "analytics_funnel_conversion",
    """
    WITH u AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_v
      FROM events GROUP BY user_id
    ), c AS (
      SELECT e.user_id, u.t_v,
             min(CASE WHEN e.event_type = 'click' AND e.ts > u.t_v
                      THEN e.ts END) AS t_c
      FROM events e JOIN u ON e.user_id = u.user_id
      GROUP BY e.user_id, u.t_v
    ), p AS (
      SELECT e.user_id, c.t_v, c.t_c,
             min(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_c
                      THEN e.ts END) AS t_p
      FROM events e JOIN c ON e.user_id = c.user_id
      GROUP BY e.user_id, c.t_v, c.t_c
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN t_v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_viewed,
           CAST(sum(CASE WHEN t_c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clicked,
           CAST(sum(CASE WHEN t_p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchased,
           CAST(floor(CAST(sum(CASE WHEN t_c IS NOT NULL THEN 1 ELSE 0 END)
                           AS DOUBLE)
                * 1e6 / sum(CASE WHEN t_v IS NOT NULL THEN 1 ELSE 0 END)
                + 0.5) AS BIGINT) / 1e6 AS view_to_click,
           CAST(floor(CAST(sum(CASE WHEN t_p IS NOT NULL THEN 1 ELSE 0 END)
                           AS DOUBLE)
                * 1e6 / sum(CASE WHEN t_c IS NOT NULL THEN 1 ELSE 0 END)
                + 0.5) AS BIGINT) / 1e6 AS click_to_purchase
    FROM p
    """,
)
def analytics_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click-after-view →
    purchase-after-click): the product-analytics staple. One shuffle on
    user_id; the three stage timestamps chain as unordered windows over
    the SAME user partition (t_v, then t_c = min click after t_v, then
    t_p = min purchase after t_c — no re-exchange between passes), and
    the final funnel counts partial-agg to one row. Ratios are exact
    integer counts with one half-up floor each, emitted as DOUBLE."""
    from pyspark.sql import Window as W

    cat = load_tables(spark, sf_dir)
    w = W.partitionBy("user_id")
    ev = (
        cat.read("events")
        .select("user_id", "event_type", "ts")
        .withColumn(
            "t_v",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_c",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_v")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_p",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_c")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(F.col("t_v").isNotNull()).alias("viewed"),
        F.max(F.col("t_c").isNotNull()).alias("clicked"),
        F.max(F.col("t_p").isNotNull()).alias("purchased"),
    )
    ratio = lambda num, den: (  # noqa: E731
        F.floor(num.cast("double") * 1e6 / den + F.lit(0.5)).cast("long")
        / F.lit(1e6)
    )
    agg = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("viewed"), 1).otherwise(0)).cast("long").alias("n_viewed"),
        F.sum(F.when(F.col("clicked"), 1).otherwise(0)).cast("long").alias("n_clicked"),
        F.sum(F.when(F.col("purchased"), 1).otherwise(0))
        .cast("long")
        .alias("n_purchased"),
    )
    return agg.select(
        "n_users",
        "n_viewed",
        "n_clicked",
        "n_purchased",
        ratio(F.col("n_clicked"), F.col("n_viewed")).alias("view_to_click"),
        ratio(F.col("n_purchased"), F.col("n_clicked")).alias("click_to_purchase"),
    )


@register(
    "analytics_cohort_retention",
    """
    WITH first AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_date,
           CAST(datediff('day', f.cohort_date, CAST(e.ts AS DATE)) // 7
                AS INT) AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM events e JOIN first f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def analytics_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen date, distinct
    actives per (cohort, week-offset) — the growth-analytics staple.
    Week offsets are integer day-diffs div 7 (no engine week-truncation
    semantics to diverge on). Single scan: the first-seen date is an
    unordered min window over the user partition (one user-keyed
    shuffle), then events partial-agg at (cohort, offset) grain for the
    distinct count — no join and no second pass over the corpus."""
    from pyspark.sql import Window as W

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    w = W.partitionBy("user_id")
    return (
        ev.withColumn("cohort_date", F.min("d").over(w))
        .select(
            "cohort_date",
            (F.datediff(F.col("d"), F.col("cohort_date"))
             .cast("long") / F.lit(7)).cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_date", "week_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("active_users"))
    )


@register(
    "graph_jaccard_link_prediction",
    "WITH e AS ("
    + _COPURCHASE_EDGES_SQL
    + """),
    sym AS (SELECT src AS w, dst AS n FROM e
            UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT w AS node, CAST(count(*) AS BIGINT) AS deg
            FROM sym GROUP BY w),
    wedge AS (
      SELECT a.n AS u, b.n AS v, CAST(count(*) AS BIGINT) AS common
      FROM sym a JOIN sym b ON a.w = b.w AND a.n < b.n
      GROUP BY a.n, b.n
    ), cand AS (
      SELECT * FROM wedge
      WHERE common >= 2
        AND NOT EXISTS (SELECT 1 FROM e
                        WHERE e.src = wedge.u AND e.dst = wedge.v)
    )
    SELECT u AS src, v AS dst, common,
           da.deg AS deg_src, db.deg AS deg_dst,
           CAST(floor(CAST(common AS DOUBLE) * 1e6
                / CAST(da.deg + db.deg - common AS DOUBLE) + 0.5)
                AS BIGINT) / 1e6 AS jaccard
    FROM cand
    JOIN deg da ON da.node = cand.u
    JOIN deg db ON db.node = cand.v
    """,
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor Jaccard link prediction over the part co-purchase
    graph (operators/graph.jaccard_link_prediction): scores every absent
    edge with ≥2 shared neighbors — the recommendation / blocking
    candidate generator. One wedge self-join on the shared neighbor
    (never all-pairs), partial-agged counts, broadcast-able anti-join
    against existing edges; intersection/union sizes are exact BIGINTs
    with one half-up floor for the ratio. The oracle rebuilds wedges,
    the NOT EXISTS anti-join, and the ratio from the same edge CTE."""
    from ytsaurus_spark.operators.graph import jaccard_link_prediction

    edges = _copurchase_edges(spark, sf_dir)
    return jaccard_link_prediction(edges, min_common=2)


# --- RFM segmentation (quartile tiles without a global ntile) ---------------

_RFM_TILE_SQL = """
{h} AS (SELECT {key}, CAST(count(*) AS BIGINT) AS c FROM c2 GROUP BY 1),
{t} AS (SELECT {key},
        CAST(COALESCE(SUM(c) OVER (ORDER BY {key} {dirn}
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS before_c
        FROM {h})"""


@register(
    "analytics_rfm_segmentation",
    """
    WITH cust AS (
      SELECT o_custkey AS ck,
             max(CAST(o_orderdate AS DATE)) AS last_d,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS mon
      FROM orders GROUP BY 1
    ), anch AS (SELECT max(CAST(o_orderdate AS DATE)) AS ad FROM orders),
    c2 AS (
      SELECT ck, CAST(date_diff('day', last_d, ad) AS BIGINT) AS rec,
             freq, mon
      FROM cust, anch
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c2),
    """
    + _RFM_TILE_SQL.format(h="rh", t="rt", key="rec", dirn="ASC")
    + ","
    + _RFM_TILE_SQL.format(h="fh", t="ft", key="freq", dirn="DESC")
    + ","
    + _RFM_TILE_SQL.format(h="mh", t="mt", key="mon", dirn="DESC")
    + """
    SELECT CAST((4 * rt.before_c) // n + 1 AS INT) AS r_tile,
           CAST((4 * ft.before_c) // n + 1 AS INT) AS f_tile,
           CAST((4 * mt.before_c) // n + 1 AS INT) AS m_tile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(mon) AS BIGINT) AS monetary_cents,
           CAST(floor(CAST(sum(mon) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                + 0.5) AS BIGINT) AS avg_monetary_cents
    FROM c2
    JOIN rt USING (rec) JOIN ft USING (freq) JOIN mt USING (mon)
    CROSS JOIN tot
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def analytics_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation of the customer base — recency (days
    since last order vs corpus anchor), frequency, and monetary (exact
    cents), each cut into quartiles WITHOUT a global ntile: the deciles
    trick (analytics_customer_deciles) per dimension — metric-value
    histogram → hierarchical prefix_sum → tile = (4·count_better) div n
    + 1 assigned on histogram rows, so equal values share a tile and no
    executor ever sorts all customers. The three tile maps broadcast
    back onto the customer frame; the corpus shuffles once to customer
    grain and once to segment grain."""
    from ytsaurus_spark.operators.curation import prefix_sum

    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders")
    cust = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("mon"),
    ).transform(materialize)  # customer grain; feeds the anchor aggregate and c2
    # anchor = max over per-customer maxima == global max: no second orders scan
    anch = cust.agg(F.max("last_d").alias("ad"))
    c2 = cust.crossJoin(F.broadcast(anch)).select(
        "ck",
        F.datediff(F.col("ad"), F.col("last_d")).cast("long").alias("rec"),
        "freq",
        "mon",
    ).transform(materialize)  # consumed by three histograms + the final join
    tot = c2.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def tile_map(key: str, descending: bool) -> DataFrame:
        h = c2.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("__c"))
        if descending:
            h = h.withColumn("__k", -F.col(key))
        else:
            h = h.withColumn("__k", F.col(key))
        return prefix_sum(h, "__k", "__c", "before_c").select(
            key, F.col("before_c").cast("long").alias(f"__b_{key}")
        )

    # rec (days) and freq (small ints) histograms are bounded-cardinality
    # -> broadcast; the mon (cents) histogram is near customer-grain, so its
    # tile map joins on the shuffle path (AQE picks the strategy).
    out = (
        c2.join(tile_map("mon", descending=True), "mon")
        .join(F.broadcast(tile_map("rec", descending=False)), "rec")
        .join(F.broadcast(tile_map("freq", descending=True)), "freq")
        .crossJoin(F.broadcast(tot))
    )
    tile = lambda b: (F.expr(f"(4 * {b}) div n") + 1).cast("int")  # noqa: E731
    return (
        out.groupBy(
            tile("__b_rec").alias("r_tile"),
            tile("__b_freq").alias("f_tile"),
            tile("__b_mon").alias("m_tile"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("mon").cast("long").alias("monetary_cents"),
            F.floor(
                F.sum("mon").cast("double")
                / F.count(F.lit(1)).cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("avg_monetary_cents"),
        )
        .orderBy("r_tile", "f_tile", "m_tile")
    )


_KCORE_ROUND_SQL = """
d{i} AS (SELECT s.u AS node, CAST(count(*) AS BIGINT) AS deg
         FROM sym s
         JOIN a{p} x ON s.u = x.node
         JOIN a{p} y ON s.v = y.node
         GROUP BY s.u),
a{i} AS (SELECT node FROM d{i} WHERE deg >= 3)"""


@register(
    "graph_kcore",
    "WITH e AS ("
    + _COPURCHASE_EDGES_SQL
    + """),
    sym AS (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e),
    a0 AS (SELECT DISTINCT u AS node FROM sym),"""
    + ",".join(_KCORE_ROUND_SQL.format(i=i, p=i - 1) for i in range(1, 5))
    + """
    SELECT node, deg FROM d4 WHERE deg >= 3
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 3-core peeling over the part co-purchase graph
    (operators/graph.kcore): 4 synchronous rounds each drop nodes with
    degree < 3 in the surviving subgraph — the standard dense-community
    / spam-ring extraction primitive. Per round one node-keyed
    equi-join + one count aggregate (|E|+|V| rows, never the induced
    subgraph); the oracle unrolls the identical 4 rounds as CTEs so the
    result matches exactly regardless of convergence."""
    from ytsaurus_spark.operators.graph import kcore

    edges = _copurchase_edges(spark, sf_dir)
    return kcore(edges, k=3, rounds=4)


@register(
    "analytics_market_basket",
    """
    WITH b AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), pairs AS (
      SELECT a.pk AS part_a, c.pk AS part_b, CAST(count(*) AS BIGINT) AS pair_cnt
      FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), supp AS (
      SELECT pk, CAST(count(*) AS BIGINT) AS s FROM b GROUP BY pk
    ), tot AS (
      SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM b
    )
    SELECT part_a, part_b, pair_cnt,
           sa.s AS supp_a, sb.s AS supp_b, n_orders,
           CAST(floor(CAST(pair_cnt AS DOUBLE) * 1e6
                / CAST(sa.s AS DOUBLE) + 0.5) AS BIGINT) / 1e6 AS conf_ab,
           CAST(floor(CAST(pair_cnt AS DOUBLE) * 1e6
                / CAST(sb.s AS DOUBLE) + 0.5) AS BIGINT) / 1e6 AS conf_ba,
           CAST(floor(CAST(pair_cnt * n_orders AS DOUBLE) * 1e6
                / CAST(sa.s * sb.s AS DOUBLE) + 0.5) AS BIGINT) / 1e6
             AS lift
    FROM pairs
    JOIN supp sa ON sa.pk = part_a
    JOIN supp sb ON sb.pk = part_b
    CROSS JOIN tot
    """,
)
def analytics_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: pair support, directional
    confidence, and lift for every part pair co-purchased in ≥2 orders —
    the classic market-basket primitive. Shape: baskets dedupe to
    (order, part) grain once (persisted — pair join, supports, and the
    order count all share it); pair candidates come from ONE self-
    equi-join on the order key (never a part×part product), partial-
    agged and support-filtered BEFORE the metric joins, so the
    confidence/lift joins see only surviving rules. Counts are exact
    BIGINTs; each metric takes one half-up floor at 1e−6."""
    cat = load_tables(spark, sf_dir)
    b = (
        cat.read("lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .transform(materialize)  # basket grain; pair join + supports + order count
    )
    b2 = b.select(F.col("ok").alias("ok2"), F.col("pk").alias("pk2"))
    pairs = (
        b.join(b2, (F.col("ok") == F.col("ok2")) & (F.col("pk") < F.col("pk2")))
        .groupBy(F.col("pk").alias("part_a"), F.col("pk2").alias("part_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 2)
    )
    supp = b.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("s"))
    tot = b.agg(F.countDistinct("ok").cast("long").alias("n_orders"))
    sa = supp.select(F.col("pk").alias("part_a"), F.col("s").alias("supp_a"))
    sb = supp.select(F.col("pk").alias("part_b"), F.col("s").alias("supp_b"))
    fix6 = lambda num, den: (  # noqa: E731
        F.floor(num.cast("double") * 1e6 / den.cast("double") + F.lit(0.5))
        .cast("long")
        / F.lit(1e6)
    )
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "pair_cnt",
            "supp_a",
            "supp_b",
            "n_orders",
            fix6(F.col("pair_cnt"), F.col("supp_a")).alias("conf_ab"),
            fix6(F.col("pair_cnt"), F.col("supp_b")).alias("conf_ba"),
            fix6(
                F.col("pair_cnt") * F.col("n_orders"),
                F.col("supp_a") * F.col("supp_b"),
            ).alias("lift"),
        )
    )


@register(
    "analytics_pareto_abc",
    """
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT)) AS BIGINT) AS rev_tt
      FROM lineitem GROUP BY 1
    ), h AS (
      SELECT rev_tt, CAST(count(*) AS BIGINT) AS n,
             CAST(rev_tt * count(*) AS BIGINT) AS band_rev
      FROM rev GROUP BY rev_tt
    ), cum AS (
      SELECT rev_tt, n, band_rev,
             CAST(COALESCE(SUM(band_rev) OVER (ORDER BY rev_tt DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS rev_above
      FROM h
    ), tot AS (SELECT CAST(sum(band_rev) AS BIGINT) AS t FROM h)
    SELECT cls, CAST(sum(n) AS BIGINT) AS n_parts,
           CAST(sum(band_rev) AS BIGINT) AS rev_tt_sum,
           CAST(floor(CAST(sum(band_rev) AS DOUBLE) * 1e6
                / CAST(any_value(t) AS DOUBLE) + 0.5) AS BIGINT) / 1e6
             AS rev_share
    FROM (
      SELECT n, band_rev,
             CASE WHEN 5 * rev_above < 4 * t THEN 'A'
                  WHEN 20 * rev_above < 19 * t THEN 'B'
                  ELSE 'C' END AS cls
      FROM cum CROSS JOIN tot
    ) CROSS JOIN tot
    GROUP BY cls
    ORDER BY cls
    """,
)
def analytics_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC inventory classification of parts by revenue — class A
    carries the top 80% of cumulative revenue, B the next 15%, C the
    tail — WITHOUT a global rank: the deciles trick (revenue-value
    histogram → hierarchical prefix_sum of band revenue → class assigned
    by integer cross-multiplied comparison 5·above < 4·total on
    histogram rows). Revenue is exact ten-thousandths (per-element
    BIGINT casts before summing); equal-revenue parts share a class by
    construction."""
    from ytsaurus_spark.operators.curation import prefix_sum

    cat = load_tables(spark, sf_dir)
    rev = (
        cat.read("lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("long")
            )
            .cast("long")
            .alias("rev_tt")
        )
    )
    h = (
        rev.groupBy("rev_tt")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("band_rev", (F.col("rev_tt") * F.col("n")).cast("long"))
        .withColumn("__negr", -F.col("rev_tt"))
        .transform(materialize)  # band grain; prefix_sum + total share it
    )
    cum = prefix_sum(h, "__negr", "band_rev", out_col="rev_above")
    tot = h.agg(F.sum("band_rev").cast("long").alias("t"))
    classed = cum.crossJoin(F.broadcast(tot)).select(
        "n",
        "band_rev",
        "t",
        F.when(5 * F.col("rev_above") < 4 * F.col("t"), "A")
        .when(20 * F.col("rev_above") < 19 * F.col("t"), "B")
        .otherwise("C")
        .alias("cls"),
    )
    return (
        classed.groupBy("cls")
        .agg(
            F.sum("n").cast("long").alias("n_parts"),
            F.sum("band_rev").cast("long").alias("rev_tt_sum"),
            (
                F.floor(
                    F.sum("band_rev").cast("double")
                    * 1e6
                    / F.first("t").cast("double")
                    + F.lit(0.5)
                ).cast("long")
                / F.lit(1e6)
            ).alias("rev_share"),
        )
        .orderBy("cls")
    )


@register(
    "graph_modularity",
    "WITH e AS ("
    + _COPURCHASE_EDGES_SQL
    + """),
    sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
    lp0 AS (SELECT DISTINCT u AS node, u AS lab FROM sym),"""
    + ",".join(_LPA_ROUND_SQL.format(i=i, p=i - 1) for i in range(1, 4))
    + """,
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
    intra AS (
      SELECT ca.lab AS label, CAST(count(*) AS BIGINT) AS intra_edges
      FROM e
      JOIN lp3 ca ON ca.node = e.src
      JOIN lp3 cb ON cb.node = e.dst
      WHERE ca.lab = cb.lab
      GROUP BY ca.lab
    ), deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u
    ), dsum AS (
      SELECT c.lab AS label, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(COALESCE(d.deg, 0)) AS BIGINT) AS degree_sum
      FROM lp3 c LEFT JOIN deg d ON d.node = c.node
      GROUP BY c.lab
    ), per AS (
      SELECT dsum.label, n_nodes,
             CAST(COALESCE(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
             degree_sum,
             CAST(4 * m.m * COALESCE(intra.intra_edges, 0)
                  - degree_sum * degree_sum AS BIGINT) AS q_num,
             m.m AS m
      FROM dsum LEFT JOIN intra ON intra.label = dsum.label
      CROSS JOIN m
    ), tot AS (
      SELECT CAST(sum(q_num) AS BIGINT) AS qn, any_value(m) AS mm FROM per
    )
    SELECT label, n_nodes, intra_edges, degree_sum, q_num,
           CAST(floor(CAST(qn AS DOUBLE) * 1e6
                / CAST(4 * mm * mm AS DOUBLE) + 0.5) AS BIGINT) / 1e6
             AS modularity
    FROM per CROSS JOIN tot
    ORDER BY label
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 3-round label-propagation communities
    over the part co-purchase graph (operators/graph.modularity): the
    quality audit that says whether LPA found real structure. The
    Q·4m² = Σ_c(4m·L_c − D_c²) identity keeps every community term an
    exact BIGINT; one half-up floor on the global sum. Two keyed joins
    of the edge list against the broadcast community map + label-grain
    aggregates — no pair enumeration beyond the edges. The oracle
    unrolls LPA's 3 rounds and the modularity algebra verbatim."""
    from ytsaurus_spark.operators.graph import label_propagation, modularity

    edges = _copurchase_edges(spark, sf_dir)
    comm = label_propagation(edges, iterations=3)
    return modularity(edges, comm)


@register(
    "analytics_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), t AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), outs AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS out_n FROM t GROUP BY 1
    )
    SELECT t.from_type, t.to_type, n, out_n,
           CAST(floor(CAST(n AS DOUBLE) * 1e6 / CAST(out_n AS DOUBLE)
                + 0.5) AS BIGINT) / 1e6 AS p
    FROM t JOIN outs ON outs.from_type = t.from_type
    ORDER BY t.from_type, t.to_type
    """,
)
def analytics_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams
    — the behavioral-flow / Sankey primitive: count and probability of
    each (from_type → to_type) step. The lead window partitions by
    user (per-user streams are bounded; never a global sort); pair
    counts partial-agg to the ≤|types|² matrix, whose row-sum join is
    broadcast-sized. Counts exact; probability takes one half-up
    floor. Ordering ties inside a user's stream break on event_id in
    both engines."""
    from pyspark.sql import Window as W

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    t = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    outs = t.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("out_n")
    )
    return (
        t.join(F.broadcast(outs), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            "out_n",
            (
                F.floor(
                    F.col("n").cast("double") * 1e6
                    / F.col("out_n").cast("double")
                    + F.lit(0.5)
                ).cast("long")
                / F.lit(1e6)
            ).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


@register(
    "analytics_activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
      FROM events
    ), isl AS (
      SELECT user_id, d,
             d - row_number() OVER (PARTITION BY user_id ORDER BY d)
               AS grp
      FROM days
    ), streaks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS len,
             CAST(min(d) AS BIGINT) AS start_d
      FROM isl GROUP BY user_id, grp
    ), per_user AS (
      SELECT user_id,
             CAST(max(len) AS BIGINT) AS longest,
             CAST(count(*) AS BIGINT) AS n_streaks,
             CAST(sum(len) AS BIGINT) AS active_days
      FROM streaks GROUP BY user_id
    )
    SELECT longest,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_streaks) AS BIGINT) AS streaks_sum,
           CAST(sum(active_days) AS BIGINT) AS active_days_sum
    FROM per_user
    GROUP BY longest
    ORDER BY longest
    """,
)
def analytics_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks (islands & gaps): per user the
    classic ``d − row_number()`` island key groups runs of consecutive
    active days; the output is the longest-streak distribution. Both
    windows and both aggregates partition on user_id (bounded per-user
    day sets — never a global sort); the final distribution is
    ≤|days|-row. All counts exact BIGINTs, no floats anywhere."""
    from pyspark.sql import Window as W

    cat = load_tables(spark, sf_dir)
    days = (
        cat.read("events")
        .select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("d"),
        )
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("grp", F.col("d") - F.row_number().over(w))
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("d").cast("long").alias("start_d"),
    )
    per_user = streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
    )
    return (
        per_user.groupBy("longest")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_streaks").cast("long").alias("streaks_sum"),
            F.sum("active_days").cast("long").alias("active_days_sum"),
        )
        .orderBy("longest")
    )


@register(
    "analytics_gini_revenue",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), h AS (
      SELECT cents, CAST(count(*) AS BIGINT) AS c FROM spend GROUP BY cents
    ), r AS (
      SELECT cents, c,
             CAST(2 * COALESCE(SUM(c) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS BIGINT) AS r2
      FROM h
    ), mo AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(cents * c) AS BIGINT) AS sx,
             CAST(sum(r2 * cents * c) AS BIGINT) AS srx
      FROM r
    )
    SELECT n, sx AS total_cents,
           CAST(floor(CAST(srx - (n + 1) * sx AS DOUBLE) * 1e6
                / CAST(n * sx AS DOUBLE) + 0.5) AS BIGINT) / 1e6 AS gini
    FROM mo
    """,
)
def analytics_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the inequality audit
    next to the ABC/decile reports — WITHOUT a global sort: average
    ranks come from the cents-grain histogram + hierarchical prefix sum
    in the doubled-rank identity R2(v) = 2·below + c + 1, and
    G = (Σ R2·x − (n+1)·Σx)/(n·Σx) is exact BIGINT until the single
    half-up floor. One customer-grain shuffle + one value-grain
    histogram."""
    from ytsaurus_spark.operators.curation import prefix_sum

    cat = load_tables(spark, sf_dir)
    spend = (
        cat.read("orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    h = spend.groupBy("cents").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    r = prefix_sum(h, "cents", "__c", out_col="__below").select(
        "cents",
        "__c",
        (2 * F.col("__below") + F.col("__c") + 1).cast("long").alias("r2"),
    )
    mo = r.agg(
        F.sum("__c").cast("long").alias("n"),
        F.sum(F.col("cents") * F.col("__c")).cast("long").alias("sx"),
        F.sum(F.col("r2") * F.col("cents") * F.col("__c"))
        .cast("long")
        .alias("srx"),
    )
    return mo.select(
        "n",
        F.col("sx").alias("total_cents"),
        (
            F.floor(
                (F.col("srx") - (F.col("n") + 1) * F.col("sx"))
                .cast("double")
                * 1e6
                / (F.col("n") * F.col("sx")).cast("double")
                + F.lit(0.5)
            ).cast("long")
            / F.lit(1e6)
        ).alias("gini"),
    )


@register(
    "graph_assortativity",
    "WITH e AS ("
    + _COPURCHASE_EDGES_SQL
    + """),
    sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
            FROM sym GROUP BY u),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n2,
             CAST(sum(du.deg) AS BIGINT) AS sx,
             CAST(sum(du.deg * du.deg) AS BIGINT) AS sxx,
             CAST(sum(du.deg * dv.deg) AS BIGINT) AS sxy
      FROM sym
      JOIN deg du ON du.node = sym.u
      JOIN deg dv ON dv.node = sym.v
    )
    SELECT CAST(n2 / 2 AS BIGINT) AS n_edges,
           CAST(floor((CAST(n2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                / (CAST(n2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * 1e6 + 0.5) AS BIGINT) / 1e6 AS r
    FROM mo
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph
    (operators/graph.assortativity): Pearson correlation of endpoint
    degrees over all 2m stubs — hubs-to-hubs vs hubs-to-leaves, the
    structural fingerprint next to modularity. Moment sums are exact
    BIGINTs (symmetry gives Σy = Σx); one fixed double op chain, one
    half-up floor. Two keyed joins of the stub list against the degree
    frame + one aggregate."""
    from ytsaurus_spark.operators.graph import assortativity

    edges = _copurchase_edges(spark, sf_dir)
    return assortativity(edges)


@register(
    "graph_clustering_coeff",
    "WITH e AS ("
    + _COPURCHASE_EDGES_SQL
    + """),
    tri AS (
      SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
      FROM e e1 JOIN e e2 ON e2.src = e1.dst
                JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tri),
    sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
    wg AS (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS w FROM deg)
    SELECT t AS n_triangles, w AS n_wedges,
           CASE WHEN w = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(t AS DOUBLE) * 3e6 / CAST(w AS DOUBLE)
                     + 0.5) AS BIGINT)
           END / 1e6 AS coeff
    FROM nt CROSS JOIN wg
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the co-purchase
    graph (operators/graph.clustering_coefficient): 3·triangles/wedges.
    Triangles reuse the degree-oriented O(m^1.5) wedge join; the wedge
    denominator is one degree aggregate. The oracle counts the same
    id-canonical triangles and Σ deg·(deg−1)/2."""
    from ytsaurus_spark.operators.graph import clustering_coefficient

    edges = _copurchase_edges(spark, sf_dir)
    return clustering_coefficient(edges)


@register(
    "analytics_seasonality_matrix",
    """
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hod,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def analytics_seasonality_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity matrix — the seasonality
    heatmap behind capacity planning and anomaly baselines. One scan,
    one partial-agged shuffle to the ≤168-cell matrix; values in exact
    cents (per-element BIGINT casts). Spark's dayofweek (1 = Sunday)
    matches DuckDB's dayofweek+1, aligned explicitly in the oracle."""
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("events")
        .groupBy(
            F.dayofweek("ts").cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
        .orderBy("dow", "hod")
    )


@register(
    "analytics_price_volume_waterfall",
    """
    WITH yr AS (
      SELECT p_brand AS brand,
             CAST(year(o_orderdate) AS INT) AS y,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT)) AS BIGINT) AS rev_tt
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN part ON p_partkey = l_partkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    ), piv AS (
      SELECT brand,
             CAST(sum(CASE WHEN y = 1996 THEN qty END) AS BIGINT) AS qty1,
             CAST(sum(CASE WHEN y = 1997 THEN qty END) AS BIGINT) AS qty2,
             CAST(sum(CASE WHEN y = 1996 THEN rev_tt END) AS BIGINT)
               AS rev1_tt,
             CAST(sum(CASE WHEN y = 1997 THEN rev_tt END) AS BIGINT)
               AS rev2_tt
      FROM yr GROUP BY brand
      HAVING qty1 IS NOT NULL AND qty2 IS NOT NULL
    )
    SELECT brand, qty1, qty2, rev1_tt, rev2_tt,
           CAST(rev2_tt - rev1_tt AS BIGINT) AS delta_tt,
           CAST(floor((CAST(rev2_tt AS DOUBLE) / CAST(qty2 AS DOUBLE)
                       - CAST(rev1_tt AS DOUBLE) / CAST(qty1 AS DOUBLE))
                * CAST(qty2 AS DOUBLE) + 0.5) AS BIGINT) AS price_eff_tt,
           CAST(floor(CAST(qty2 - qty1 AS DOUBLE)
                * (CAST(rev1_tt AS DOUBLE) / CAST(qty1 AS DOUBLE)) + 0.5)
                AS BIGINT) AS volume_eff_tt
    FROM piv
    ORDER BY brand
    """,
)
def analytics_price_volume_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue-change decomposition per brand (1996→1997):
    the price/volume waterfall — price effect (unit-revenue change at
    new volume) + volume effect (volume change at old unit revenue) —
    the classic variance-analysis report. Revenue carries as exact
    ten-thousandths; delta is exact; the two effects are single fixed
    double op chains with one half-up floor each (the unit-revenue
    division is the only non-integer step, identical on both engines).
    One fact shuffle to (brand, year), dims broadcast."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    o = cat.read("orders")
    p = cat.read("part")
    yr = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("o_orderdate").cast("int").alias("y"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("long")
            )
            .cast("long")
            .alias("rev_tt"),
        )
    )
    piv = (
        yr.groupBy("brand")
        .agg(
            F.sum(F.when(F.col("y") == 1996, F.col("qty"))).cast("long").alias("qty1"),
            F.sum(F.when(F.col("y") == 1997, F.col("qty"))).cast("long").alias("qty2"),
            F.sum(F.when(F.col("y") == 1996, F.col("rev_tt"))).cast("long").alias("rev1_tt"),
            F.sum(F.when(F.col("y") == 1997, F.col("rev_tt"))).cast("long").alias("rev2_tt"),
        )
        .filter(F.col("qty1").isNotNull() & F.col("qty2").isNotNull())
    )
    r1 = F.col("rev1_tt").cast("double") / F.col("qty1").cast("double")
    r2 = F.col("rev2_tt").cast("double") / F.col("qty2").cast("double")
    return piv.select(
        "brand",
        "qty1",
        "qty2",
        "rev1_tt",
        "rev2_tt",
        (F.col("rev2_tt") - F.col("rev1_tt")).cast("long").alias("delta_tt"),
        F.floor((r2 - r1) * F.col("qty2").cast("double") + F.lit(0.5))
        .cast("long")
        .alias("price_eff_tt"),
        F.floor(
            (F.col("qty2") - F.col("qty1")).cast("double") * r1 + F.lit(0.5)
        )
        .cast("long")
        .alias("volume_eff_tt"),
    ).orderBy("brand")
