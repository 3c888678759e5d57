"""QL SELECT surface (SURVEY §2.1) — scan/filter/project/group/having/
order/offset/limit/join/array-join/expressions, each as a registered query
with a DuckDB oracle.

Reference grammar: yt/yt/library/query/base/parser.ypp:244-268; operator
implementations cited per query. All Spark plans are pure DataFrame/SQL —
Catalyst provides the distributed partial/final split that the reference
hand-builds in coordinator.cpp:24-54.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import load_tables
from ytsaurus_spark.operators import materialize
from ytsaurus_spark.queries import local_result, register


# --- scan + filter + project (ScanOpHelper cg_routines.cpp:217,
#     MakeCodegenFilterOp/ProjectOp) ---------------------------------------

@register(
    "ql_scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_quantity > 45
      AND l_returnflag = 'R'
    """,
)
def ql_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 45)
            & (F.col("l_returnflag") == "R")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "net_price"
            ),
        )
    )


# --- hash GROUP BY partial+final (TGroupByClosure cg_routines.cpp:1043) ----
# Flagship: TPC-H Q1 shape — the first target query from SURVEY §7.

@register(
    "ql_group_agg",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS BIGINT) / 100.0, 2) AS sum_base_price,
           round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                 * 10000, 0) AS BIGINT)) AS BIGINT) / 10000.0, 4)
             AS sum_disc_price,
           round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                 * (1 + l_tax) * 1000000, 0) AS BIGINT)) AS BIGINT)
                 / 1000000.0, 6) AS sum_charge,
           CAST(floor(CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT))
                 AS BIGINT) * 100.0 / count(*) + 0.5) AS BIGINT) / 10000.0
             AS avg_qty,
           CAST(floor(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                 AS BIGINT) * 100.0 / count(*) + 0.5) AS BIGINT) / 10000.0
             AS avg_price,
           CAST(floor(CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT))
                 AS BIGINT) * 100.0 / count(*) + 0.5) AS BIGINT) / 10000.0
             AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def ql_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 with MONEY AS EXACT FIXED-POINT: price carries 2 decimals,
    disc_price 4, charge 6, so the scaled per-row values are integer-exact
    and the sums are the same BIGINT on every engine at every scale
    factor. The plain double-sum form flaked at sf0.1: sum_charge ~2.8e9
    at 6 decimals needs 16 significant digits — past double precision, so
    summation order moved the rounded value. Scaled sums cost nothing:
    the cast/round runs in the scan stage, the partial-agg combine is
    integer addition."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    base_u = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    qty_u = F.round(F.col("l_quantity") * 100, 0).cast("long")
    disc_c = F.round(F.col("l_discount") * 100, 0).cast("long")
    disc_u = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    charge_u = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 1000000,
        0,
    ).cast("long")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(base_u) / 100.0, 2).alias("sum_base_price"),
            F.round(F.sum(disc_u) / 10000.0, 4).alias("sum_disc_price"),
            F.round(F.sum(charge_u) / 1000000.0, 6).alias("sum_charge"),
            # avgs as exact-integer ratios + half-up floor: round(avg, 4)
            # is a cross-engine tie when sum/n terminates at an x.xxxx5
            (
                F.floor(F.sum(qty_u).cast("long") * 100.0 / n + 0.5).cast("long")
                / 10000.0
            ).alias("avg_qty"),
            (
                F.floor(F.sum(base_u).cast("long") * 100.0 / n + 0.5).cast("long")
                / 10000.0
            ).alias("avg_price"),
            (
                F.floor(F.sum(disc_c).cast("long") * 100.0 / n + 0.5).cast("long")
                / 10000.0
            ).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# --- HAVING (TBaseQuery::HavingClause query.h:430) -------------------------

@register(
    "ql_group_having",
    """
    SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 12000
    """,
)
def ql_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter(F.col("_raw_qty") > 12000)
        .drop("_raw_qty")
    )


# --- ORDER BY + LIMIT = top-k (TTopCollector, OrderOpHelper
#     cg_routines.cpp:1762; QL requires LIMIT with ORDER BY) ---------------

@register(
    "ql_order_limit",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def ql_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    # orderBy().limit() compiles to TakeOrderedAndProject — the same
    # bounded-heap top-k the reference's TTopCollector implements.
    return (
        cat.read("orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


# --- OFFSET/LIMIT (coordinator.cpp:35-48, parser.ypp:488-503) --------------

@register(
    "ql_offset_limit",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_orderkey
    LIMIT 20 OFFSET 100
    """,
)
def ql_offset_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(100)
        .limit(20)
    )


# --- JOIN (equi, INNER/LEFT) — MultiJoinOpHelper cg_routines.cpp:491-866.
# The reference's batched index join ≈ broadcast/DPP in Spark; small dims
# are explicitly broadcast so the 100 TB plan has no dim-side shuffle. ------

@register(
    "ql_join_inner",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def ql_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    cust, nation, region = cat.read("customer"), cat.read("nation"), cat.read("region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "ql_join_left",
    """
    SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def ql_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    cust, orders = cat.read("customer"), cat.read("orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# --- LEFT SEMI / LEFT ONLY(anti) — YQL join kinds
#     (yql_yt_join_impl.cpp; SURVEY §2.3) ----------------------------------

@register(
    "ql_join_semi",
    """
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
)
def ql_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    cust = cat.read("customer")
    big = cat.read("orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_acctbal")


@register(
    "ql_join_anti",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def ql_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    cust, orders = cat.read("customer"), cat.read("orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


# --- FULL OUTER + residual ON predicate ------------------------------------

@register(
    "ql_join_full",
    """
    SELECT s_suppkey, n_nationkey
    FROM supplier
    FULL JOIN nation ON s_nationkey = n_nationkey AND n_regionkey < 3
    """,
)
def ql_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    sup, nation = cat.read("supplier"), cat.read("nation")
    return sup.join(
        nation,
        (sup.s_nationkey == nation.n_nationkey) & (nation.n_regionkey < 3),
        "full",
    ).select("s_suppkey", "n_nationkey")


# --- ARRAY JOIN / LEFT ARRAY JOIN (TArrayJoin ast.h:485-502,
#     ArrayJoinOpHelper cg_routines.cpp:870-1040) → explode ----------------

@register(
    "ql_array_join",
    """
    SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY doc_id, word
    HAVING count(*) >= 3
    """,
)
def ql_array_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
    )


# --- expression coverage: IN / BETWEEN / CASE / LIKE
#     (TInExpression ast.h:301, TBetweenExpression ast.h:319,
#      TCaseExpression ast.h:361, TLikeExpression ast.h:382) ---------------

@register(
    "ql_expr_in_between_case_like",
    """
    SELECT p_partkey,
           CASE WHEN p_size BETWEEN 1 AND 15 THEN 'small'
                WHEN p_size BETWEEN 16 AND 35 THEN 'medium'
                ELSE 'large' END AS size_class,
           (p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')) AS top_brand,
           (p_name LIKE '%blue%') AS is_blue
    FROM part
    WHERE p_type NOT LIKE 'PROMO%'
    """,
)
def ql_expr_in_between_case_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    part = cat.read("part")
    return part.filter(~F.col("p_type").like("PROMO%")).select(
        "p_partkey",
        F.when(F.col("p_size").between(1, 15), "small")
        .when(F.col("p_size").between(16, 35), "medium")
        .otherwise("large")
        .alias("size_class"),
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3").alias("top_brand"),
        F.col("p_name").like("%blue%").alias("is_blue"),
    )


# --- TRANSFORM literal remap (TTransformExpression ast.h:337-359) ----------

@register(
    "ql_expr_transform",
    """
    SELECT o_orderkey,
           CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
                WHEN 'P' THEN 'pending' ELSE 'unknown' END AS status_name
    FROM orders
    """,
)
def ql_expr_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytsaurus_spark.functions.ql import transform_values

    cat = load_tables(spark, sf_dir)
    return cat.read("orders").select(
        "o_orderkey",
        transform_values(
            F.col("o_orderstatus"), ["O", "F", "P"], ["open", "finished", "pending"],
            default="unknown",
        ).alias("status_name"),
    )


# --- composite / Any access (TCompositeTypeMemberAccessor ast.h:98-108;
#     ypath_get udf → JSON path over the 'Any' props column) ---------------

@register(
    "ql_any_access",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
    """,
)
def ql_any_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytsaurus_spark.functions.ql import try_get_int64

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    k = try_get_int64(F.col("props"), "/k")
    return ev.select("event_id", k.alias("k_val")).filter(F.col("k_val") > 90)


# --- WITH TOTALS (ETotalsMode query_common.h:78-82) → rollup grand total ---

@register(
    "ql_with_totals",
    """
    SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag)
    """,
)
def ql_with_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    # QL's WITH TOTALS emits one extra all-NULL-keys row with aggregates over
    # the whole input (GroupTotalsOpHelper cg_routines.cpp:1736); rollup on a
    # single key produces exactly that row alongside the groups.
    return (
        cat.read("lineitem")
        .rollup("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --- DISTINCT ---------------------------------------------------------------

@register(
    "ql_distinct",
    "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
)
def ql_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return cat.read("customer").select("c_nationkey", "c_mktsegment").distinct()


# --- subquery in FROM (query_preparer.cpp:995) -----------------------------

@register(
    "ql_subquery",
    """
    SELECT c_mktsegment,
           CAST(floor(CAST(sum(spent_c) AS DOUBLE) * 1e2 / count(*) + 0.5)
                AS BIGINT) / 1e4 AS avg_spent
    FROM (
      SELECT c_custkey, c_mktsegment,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spent_c
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_mktsegment
    ) t
    GROUP BY c_mktsegment
    """,
)
def ql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(floor(CAST(sum(spent_c) AS DOUBLE) * 1e2 / count(*) + 0.5)
                    AS BIGINT) / 1e4 AS avg_spent
        FROM (
          SELECT c_custkey, c_mktsegment,
                 sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spent_c
          FROM customer JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey, c_mktsegment
        ) t
        GROUP BY c_mktsegment
        """
    )


# --- set operations (SURVEY §2.3) ------------------------------------------

@register(
    "ql_set_ops",
    """
    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 250000
    INTERSECT
    SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
    """,
)
def ql_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    a = (
        cat.read("orders")
        .filter(F.col("o_totalprice") > 250000)
        .select(F.col("o_custkey").alias("k"))
    )
    b = (
        cat.read("customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("k"))
    )
    return a.intersect(b)


@register(
    "ql_union_except",
    """
    SELECT c_custkey AS k FROM customer
    EXCEPT
    SELECT o_custkey AS k FROM orders
    """,
)
def ql_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    a = cat.read("customer").select(F.col("c_custkey").alias("k"))
    b = cat.read("orders").select(F.col("o_custkey").alias("k"))
    return a.subtract(b)  # EXCEPT (distinct) semantics, matching the SQL


# --- GROUP BY pushed below join (push_down_group_by.cpp:64-90, hint
#     push_down_group_by ast.h:410): pre-aggregate the fact side before the
#     join so the join moves group rows, not raw rows -----------------------

@register(
    "ql_join_pushdown_groupby",
    """
    SELECT o_orderpriority,
           round(sum(qty), 2) AS total_qty,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS qty
      FROM lineitem GROUP BY l_orderkey
    ) li JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def ql_join_pushdown_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    # the pushed-down aggregate: lineitem collapses to one row per orderkey
    # BEFORE the join — at 100 TB this cuts the join's shuffle volume by the
    # average lines-per-order factor (the exact win the reference's hint buys)
    pre = (
        cat.read("lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    orders = cat.read("orders").select("o_orderkey", "o_orderpriority")
    return (
        pre.join(orders, pre.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("qty"), 2).alias("total_qty"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# --- ORDER BY expression keys + NULLS FIRST/LAST ---------------------------

@register(
    "ql_order_nulls",
    """
    SELECT c_custkey, spend
    FROM (
      SELECT c_custkey, round(sum(o_totalprice), 2) AS spend
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) t
    ORDER BY spend DESC NULLS LAST, c_custkey
    LIMIT 40
    """,
)
def ql_order_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    cust, orders = cat.read("customer"), cat.read("orders")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    return (
        spend.orderBy(F.col("spend").desc_nulls_last(), "c_custkey")
        .limit(40)
    )


# --- tuple-capable IN / BETWEEN (TInExpression ast.h:301,
#     TBetweenExpression ast.h:319: literal tuple lists + lexicographic
#     tuple ranges) --------------------------------------------------------

@register(
    "ql_tuple_in_between",
    """
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    WHERE (l_orderkey, l_linenumber) IN ((1, 1), (1, 2), (5, 1), (9999999, 1))
       OR ((l_returnflag, l_linestatus) >= ('R', 'F')
           AND (l_returnflag, l_linestatus) <= ('R', 'F')
           AND l_orderkey < 20)
    """,
)
def ql_tuple_in_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    # struct comparison is Spark's tuple ordering; same lexicographic
    # semantics as QL's tuple BETWEEN
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber
        FROM lineitem
        WHERE struct(l_orderkey, l_linenumber) IN
              (struct(1L, 1), struct(1L, 2), struct(5L, 1), struct(9999999L, 1))
           OR (struct(l_returnflag, l_linestatus) >= struct('R', 'F')
               AND struct(l_returnflag, l_linestatus) <= struct('R', 'F')
               AND l_orderkey < 20)
        """
    )


# --- global HAVING (aggregate filter without GROUP BY) ---------------------

@register(
    "ql_having_global",
    """
    SELECT CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    HAVING count(*) > 0
    """,
)
def ql_having_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    agg = cat.read("orders").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    return agg.filter(F.col("n") > 0)


# --- positional ARRAY JOIN (explode with index; ArrayJoinOpHelper keeps
#     row alignment across joined lists) ------------------------------------

@register(
    "ql_array_join_pos",
    """
    SELECT doc_id, CAST(idx - 1 AS INT) AS pos, word
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS idx
      FROM documents WHERE doc_id < 20
    )
    WHERE idx <= 5
    """,
)
def ql_array_join_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("documents")
        .filter(F.col("doc_id") < 20)
        .select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
        )
        .filter(F.col("pos") < 5)
    )


# --- CROSS JOIN (YQL join kind list, SURVEY §2.3) --------------------------

@register(
    "ql_cross_join",
    """
    SELECT r_name, n.label, CAST(count(*) AS BIGINT) AS n
    FROM region
    CROSS JOIN (SELECT unnest(['lo', 'hi']) AS label) n
    GROUP BY r_name, n.label
    """,
)
def ql_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    labels = local_result(spark, [("lo",), ("hi",)], "label string")
    return (
        cat.read("region")
        .crossJoin(labels)
        .groupBy("r_name", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- INTERSECT ALL / EXCEPT ALL (bag semantics set ops) --------------------

@register(
    "ql_set_ops_all",
    """
    SELECT k FROM (
      SELECT c_nationkey AS k FROM customer
      INTERSECT ALL
      SELECT n_nationkey AS k FROM nation
    ) t
    UNION ALL
    SELECT k FROM (
      SELECT s_nationkey AS k FROM supplier
      EXCEPT ALL
      SELECT n_regionkey AS k FROM nation
    ) t2
    """,
)
def ql_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    a = cat.read("customer").select(F.col("c_nationkey").alias("k"))
    b = cat.read("nation").select(F.col("n_nationkey").alias("k"))
    c = cat.read("supplier").select(F.col("s_nationkey").alias("k"))
    d = cat.read("nation").select(F.col("n_regionkey").alias("k"))
    return a.intersectAll(b).unionByName(c.exceptAll(d))


_RECURSIVE_SQL = """
    WITH RECURSIVE nxt AS (
      SELECT o_orderkey AS k, o_custkey AS c,
             lead(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey)
               AS next_k
      FROM orders
    ), firsts AS (
      SELECT k, c FROM (
        SELECT k, c,
               row_number() OVER (PARTITION BY c
                                  ORDER BY k) AS rn
        FROM nxt
        WHERE k NOT IN (SELECT next_k FROM nxt WHERE next_k IS NOT NULL)
      ) WHERE rn = 1
    ), chain(k, c, depth) AS (
      SELECT k, c, 1 FROM firsts
      UNION ALL
      SELECT nxt.next_k, chain.c, chain.depth + 1
      FROM chain JOIN nxt ON nxt.k = chain.k AND nxt.c = chain.c
      WHERE nxt.next_k IS NOT NULL
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT c) AS BIGINT) AS n_customers
    FROM chain
    GROUP BY depth
    ORDER BY depth
    """


@register("ql_recursive_cte", _RECURSIVE_SQL)
def ql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4's SQL:1999 recursion —
    YQL's recursive-select parity): walk each customer's order chain
    from the first order via lead() successor edges, counting orders
    and customers at every depth. The recursion is a per-customer
    linear DAG (lead edges, no cycles), so UNION ALL iteration
    terminates at max-orders-per-customer; the oracle runs the full
    recursive text verbatim. Depth-grain output is bounded by the
    deepest customer.

    Spark inlines CTEs, so leaving ``nxt`` inside the WITH made every
    recursion step re-derive the successor-edge window over orders —
    depth × full window passes (measured 6-9 s at sf0.01 for ~30
    steps). The loop-invariant edge frame materializes once (lazy
    persist) and the identical WITH RECURSIVE chain walks it; values
    unchanged."""
    load_tables(spark, sf_dir)
    nxt = spark.sql(
        """
        SELECT o_orderkey AS k, o_custkey AS c,
               lead(o_orderkey) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey)
                 AS next_k
        FROM orders
        """
    ).transform(materialize)
    nxt.createOrReplaceTempView("__ql_rec_nxt")
    return spark.sql(
        """
        WITH RECURSIVE firsts AS (
          SELECT k, c FROM (
            SELECT k, c,
                   row_number() OVER (PARTITION BY c
                                      ORDER BY k) AS rn
            FROM __ql_rec_nxt
            WHERE k NOT IN (SELECT next_k FROM __ql_rec_nxt
                            WHERE next_k IS NOT NULL)
          ) WHERE rn = 1
        ), chain(k, c, depth) AS (
          SELECT k, c, 1 FROM firsts
          UNION ALL
          SELECT nxt.next_k, chain.c, chain.depth + 1
          FROM chain JOIN __ql_rec_nxt nxt
            ON nxt.k = chain.k AND nxt.c = chain.c
          WHERE nxt.next_k IS NOT NULL
        )
        SELECT depth, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT c) AS BIGINT) AS n_customers
        FROM chain
        GROUP BY depth
        ORDER BY depth
        """
    )


_LATERAL_SQL = """
    SELECT c_custkey, c_mktsegment, l.top_key, l.top_cents, l.n_big
    FROM customer,
    LATERAL (
      SELECT min(o_orderkey) AS top_key,
             CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS top_cents,
             CAST(count(*) AS BIGINT) AS n_big
      FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 200000
    ) l
    WHERE l.n_big >= 3
    """


@register("ql_lateral_join", _LATERAL_SQL)
def ql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (Spark 4's SQL-standard lateral
    join — YQL's correlated-subselect parity): per customer, an
    aggregate over THAT customer's big orders, filtered on the lateral
    result. Catalyst decorrelates this into a keyed aggregate + join —
    no per-row re-execution; the COUNT over possibly-empty groups makes
    the rewrite read the outer side twice (the standard count-bug
    handling), which the scan-budget gate pins honestly at 2. Both
    engines run the identical lateral text."""
    load_tables(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)
