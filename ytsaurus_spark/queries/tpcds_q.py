"""TPC-DS-distinctive query shapes over the TPC-H-shaped fixtures.

The reference's benchmark-as-test surface is all 99 TPC-DS queries
(``yt/benchmarks/run/queries/01.sql..99.sql``, titled in ``common.py:37-42``).
The fixture here is TPC-H-shaped, so each query derives the TPC-DS star
schema from it — the DERIVATION is the contract, documented per query:

- **channel** (store_sales / catalog_sales / web_sales): the fixture has a
  single fact table, so ``l_linenumber % 3`` partitions lineitem into three
  deterministic sales channels (0=store, 1=catalog, 2=web);
- **returns** tables: lines with ``l_returnflag = 'R'``;
- **item** dims: brand = ``p_brand``, class = ``p_type``,
  category = ``substring(p_brand, 7, 1)`` (the first brand digit, 5 values),
  manufact = ``p_size % 10``;
- **date_dim**: ``year()`` / ``month()`` of the fact date column.

What each query proves (the structurally-new plan shapes on top of the
TPC-H q1–q22 suite in analytics_q.py):

- q5/q77  — multi-channel ROLLUP reports (returns LEFT JOINed per channel);
- q14     — shared-CTE INTERSECT across channels + scalar avg subquery;
- q23     — multi-step CTE chain (frequent items ∩ best customers);
- q33/q56 — three per-channel aggregates UNION ALLed then re-aggregated;
- q47/q57 — windowed year-over-year deviation ranking (avg-over-partition
            + rank + lag/lead on a monthly aggregate);
- q1      — correlated per-group avg subquery as aggregate + broadcast-back;
- q6      — correlated dim avg gating the fact scan (category price filter);
- q9      — 15 scalar subqueries fused into one conditional-aggregate pass;
- q41     — dim-only EXISTS self-join with a disjunctive band predicate;
- q44     — asc/desc rankings of one aggregate self-joined on rank position;
- q48     — three-arm dim×fact band disjunction over a join;
- q50     — sale-to-return latency banded into a count matrix;
- q66     — 12-month pivot over a UNION ALL of two channels with different
            amount expressions;
- q70     — rank-within-parent over ROLLUP grouping-set output;
- q76     — per-channel IS NULL key scans UNION ALLed (manufactured nulls);
- q87     — left-deep EXCEPT chain of (customer, day) sets;
- q93     — per-line return-quantity adjustment folded into one aggregate;
- q95     — HAVING-count-distinct and distinct-set gates on a fact sum;
- q97     — FULL OUTER join collapsed to a channel-overlap matrix;
- q8      — literal-VALUES set INTERSECT an aggregated subquery as a gate;
- q21/q40 — before/after event-date split as conditional sums (one scan);
- q32     — correlated per-item avg in WHERE, decorrelated to a join;
- q38     — INTERSECT-of-distinct-customer-sets counterpart to q87;
- q45     — (dim predicate OR subquery membership) via a broadcast flag join;
- q46     — aggregate to order grain, rejoin the dim, attribute mismatch;
- q58     — three-channel near-equal revenue bands over one shared rollup;
- q65     — aggregate self-joined to its own re-aggregate (store avg);
- q98     — ratio-to-report window partitioned on the class key.

All are pure DataFrame plans: Catalyst handles CTE dedup, the INTERSECT
becomes a shuffled distinct-join, per-channel branches share one scan via
exchange reuse, and the YoY windows partition on (dim, dim) — never global.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import load_tables
from ytsaurus_spark.operators import materialize
from ytsaurus_spark.queries import register

# channel derivation shared by every query (see module docstring)
_CHANNEL_SQL = (
    "CASE l_linenumber % 3 WHEN 0 THEN 'store' "
    "WHEN 1 THEN 'catalog' ELSE 'web' END"
)


def _channel_col():
    return (
        F.when(F.col("l_linenumber") % 3 == 0, "store")
        .when(F.col("l_linenumber") % 3 == 1, "catalog")
        .otherwise("web")
    )


def _amt():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --- TPC-DS q5 shape: per-channel sales/returns ROLLUP report --------------


@register(
    "tpcds_q5_channel_rollup",
    f"""
    WITH ch AS (
      SELECT {_CHANNEL_SQL} AS channel, p_brand AS id,
             CASE WHEN l_returnflag = 'R' THEN 0 ELSE l_extendedprice END AS s,
             CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END AS r
      FROM lineitem JOIN part ON l_partkey = p_partkey
    )
    SELECT channel, id, round(sum(s), 4) AS sales,
           round(sum(r), 4) AS returned,
           CAST(count(*) AS BIGINT) AS n
    FROM ch GROUP BY ROLLUP(channel, id)
    """,
)
def tpcds_q5_channel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 05 (yt/benchmarks/run/queries/05.sql): sales vs returns per
    channel with ROLLUP subtotals. Returns fold in as a CASE split of the
    same scan (one fact pass), the part dim broadcasts, and ROLLUP is one
    expand+aggregate — no per-grouping rescans."""
    cat = load_tables(spark, sf_dir)
    li, part = cat.read("lineitem"), cat.read("part")
    ch = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        _channel_col().alias("channel"),
        F.col("p_brand").alias("id"),
        F.when(F.col("l_returnflag") == "R", F.lit(0.0))
        .otherwise(F.col("l_extendedprice"))
        .alias("s"),
        F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice"))
        .otherwise(F.lit(0.0))
        .alias("r"),
    )
    return ch.rollup("channel", "id").agg(
        F.round(F.sum("s"), 4).alias("sales"),
        F.round(F.sum("r"), 4).alias("returned"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


# --- TPC-DS q14 shape: shared-CTE INTERSECT across channels ----------------


@register(
    "tpcds_q14_cross_channel",
    f"""
    WITH sales AS (
      SELECT {_CHANNEL_SQL} AS channel, p_brand AS brand, p_type AS class,
             l_extendedprice * (1 - l_discount) AS amt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(l_shipdate) BETWEEN 1996 AND 1998
    ), cross_items AS (
      SELECT brand, class FROM sales WHERE channel = 'store'
      INTERSECT
      SELECT brand, class FROM sales WHERE channel = 'catalog'
      INTERSECT
      SELECT brand, class FROM sales WHERE channel = 'web'
    ), avg_sales AS (SELECT avg(amt) AS av FROM sales)
    SELECT channel, brand, round(sum(amt), 4) AS sales,
           CAST(count(*) AS BIGINT) AS n
    FROM sales JOIN cross_items USING (brand, class), avg_sales
    GROUP BY channel, brand, av
    HAVING sum(amt) > 25 * av
    """,
)
def tpcds_q14_cross_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 14 (queries/14.sql): items sold through ALL channels,
    filtered against a scalar average subquery. The oracle keeps the
    reference's INTERSECT spelling; the Spark plan decorrelates the
    whole intersect chain into ONE (brand, class) aggregate counting
    distinct channels == 3 — Catalyst does not share scans between
    INTERSECT branches (the set-op form re-scanned the fact 10×,
    measured), so the flag aggregate is the 100 TB shape: one scan for
    the item set, one for the average, one for the report — and since
    round 6, ONE scan total: everything derives from a persisted
    (brand, class, channel) partial aggregate (cells ≈ |brands|×
    |classes|×3, kilobytes at any SF — the three consumers previously
    re-derived the fact join with different column pruning, 3 scans)."""
    cat = load_tables(spark, sf_dir)
    li, part = cat.read("lineitem"), cat.read("part")
    sales = (
        li.filter(F.year("l_shipdate").between(1996, 1998))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            _channel_col().alias("channel"),
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("class"),
            _amt().alias("amt"),
        )
    )
    cells = (
        sales.groupBy("brand", "class", "channel")
        .agg(
            F.sum("amt").alias("__s"),
            F.count(F.lit(1)).cast("long").alias("__n"),
        )
        .transform(materialize)
    )
    cross_items = (
        cells.groupBy("brand", "class")
        .agg(F.countDistinct("channel").alias("__nch"))
        .filter(F.col("__nch") == 3)
        .select("brand", "class")
    )
    avg_sales = cells.agg(
        (F.sum("__s") / F.sum("__n")).alias("av")
    )
    return (
        cells.join(F.broadcast(cross_items), ["brand", "class"])
        .crossJoin(F.broadcast(avg_sales))
        .groupBy("channel", "brand", "av")
        .agg(
            F.round(F.sum("__s"), 4).alias("sales"),
            F.sum("__n").cast("long").alias("n"),
            F.sum("__s").alias("__raw"),
        )
        .filter(F.col("__raw") > 25 * F.col("av"))
        .select("channel", "brand", "sales", "n")
    )


# --- TPC-DS q23 shape: frequent items ∩ best customers ---------------------


@register(
    "tpcds_q23_frequent_best",
    """
    WITH freq AS (
      SELECT l_partkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE year(o_orderdate) IN (1996, 1997)
      GROUP BY l_partkey HAVING count(*) > 4
    ), csales AS (
      SELECT o_custkey, sum(l_extendedprice * (1 - l_discount)) AS sales
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey
    ), best AS (
      SELECT o_custkey FROM csales, (SELECT max(sales) AS mx FROM csales)
      WHERE sales > 0.5 * mx
    )
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS sales
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE year(o_orderdate) = 1998 AND month(o_orderdate) <= 6
      AND l_partkey IN (SELECT l_partkey FROM freq)
      AND o_custkey IN (SELECT o_custkey FROM best)
    """,
)
def tpcds_q23_frequent_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 23 (queries/23.sql, hand-optimized twin
    queries_optimized/23.sql): revenue from FREQUENTLY-sold items
    bought by the BEST customers — a multi-step CTE chain where two
    independent filtered aggregates (item frequency, customer spend vs
    max) feed semi-joins on the final fact scan. Both filter sets are
    aggregate outputs (small) → broadcast LeftSemi, the max is a scalar
    broadcast.

    The fact pair (lineitem ⋈ orders) feeds FOUR consumers (freq,
    csales → max, csales → best, the report); left as independent
    derivations that is 4 full corpus reads (8 scans, measured — the
    year filters live on orders, so lineitem never prunes, and csales
    needs ALL years so the branches' union of reads is the full fact
    anyway). Spark has no automatic CTE materialization for DataFrames
    and per-branch filter pushdown defeats exchange reuse here, so the
    4-column projection of the join is persisted explicitly
    (memory-and-disk, columnar): one scan of each fact, three in-memory
    re-reads. At 100 TB the cached slice is the narrow (partkey,
    custkey, month, amt) projection — the price of one extra
    write-through versus three full corpus reads."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    fact = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_partkey",
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("int")
            .alias("__oym"),
            _amt().alias("__amt"),
        )
        .transform(materialize)
    )
    freq = (
        fact.filter(
            F.col("__oym").between(1996 * 12 + 1, 1997 * 12 + 12)
        )
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 4)
        .select("l_partkey")
    )
    csales = fact.groupBy("o_custkey").agg(F.sum("__amt").alias("sales"))
    mx = csales.agg(F.max("sales").alias("mx"))
    best = (
        csales.crossJoin(F.broadcast(mx))
        .filter(F.col("sales") > 0.5 * F.col("mx"))
        .select("o_custkey")
    )
    return (
        fact.filter(F.col("__oym").between(1998 * 12 + 1, 1998 * 12 + 6))
        .join(F.broadcast(freq), "l_partkey", "left_semi")
        .join(F.broadcast(best), "o_custkey", "left_semi")
        .agg(F.round(F.sum("__amt"), 4).alias("sales"))
    )


# --- TPC-DS q33/q56 shape: per-channel aggregates UNION ALLed --------------


def _union_by_dim(cat, dim_col, dim_alias: str, year: int, cat_digit: str):
    """Three per-channel aggregates re-aggregated — the q33/q56 skeleton.
    Category filter on substring(p_brand, 7, 1). The oracle keeps the
    reference's UNION ALL spelling; the Spark plan folds the three
    branches into ONE pass: groupBy(dim, channel) partials then a
    dim-grain re-sum — the identical arithmetic structure (per-channel
    totals summed per dim), but one fact scan instead of three (each
    union branch re-derived the filtered join; the channel filters
    pushed into three separate scans — measured in the round-6 audit).
    The second aggregate runs on channel-grain partials, so at 100 TB
    the fold saves two full corpus reads for one agg over ~3×dims rows."""
    li, part = cat.read("lineitem"), cat.read("part")
    base = (
        li.filter(F.year("l_shipdate") == year)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(F.substring("p_brand", 7, 1) == cat_digit)
        .select(_channel_col().alias("channel"), dim_col.alias(dim_alias),
                _amt().alias("amt"))
    )
    return (
        base.groupBy(dim_alias, "channel")
        .agg(F.sum("amt").alias("total"))
        .groupBy(dim_alias)
        .agg(F.round(F.sum("total"), 4).alias("total_sales"))
    )


_Q33_ORACLE_TMPL = """
    WITH base AS (
      SELECT {channel} AS channel, {dim} AS {alias},
             l_extendedprice * (1 - l_discount) AS amt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(l_shipdate) = {year} AND substring(p_brand, 7, 1) = '{digit}'
    ), per AS (
      SELECT {alias}, sum(amt) AS total FROM base WHERE channel = 'store'
        GROUP BY {alias}
      UNION ALL
      SELECT {alias}, sum(amt) AS total FROM base WHERE channel = 'catalog'
        GROUP BY {alias}
      UNION ALL
      SELECT {alias}, sum(amt) AS total FROM base WHERE channel = 'web'
        GROUP BY {alias}
    )
    SELECT {alias}, round(sum(total), 4) AS total_sales
    FROM per GROUP BY {alias}
    """


@register(
    "tpcds_q33_manufact_union",
    _Q33_ORACLE_TMPL.format(
        channel=_CHANNEL_SQL, dim="CAST(p_size % 10 AS INT)",
        alias="manufact", year=1997, digit="1",
    ),
)
def tpcds_q33_manufact_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 33 (queries/33.sql): total sales by manufacturer for one
    category, summed across the three channel branches. Catalyst reuses
    one exchange for the three branches; the dim join broadcasts."""
    cat = load_tables(spark, sf_dir)
    return _union_by_dim(
        cat, (F.col("p_size") % 10).cast("int"), "manufact", 1997, "1"
    )


@register(
    "tpcds_q56_class_union",
    _Q33_ORACLE_TMPL.format(
        channel=_CHANNEL_SQL, dim="p_type", alias="class", year=1998,
        digit="2",
    ),
)
def tpcds_q56_class_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 56 (queries/56.sql): the q33 skeleton at item-class
    granularity with a different category slice — the reference keeps
    both because their aggregates stress different group cardinalities."""
    cat = load_tables(spark, sf_dir)
    return _union_by_dim(cat, F.col("p_type"), "class", 1998, "2")


# --- TPC-DS q47/q57 shape: windowed year-over-year deviation ---------------


def _yoy_deviation(monthly: DataFrame, part_cols: list[str], year: int):
    """avg-over-partition + rank + lag/lead on a monthly aggregate, then
    filter months deviating >10% from their partition-year mean — the
    q47/q57 v1/v2 skeleton. Windows partition on the dimension columns
    (never global); (d_year, d_moy) is unique per partition so lag/lead
    are deterministic.

    All money flows as BIGINT ten-thousandths (``_tt``): prices carry ≤4
    decimals so the fixed-point value is exact, the >10% deviation test
    becomes pure integer arithmetic (``|10·s·n − 10·S| > S``), and the
    oracle hash cannot flake on summation-order ulps the way a
    double-avg + round() formulation does."""
    wavg = W.partitionBy(*part_cols, "d_year")
    wseq = W.partitionBy(*part_cols).orderBy("d_year", "d_moy")
    v = (
        monthly.withColumn("ysum_tt", F.sum("sum_sales_tt").over(wavg))
        .withColumn("n_y", F.count(F.lit(1)).over(wavg))
        .withColumn("rn", F.rank().over(wseq))
        .withColumn("psum_tt", F.lag("sum_sales_tt").over(wseq))
        .withColumn("nsum_tt", F.lead("sum_sales_tt").over(wseq))
    )
    dev = (
        F.abs(
            10 * F.col("sum_sales_tt") * F.col("n_y") - 10 * F.col("ysum_tt")
        )
        > F.col("ysum_tt") * F.col("n_y")
    )
    return (
        v.filter((F.col("d_year") == year) & (F.col("ysum_tt") > 0) & dev)
        .select(
            *part_cols,
            "d_year",
            "d_moy",
            "sum_sales_tt",
            F.expr("ysum_tt div n_y").alias("avg_monthly_tt"),
            "rn",
            "psum_tt",
            "nsum_tt",
        )
    )


_YOY_ORACLE_TMPL = """
    WITH monthly AS (
      SELECT {dims}, CAST(year(l_shipdate) AS INT) AS d_year,
             CAST(month(l_shipdate) AS INT) AS d_moy,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS sum_sales_tt
      FROM {joins}
      GROUP BY {dims}, year(l_shipdate), month(l_shipdate)
    ), v AS (
      SELECT monthly.*,
             SUM(sum_sales_tt) OVER (PARTITION BY {dims}, d_year) AS ysum_tt,
             COUNT(*) OVER (PARTITION BY {dims}, d_year) AS n_y,
             rank() OVER (PARTITION BY {dims} ORDER BY d_year, d_moy) AS rn,
             lag(sum_sales_tt) OVER
               (PARTITION BY {dims} ORDER BY d_year, d_moy) AS psum_tt,
             lead(sum_sales_tt) OVER
               (PARTITION BY {dims} ORDER BY d_year, d_moy) AS nsum_tt
      FROM monthly
    )
    SELECT {dims}, d_year, d_moy, sum_sales_tt,
           CAST(ysum_tt // n_y AS BIGINT) AS avg_monthly_tt, rn,
           psum_tt, nsum_tt
    FROM v
    WHERE d_year = {year} AND ysum_tt > 0
      AND abs(10 * sum_sales_tt * n_y - 10 * ysum_tt) > ysum_tt * n_y
    """


@register(
    "tpcds_q47_yoy_deviation",
    _YOY_ORACLE_TMPL.format(
        dims="n_name, p_brand",
        joins="lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey",
        year=1997,
    ),
)
def tpcds_q47_yoy_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 47 (queries/47.sql): months whose sales deviate >10% from
    their (supplier-nation, brand) yearly mean, with prev/next month
    context. The reference's $v1/$v2 self-join triple becomes lag/lead
    over ONE window — one shuffle on the partition dims instead of three
    re-scans of the aggregate."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    monthly = (
        li.join(F.broadcast(cat.read("part")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(cat.read("supplier")), li.l_suppkey == F.col("s_suppkey"))
        .join(
            F.broadcast(cat.read("nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            "p_brand",
            F.year("l_shipdate").alias("d_year"),
            F.month("l_shipdate").alias("d_moy"),
        )
        .agg(
            F.round(F.sum(_amt()) * 10000, 0)
            .cast("long")
            .alias("sum_sales_tt")
        )
    )
    return _yoy_deviation(monthly, ["n_name", "p_brand"], 1997)


@register(
    "tpcds_q57_nation_yoy",
    _YOY_ORACLE_TMPL.format(
        dims="n_name, p_type",
        joins="lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey",
        year=1998,
    ),
)
def tpcds_q57_nation_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 57 (queries/57.sql): the q47 skeleton at (customer-nation,
    item-class) granularity, reached through the orders→customer join
    path (the reference keeps the catalog twin for the same reason)."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    monthly = (
        li.join(F.broadcast(cat.read("part")), li.l_partkey == F.col("p_partkey"))
        .join(cat.read("orders"), li.l_orderkey == F.col("o_orderkey"))
        .join(
            F.broadcast(cat.read("customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(cat.read("nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            "p_type",
            F.year("l_shipdate").alias("d_year"),
            F.month("l_shipdate").alias("d_moy"),
        )
        .agg(
            F.round(F.sum(_amt()) * 10000, 0)
            .cast("long")
            .alias("sum_sales_tt")
        )
    )
    return _yoy_deviation(monthly, ["n_name", "p_type"], 1998)


# --- TPC-DS q77 shape: per-channel profit report with returns join ---------


@register(
    "tpcds_q77_profit_report",
    f"""
    WITH s AS (
      SELECT {_CHANNEL_SQL} AS channel, p_type AS id,
             sum(l_extendedprice * (1 - l_discount)) AS sales,
             sum(l_extendedprice * (1 - l_discount)
                 - l_quantity * p_retailprice * 0.1) AS profit
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_returnflag <> 'R'
      GROUP BY 1, 2
    ), r AS (
      SELECT {_CHANNEL_SQL} AS channel, p_type AS id,
             sum(l_extendedprice) AS returned,
             sum(l_extendedprice * l_tax) AS net_loss
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_returnflag = 'R'
      GROUP BY 1, 2
    )
    SELECT channel, id, round(sum(sales), 4) AS sales,
           round(sum(COALESCE(returned, 0)), 4) AS returned,
           round(sum(profit - COALESCE(net_loss, 0)), 4) AS profit
    FROM s LEFT JOIN r USING (channel, id)
    GROUP BY ROLLUP(channel, id)
    """,
)
def tpcds_q77_profit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 77 (queries/77.sql): net profit per channel after returns —
    sales and returns aggregated SEPARATELY per (channel, class), LEFT
    JOINed (classes with no returns keep their sales), then ROLLUP
    subtotals. The join runs on two already-aggregated inputs (tiny), so
    the only fact-scale work is the two scans Catalyst can share."""
    cat = load_tables(spark, sf_dir)
    li, part = cat.read("lineitem"), cat.read("part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    s = (
        joined.filter(F.col("l_returnflag") != "R")
        .groupBy(_channel_col().alias("channel"), F.col("p_type").alias("id"))
        .agg(
            F.sum(_amt()).alias("sales"),
            F.sum(
                _amt() - F.col("l_quantity") * F.col("p_retailprice") * 0.1
            ).alias("profit"),
        )
    )
    r = (
        joined.filter(F.col("l_returnflag") == "R")
        .groupBy(_channel_col().alias("channel"), F.col("p_type").alias("id"))
        .agg(
            F.sum("l_extendedprice").alias("returned"),
            F.sum(F.col("l_extendedprice") * F.col("l_tax")).alias("net_loss"),
        )
    )
    return (
        s.join(r, ["channel", "id"], "left")
        .rollup("channel", "id")
        .agg(
            F.round(F.sum("sales"), 4).alias("sales"),
            F.round(F.sum(F.coalesce("returned", F.lit(0.0))), 4).alias(
                "returned"
            ),
            F.round(
                F.sum(F.col("profit") - F.coalesce("net_loss", F.lit(0.0))), 4
            ).alias("profit"),
        )
    )


# --- TPC-DS q51 shape: dueling cumulative windows over a FULL OUTER join ---


@register(
    "tpcds_q51_cumulative_channels",
    f"""
    WITH base AS (
      SELECT {_CHANNEL_SQL} AS channel, l_partkey AS item_sk,
             CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS d_ym,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS s_tt
      FROM lineitem
      GROUP BY 1, 2, 3
    ), web AS (
      SELECT item_sk, d_ym,
             SUM(s_tt) OVER (PARTITION BY item_sk ORDER BY d_ym
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume_tt
      FROM base WHERE channel = 'web'
    ), store AS (
      SELECT item_sk, d_ym,
             SUM(s_tt) OVER (PARTITION BY item_sk ORDER BY d_ym
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume_tt
      FROM base WHERE channel = 'store'
    ), joined AS (
      SELECT COALESCE(w.item_sk, s.item_sk) AS item_sk,
             COALESCE(w.d_ym, s.d_ym) AS d_ym,
             w.cume_tt AS web_sales, s.cume_tt AS store_sales
      FROM web w FULL OUTER JOIN store s
        ON w.item_sk = s.item_sk AND w.d_ym = s.d_ym
    ), y AS (
      SELECT item_sk, d_ym, web_sales, store_sales,
             MAX(web_sales) OVER (PARTITION BY item_sk ORDER BY d_ym
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS web_cumulative,
             MAX(store_sales) OVER (PARTITION BY item_sk ORDER BY d_ym
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS store_cumulative
      FROM joined
    )
    SELECT item_sk, d_ym, web_sales, store_sales,
           web_cumulative, store_cumulative
    FROM y WHERE web_cumulative > store_cumulative
    ORDER BY item_sk, d_ym LIMIT 100
    """,
)
def tpcds_q51_cumulative_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 51 (queries/51.sql): per-item cumulative web vs store sales,
    FULL OUTER joined by (item, month), then running MAX of each side
    (gap-filling the sparser channel) and the crossover filter. Every
    window partitions on item_sk — the reference's shape with no global
    sort; money flows as BIGINT ten-thousandths so cumulative sums are
    exact across engines. FULL OUTER on two aggregated inputs is
    cell-count sized, not fact sized."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    base = li.groupBy(
        _channel_col().alias("channel"),
        F.col("l_partkey").alias("item_sk"),
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("int")
        .alias("d_ym"),
    ).agg(
        F.round(F.sum(_amt()) * 10000, 0).cast("long").alias("s_tt")
    )
    wcum = W.partitionBy("item_sk").orderBy("d_ym").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    web = (
        base.filter(F.col("channel") == "web")
        .withColumn("cume_tt", F.sum("s_tt").over(wcum))
        .select("item_sk", "d_ym", F.col("cume_tt").alias("web_sales"))
        .alias("w")
    )
    store = (
        base.filter(F.col("channel") == "store")
        .withColumn("cume_tt", F.sum("s_tt").over(wcum))
        .select(
            F.col("item_sk").alias("s_item_sk"),
            F.col("d_ym").alias("s_d_ym"),
            F.col("cume_tt").alias("store_sales"),
        )
        .alias("s")
    )
    joined = web.join(
        store,
        (F.col("w.item_sk") == F.col("s.s_item_sk"))
        & (F.col("w.d_ym") == F.col("s.s_d_ym")),
        "full_outer",
    ).select(
        F.coalesce(F.col("w.item_sk"), F.col("s.s_item_sk")).alias("item_sk"),
        F.coalesce(F.col("w.d_ym"), F.col("s.s_d_ym")).alias("d_ym"),
        "web_sales",
        "store_sales",
    )
    y = joined.select(
        "*",
        F.max("web_sales").over(wcum).alias("web_cumulative"),
        F.max("store_sales").over(wcum).alias("store_cumulative"),
    )
    return (
        y.filter(F.col("web_cumulative") > F.col("store_cumulative"))
        .orderBy("item_sk", "d_ym")
        .limit(100)
    )


# --- TPC-DS q88 shape: N independent band counts cross-joined to one row ---


_Q88_BAND_PRED = """(
        (l_quantity <= 10 AND l_discount >= 0.05)
        OR (l_quantity > 10 AND l_quantity <= 30)
        OR (l_quantity > 30 AND l_discount <= 0.03))"""

_Q88_BANDS = [(1, 2), (3, 4), (5, 6), (7, 8), (9, 10), (11, 12)]


@register(
    "tpcds_q88_time_bands",
    "SELECT "
    + ", ".join(
        f"""(SELECT CAST(count(*) AS BIGINT) FROM lineitem
         WHERE month(l_shipdate) BETWEEN {lo} AND {hi}
           AND {_Q88_BAND_PRED}) AS band_{lo}_{hi}"""
        for lo, hi in _Q88_BANDS
    ),
)
def tpcds_q88_time_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 88 (queries/88.sql): N independent filtered counts (time
    bands × a 3-way demographic disjunction) cross-joined into ONE result
    row. The oracle keeps the reference's N-scalar-subquery spelling; the
    Spark plan folds all bands into ONE conditional aggregation — each
    band's month filter pushed into its own scan previously (6 full fact
    reads, round-6 audit; the bands partition the year, so their union IS
    the whole table and per-branch pruning buys nothing). One scan, one
    1-row aggregate, no cross joins."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    band_pred = (
        ((F.col("l_quantity") <= 10) & (F.col("l_discount") >= 0.05))
        | ((F.col("l_quantity") > 10) & (F.col("l_quantity") <= 30))
        | ((F.col("l_quantity") > 30) & (F.col("l_discount") <= 0.03))
    )
    m = F.month("l_shipdate")
    return li.filter(band_pred).agg(
        *[
            F.count(F.when((m >= lo) & (m <= hi), 1))
            .cast("long")
            .alias(f"band_{lo}_{hi}")
            for lo, hi in _Q88_BANDS
        ]
    )


# --- TPC-DS q35 shape: EXISTS across channels + demographic rollout --------


@register(
    "tpcds_q35_exists_demographics",
    f"""
    WITH ch AS (
      SELECT {_CHANNEL_SQL} AS channel, o_custkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT c_mktsegment, n_name,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(min(c_custkey) AS BIGINT) AS min_cust,
           CAST(max(c_custkey) AS BIGINT) AS max_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (SELECT 1 FROM ch WHERE o_custkey = c_custkey
                  AND channel = 'store')
      AND (EXISTS (SELECT 1 FROM ch WHERE o_custkey = c_custkey
                   AND channel = 'web')
           OR EXISTS (SELECT 1 FROM ch WHERE o_custkey = c_custkey
                      AND channel = 'catalog'))
    GROUP BY c_mktsegment, n_name
    """,
)
def tpcds_q35_exists_demographics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 35 (queries/35.sql): customers present in the store channel
    AND at least one remote channel, rolled up by demographic attributes
    (mktsegment × nation here). The EXISTS chain compiles to left-semi
    joins on aggregated key sets; the OR of two EXISTS becomes a semi
    join against the union of the two channel key sets — no fact-side
    row explosion."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    ch = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        _channel_col().alias("channel"), "o_custkey"
    )
    store_keys = ch.filter(F.col("channel") == "store").select("o_custkey")
    remote_keys = ch.filter(
        F.col("channel").isin("web", "catalog")
    ).select("o_custkey")
    cust = cat.read("customer").join(
        F.broadcast(cat.read("nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return (
        cust.join(
            store_keys, cust.c_custkey == store_keys.o_custkey, "left_semi"
        )
        .join(
            remote_keys, cust.c_custkey == remote_keys.o_custkey, "left_semi"
        )
        .groupBy("c_mktsegment", "n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("c_custkey").cast("long").alias("min_cust"),
            F.max("c_custkey").cast("long").alias("max_cust"),
        )
    )


# --- TPC-DS q2 shape: period-over-period ratio self-join -------------------


@register(
    "tpcds_q2_period_ratio",
    f"""
    WITH monthly AS (
      SELECT CAST(year(l_shipdate) AS INT) AS d_year,
             CAST(month(l_shipdate) AS INT) AS d_moy,
             {_CHANNEL_SQL} AS channel,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS s_tt
      FROM lineitem
      GROUP BY 1, 2, 3
    ), merged AS (
      SELECT d_year, d_moy, CAST(SUM(s_tt) AS BIGINT) AS s_tt
      FROM monthly WHERE channel IN ('web', 'catalog')
      GROUP BY d_year, d_moy
    )
    SELECT a.d_moy AS d_moy, a.s_tt AS cur_tt, b.s_tt AS prev_tt,
           round(CAST(a.s_tt AS DOUBLE) / b.s_tt, 4) AS ratio
    FROM merged a JOIN merged b
      ON a.d_moy = b.d_moy AND a.d_year = 1997 AND b.d_year = 1996
    """,
)
def tpcds_q2_period_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 02 (queries/02.sql): combined web+catalog sales per period,
    self-joined across consecutive years on the period number to emit the
    year-over-year ratio. The self-join runs on a months-sized aggregate
    (broadcastable); division happens once on exact fixed-point inputs so
    the rounded ratio is engine-stable."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    monthly = li.groupBy(
        F.year("l_shipdate").alias("d_year"),
        F.month("l_shipdate").alias("d_moy"),
        _channel_col().alias("channel"),
    ).agg(F.round(F.sum(_amt()) * 10000, 0).cast("long").alias("s_tt"))
    merged = (
        monthly.filter(F.col("channel").isin("web", "catalog"))
        .groupBy("d_year", "d_moy")
        .agg(F.sum("s_tt").cast("long").alias("s_tt"))
    )
    a = merged.filter(F.col("d_year") == 1997).alias("a")
    b = merged.filter(F.col("d_year") == 1996).alias("b")
    return a.join(F.broadcast(b), F.col("a.d_moy") == F.col("b.d_moy")).select(
        F.col("a.d_moy").alias("d_moy"),
        F.col("a.s_tt").alias("cur_tt"),
        F.col("b.s_tt").alias("prev_tt"),
        F.round(F.col("a.s_tt").cast("double") / F.col("b.s_tt"), 4).alias(
            "ratio"
        ),
    )


# --- TPC-DS q36 shape: margin ROLLUP ranked within grouping level ----------


@register(
    "tpcds_q36_margin_hierarchy",
    """
    WITH m AS (
      SELECT substring(p_brand, 7, 1) AS cat, p_type AS class,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS sales_tt,
             CAST(round(sum(l_extendedprice * (1 - l_discount)
                            - l_quantity * p_retailprice * 0.1) * 10000, 0)
                  AS BIGINT) AS profit_tt,
             CAST(GROUPING(substring(p_brand, 7, 1)) AS INT) AS g_cat,
             CAST(GROUPING(p_type) AS INT) AS g_class
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(l_shipdate) = 1997
      GROUP BY ROLLUP(substring(p_brand, 7, 1), p_type)
      HAVING sum(l_extendedprice * (1 - l_discount)) <> 0
    )
    SELECT cat, class, CAST(g_cat + g_class AS INT) AS lochierarchy,
           round(CAST(profit_tt AS DOUBLE) / sales_tt, 4) AS gross_margin,
           CAST(rank() OVER (
             PARTITION BY g_cat + g_class,
                          CASE WHEN g_class = 0 THEN cat END
             ORDER BY CAST(profit_tt AS DOUBLE) / sales_tt
           ) AS INT) AS rk
    FROM m
    """,
)
def tpcds_q36_margin_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 36 (yt/benchmarks/run/queries/36.sql): gross-margin ROLLUP
    over (category, class) with a rank WITHIN each hierarchy level —
    partitioned on GROUPING()-derived keys, so leaf rows rank against
    their category siblings and subtotal rows against other subtotals.
    One expand+aggregate for the ROLLUP, one window shuffle on the
    (small) aggregate; margins divide exact fixed-point sums so the rank
    order is engine-stable."""
    cat_ = load_tables(spark, sf_dir)
    li, part = cat_.read("lineitem"), cat_.read("part")
    m = (
        li.filter(F.year("l_shipdate") == 1997)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.substring("p_brand", 7, 1).alias("cat"),
            F.col("p_type").alias("class"),
            _amt().alias("amt"),
            (_amt() - F.col("l_quantity") * F.col("p_retailprice") * 0.1)
            .alias("profit"),
        )
        .rollup("cat", "class")
        .agg(
            F.round(F.sum("amt") * 10000, 0).cast("long").alias("sales_tt"),
            F.round(F.sum("profit") * 10000, 0).cast("long").alias("profit_tt"),
            F.grouping("cat").cast("int").alias("g_cat"),
            F.grouping("class").cast("int").alias("g_class"),
            F.sum("amt").alias("__raw_sales"),
        )
        .filter(F.col("__raw_sales") != 0)
    )
    margin = F.col("profit_tt").cast("double") / F.col("sales_tt")
    wrk = W.partitionBy(
        F.col("g_cat") + F.col("g_class"),
        F.when(F.col("g_class") == 0, F.col("cat")),
    ).orderBy(margin)
    return m.select(
        "cat",
        "class",
        (F.col("g_cat") + F.col("g_class")).cast("int").alias("lochierarchy"),
        F.round(margin, 4).alias("gross_margin"),
        F.rank().over(wrk).cast("int").alias("rk"),
    )


# --- TPC-DS q59 shape: weekday pivot + week-over-week ratio self-join ------


_Q59_PIVOT_SQL = ", ".join(
    f"CAST(sum(CASE WHEN dow = {d} THEN s_tt END) AS BIGINT) AS d{d}"
    for d in range(7)
)
_Q59_RATIO_SQL = ", ".join(
    f"round(CAST(a.d{d} AS DOUBLE) / b.d{d}, 4) AS r{d}" for d in range(7)
)


@register(
    "tpcds_q59_weekday_wow",
    f"""
    WITH days AS (
      SELECT date_diff('day', DATE '1995-01-01', l_shipdate) AS dd,
             l_extendedprice * (1 - l_discount) AS amt
      FROM lineitem
    ), weekly AS (
      SELECT dd // 7 AS wk, dd % 7 AS dow,
             CAST(round(sum(amt) * 10000, 0) AS BIGINT) AS s_tt
      FROM days GROUP BY 1, 2
    ), piv AS (
      SELECT wk, {_Q59_PIVOT_SQL} FROM weekly GROUP BY wk
    )
    SELECT a.wk AS wk, {_Q59_RATIO_SQL}
    FROM piv a JOIN piv b ON a.wk = b.wk + 52
    WHERE a.wk BETWEEN 52 AND 103
    """,
)
def tpcds_q59_weekday_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 59 (queries/59.sql): weekly sales PIVOTed into one column
    per weekday, then the pivoted table self-joined at a 52-week offset
    to emit this-year/last-year ratios per weekday. Weeks and weekdays
    derive from an epoch-anchored day count (engine-neutral — no
    locale-dependent week function); the self-join runs on a
    weeks-cardinality aggregate, broadcastable at any corpus size."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    days = li.select(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .alias("dd"),
        _amt().alias("amt"),
    )
    weekly = (
        days.groupBy(
            F.expr("dd div 7").alias("wk"), (F.col("dd") % 7).alias("dow")
        )
        .agg(F.round(F.sum("amt") * 10000, 0).cast("long").alias("s_tt"))
    )
    piv = (
        weekly.groupBy("wk")
        .pivot("dow", list(range(7)))
        .agg(F.sum("s_tt"))
        .select("wk", *[F.col(str(d)).alias(f"d{d}") for d in range(7)])
    )
    a = piv.alias("a")
    b = piv.select(
        (F.col("wk") + 52).alias("b_wk"),
        *[F.col(f"d{d}").alias(f"b_d{d}") for d in range(7)],
    ).alias("b")
    return (
        a.filter(F.col("wk").between(52, 103))
        .join(F.broadcast(b), F.col("wk") == F.col("b_wk"))
        .select(
            "wk",
            *[
                F.round(
                    F.col(f"d{d}").cast("double") / F.col(f"b_d{d}"), 4
                ).alias(f"r{d}")
                for d in range(7)
            ],
        )
    )


# --- TPC-DS q89 shape: rolling-frame deviation from moving average ---------


@register(
    "tpcds_q89_rolling_deviation",
    """
    WITH monthly AS (
      SELECT p_brand, CAST(year(l_shipdate) AS INT) AS d_year,
             CAST(month(l_shipdate) AS INT) AS d_moy,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS s_tt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2, 3
    ), v AS (
      SELECT monthly.*,
             SUM(s_tt) OVER (PARTITION BY p_brand ORDER BY d_year, d_moy
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS wsum_tt,
             COUNT(*) OVER (PARTITION BY p_brand ORDER BY d_year, d_moy
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS n_w
      FROM monthly
    )
    SELECT p_brand, d_year, d_moy, s_tt,
           CAST(wsum_tt AS BIGINT) AS wsum_tt, CAST(n_w AS BIGINT) AS n_w
    FROM v
    WHERE d_year = 1997 AND 10 * abs(n_w * s_tt - wsum_tt) > wsum_tt
    """,
)
def tpcds_q89_rolling_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 89 (queries/89.sql): months whose brand sales deviate >10%
    from a CENTERED 3-month moving average — a ROWS sliding frame, the
    one window frame shape the q47/q57 suite doesn't cover. The window
    partitions on brand (never global); the >10% test is pure integer
    arithmetic over fixed-point sums (|n*s - wsum| * 10 > wsum), so no
    double-average rounding can flake the hash."""
    cat = load_tables(spark, sf_dir)
    li, part = cat.read("lineitem"), cat.read("part")
    monthly = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand",
            F.year("l_shipdate").alias("d_year"),
            F.month("l_shipdate").alias("d_moy"),
        )
        .agg(F.round(F.sum(_amt()) * 10000, 0).cast("long").alias("s_tt"))
    )
    wfr = (
        W.partitionBy("p_brand").orderBy("d_year", "d_moy").rowsBetween(-1, 1)
    )
    v = monthly.withColumn(
        "wsum_tt", F.sum("s_tt").over(wfr).cast("long")
    ).withColumn("n_w", F.count(F.lit(1)).over(wfr).cast("long"))
    return v.filter(
        (F.col("d_year") == 1997)
        & (10 * F.abs(F.col("n_w") * F.col("s_tt") - F.col("wsum_tt"))
           > F.col("wsum_tt"))
    )


# --- TPC-DS q49 shape: worst return ratios ranked per channel --------------


@register(
    "tpcds_q49_return_ratio_rank",
    f"""
    WITH base AS (
      SELECT {_CHANNEL_SQL} AS channel, l_partkey AS item,
             CAST(round(sum(CASE WHEN l_returnflag = 'R'
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0 END) * 10000, 0) AS BIGINT) AS ret_tt,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS sales_tt
      FROM lineitem
      GROUP BY 1, 2
      HAVING sum(CASE WHEN l_returnflag = 'R'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END) > 0
         AND sum(l_extendedprice * (1 - l_discount)) > 0
    ), ranked AS (
      SELECT channel, item,
             round(CAST(ret_tt AS DOUBLE) / sales_tt, 4) AS return_ratio,
             CAST(dense_rank() OVER (PARTITION BY channel
               ORDER BY CAST(ret_tt AS DOUBLE) / sales_tt DESC) AS INT)
               AS ratio_rank,
             CAST(rank() OVER (PARTITION BY channel
               ORDER BY ret_tt DESC) AS INT) AS currency_rank
      FROM base
    )
    SELECT channel, item, return_ratio, ratio_rank, currency_rank
    FROM ranked WHERE ratio_rank <= 10 OR currency_rank <= 10
    """,
)
def tpcds_q49_return_ratio_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 49 (queries/49.sql): per channel, the items with the worst
    return ratio — dual rankings (ratio dense_rank + returned-currency
    rank), keep anything in either top-10. The reference writes three
    per-channel subqueries UNION ALLed; here channel is a partition
    column, so ONE aggregate + ONE partitioned window replaces the
    union, and no window is ever global. Ratios divide exact fixed-point
    sums — identical doubles on both engines, so ranks can't flake."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    ret = F.when(F.col("l_returnflag") == "R", _amt()).otherwise(F.lit(0.0))
    base = (
        li.groupBy(_channel_col().alias("channel"), F.col("l_partkey").alias("item"))
        .agg(
            F.round(F.sum(ret) * 10000, 0).cast("long").alias("ret_tt"),
            F.round(F.sum(_amt()) * 10000, 0).cast("long").alias("sales_tt"),
            F.sum(ret).alias("__raw_ret"),
            F.sum(_amt()).alias("__raw_sales"),
        )
        .filter((F.col("__raw_ret") > 0) & (F.col("__raw_sales") > 0))
    )
    ratio = F.col("ret_tt").cast("double") / F.col("sales_tt")
    ranked = base.select(
        "channel",
        "item",
        F.round(ratio, 4).alias("return_ratio"),
        F.dense_rank()
        .over(W.partitionBy("channel").orderBy(ratio.desc()))
        .cast("int")
        .alias("ratio_rank"),
        F.rank()
        .over(W.partitionBy("channel").orderBy(F.col("ret_tt").desc()))
        .cast("int")
        .alias("currency_rank"),
    )
    return ranked.filter(
        (F.col("ratio_rank") <= 10) | (F.col("currency_rank") <= 10)
    )


# --- TPC-DS q54 shape: customer revenue segmentation histogram -------------


@register(
    "tpcds_q54_revenue_segments",
    """
    WITH rev AS (
      SELECT o_custkey,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS rev_tt
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE year(o_orderdate) = 1997
      GROUP BY o_custkey
    )
    SELECT CAST(rev_tt // 500000000 AS BIGINT) AS segment,
           CAST((rev_tt // 500000000) * 50000 AS BIGINT) AS segment_base,
           CAST(count(*) AS BIGINT) AS num_customers
    FROM rev GROUP BY 1, 2
    """,
)
def tpcds_q54_revenue_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 54 (queries/54.sql): bucket customers by yearly revenue into
    fixed-width segments and count the histogram. Revenue flows as BIGINT
    ten-thousandths; the segment is exact integer floor division (bucket
    width $50k in tt units), so bucket edges can't flake. Two partial-agg
    shuffles (customer, then segment), the second over segment
    cardinality — nothing global."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.year("o_orderdate") == 1997)
        .groupBy("o_custkey")
        .agg(F.round(F.sum(_amt()) * 10000, 0).cast("long").alias("rev_tt"))
    )
    seg = F.expr("rev_tt div 500000000")
    return (
        rev.groupBy(
            seg.cast("long").alias("segment"),
            (seg * 50000).cast("long").alias("segment_base"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("num_customers"))
    )


# --- TPC-DS q34 shape: line-count band, join back to customer --------------


@register(
    "tpcds_q34_count_band",
    """
    WITH cnts AS (
      SELECT o_orderkey, o_custkey, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_quantity BETWEEN 1 AND 30
      GROUP BY o_orderkey, o_custkey
      HAVING count(*) BETWEEN 5 AND 7
    )
    SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
           CAST(o_orderkey AS BIGINT) AS o_orderkey, cnt
    FROM cnts JOIN customer ON o_custkey = c_custkey
    """,
)
def tpcds_q34_count_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 34 (queries/34.sql): orders whose filtered line count falls
    in a band (the reference's 15-20-ticket store baskets; 5-7 lines on
    the TPC-H-shaped fact), joined back to the customer dim for display
    attributes. The HAVING band runs on the partial-agg'd count before
    the dim join, so only band survivors (a tiny fraction) reach the
    broadcast customer join."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    cnts = (
        li.filter(F.col("l_quantity").between(1, 30))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt").between(5, 7))
    )
    cust = cat.read("customer")
    return cnts.join(
        F.broadcast(cust), cnts.o_custkey == cust.c_custkey
    ).select(
        "c_name",
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "cnt",
    )


# --- TPC-DS q31 shape: quarter-over-quarter growth, two channels compared --


@register(
    "tpcds_q31_qoq_growth",
    f"""
    WITH q AS (
      SELECT n_name, {_CHANNEL_SQL} AS channel,
             CAST(quarter(l_shipdate) AS INT) AS qtr,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS s_tt
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
      WHERE year(l_shipdate) = 1997 AND quarter(l_shipdate) <= 3
      GROUP BY 1, 2, 3
    ), six AS (
      SELECT n_name,
             CAST(sum(CASE WHEN channel = 'store' AND qtr = 1 THEN s_tt END)
                  AS BIGINT) AS ss1,
             CAST(sum(CASE WHEN channel = 'store' AND qtr = 2 THEN s_tt END)
                  AS BIGINT) AS ss2,
             CAST(sum(CASE WHEN channel = 'store' AND qtr = 3 THEN s_tt END)
                  AS BIGINT) AS ss3,
             CAST(sum(CASE WHEN channel = 'web' AND qtr = 1 THEN s_tt END)
                  AS BIGINT) AS ws1,
             CAST(sum(CASE WHEN channel = 'web' AND qtr = 2 THEN s_tt END)
                  AS BIGINT) AS ws2,
             CAST(sum(CASE WHEN channel = 'web' AND qtr = 3 THEN s_tt END)
                  AS BIGINT) AS ws3
      FROM q GROUP BY n_name
    )
    SELECT n_name,
           round(CAST(ws2 AS DOUBLE) / ws1, 4) AS web_g1,
           round(CAST(ws3 AS DOUBLE) / ws2, 4) AS web_g2,
           round(CAST(ss2 AS DOUBLE) / ss1, 4) AS store_g1,
           round(CAST(ss3 AS DOUBLE) / ss2, 4) AS store_g2
    FROM six
    WHERE ss1 > 0 AND ss2 > 0 AND ss3 > 0
      AND ws1 > 0 AND ws2 > 0 AND ws3 > 0
      AND CAST(ws2 AS DOUBLE) / ws1 > CAST(ss2 AS DOUBLE) / ss1
      AND CAST(ws3 AS DOUBLE) / ws2 > CAST(ss3 AS DOUBLE) / ss2
    """,
)
def tpcds_q31_qoq_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 31 (queries/31.sql): nations where WEB sales grew faster
    than STORE sales in BOTH consecutive quarter transitions of a year.
    The reference writes six CTE scans self-joined on county; here one
    (nation, channel, quarter) aggregate pivots to six columns via
    conditional aggregation — one fact shuffle instead of six, then a
    nation-cardinality filter. Growth ratios divide exact fixed-point
    sums, identical across engines."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    q = (
        li.join(cat.read("orders"), li.l_orderkey == F.col("o_orderkey"))
        .join(
            F.broadcast(cat.read("customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(cat.read("nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .filter((F.year("l_shipdate") == 1997) & (F.quarter("l_shipdate") <= 3))
        .groupBy(
            "n_name",
            _channel_col().alias("channel"),
            F.quarter("l_shipdate").cast("int").alias("qtr"),
        )
        .agg(F.round(F.sum(_amt()) * 10000, 0).cast("long").alias("s_tt"))
    )
    cell = lambda ch, k: F.sum(  # noqa: E731
        F.when((F.col("channel") == ch) & (F.col("qtr") == k), F.col("s_tt"))
    ).cast("long")
    six = q.groupBy("n_name").agg(
        cell("store", 1).alias("ss1"),
        cell("store", 2).alias("ss2"),
        cell("store", 3).alias("ss3"),
        cell("web", 1).alias("ws1"),
        cell("web", 2).alias("ws2"),
        cell("web", 3).alias("ws3"),
    )
    d = lambda a, b: F.col(a).cast("double") / F.col(b)  # noqa: E731
    pos = (
        (F.col("ss1") > 0) & (F.col("ss2") > 0) & (F.col("ss3") > 0)
        & (F.col("ws1") > 0) & (F.col("ws2") > 0) & (F.col("ws3") > 0)
    )
    return (
        six.filter(
            pos
            & (d("ws2", "ws1") > d("ss2", "ss1"))
            & (d("ws3", "ws2") > d("ss3", "ss2"))
        )
        .select(
            "n_name",
            F.round(d("ws2", "ws1"), 4).alias("web_g1"),
            F.round(d("ws3", "ws2"), 4).alias("web_g2"),
            F.round(d("ss2", "ss1"), 4).alias("store_g1"),
            F.round(d("ss3", "ss2"), 4).alias("store_g2"),
        )
    )


# --- TPC-DS q78 shape: returns-excluding anti join + channel ratio ---------


@register(
    "tpcds_q78_no_return_ratio",
    f"""
    WITH returned_keys AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_returnflag = 'R'
    ), net AS (
      SELECT l.*, {_CHANNEL_SQL.replace('l_linenumber', 'l.l_linenumber')}
             AS channel
      FROM lineitem l LEFT JOIN returned_keys r
        ON l.l_orderkey = r.l_orderkey AND l.l_partkey = r.l_partkey
      WHERE r.l_orderkey IS NULL
    ), ss AS (
      SELECT l_partkey AS item, CAST(year(l_shipdate) AS INT) AS d_year,
             CAST(round(sum(l_quantity), 0) AS BIGINT) AS ss_qty,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS ss_tt
      FROM net WHERE channel = 'store' GROUP BY 1, 2
    ), os AS (
      SELECT l_partkey AS item, CAST(year(l_shipdate) AS INT) AS d_year,
             CAST(round(sum(l_quantity), 0) AS BIGINT) AS os_qty,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS os_tt
      FROM net WHERE channel IN ('web', 'catalog') GROUP BY 1, 2
    )
    SELECT ss.item AS item, ss.d_year AS d_year, ss_qty, ss_tt, os_qty, os_tt,
           round(CAST(ss_qty AS DOUBLE) / os_qty, 4) AS qty_ratio
    FROM ss JOIN os ON ss.item = os.item AND ss.d_year = os.d_year
    WHERE ss_qty > 0 AND os_qty > 0
    """,
)
def tpcds_q78_no_return_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 78 (queries/78.sql): per (item, year), store vs other-channel
    sales of NEVER-RETURNED order-parts — the reference's signature
    LEFT-JOIN-returns-WHERE-NULL anti pattern, here a genuine fact-scale
    anti semi join (a sale line is excluded when ANY line of its
    (order, part) was returned, not just its own flag). Spark spells it
    left_anti; the returned-key set is an aggregate (DISTINCT) so the
    anti join shuffles on the composite key once — and its scan is the
    SELECTIVE returns slice, the one per-branch read worth keeping.
    The two channel aggregates fold into ONE (item, year) conditional
    aggregation (the store / web+catalog filters previously re-derived
    the whole anti-join per branch — round-6 audit); the inner join at
    (item, year) becomes both conditional sums non-null."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    net = li.join(returned, ["l_orderkey", "l_partkey"], "left_anti").select(
        "*", _channel_col().alias("channel")
    )
    is_ss = F.col("channel") == "store"
    is_os = F.col("channel").isin("web", "catalog")
    cell = lambda pred, c: F.round(  # noqa: E731
        F.sum(F.when(pred, c)), 0
    ).cast("long")
    return (
        net.groupBy(
            F.col("l_partkey").alias("item"),
            F.year("l_shipdate").cast("int").alias("d_year"),
        )
        .agg(
            cell(is_ss, F.col("l_quantity")).alias("ss_qty"),
            (cell(is_ss, _amt() * 10000)).alias("ss_tt"),
            cell(is_os, F.col("l_quantity")).alias("os_qty"),
            (cell(is_os, _amt() * 10000)).alias("os_tt"),
        )
        .filter((F.col("ss_qty") > 0) & (F.col("os_qty") > 0))
        .select(
            "item", "d_year", "ss_qty", "ss_tt", "os_qty", "os_tt",
            F.round(
                F.col("ss_qty").cast("double") / F.col("os_qty"), 4
            ).alias("qty_ratio"),
        )
    )


# --- TPC-DS q39 shape: coefficient-of-variation filter + month self-join ---


@register(
    "tpcds_q39_cov_months",
    """
    WITH q AS (
      SELECT p_brand AS brand, n_name AS wh,
             CAST(month(l_shipdate) AS INT) AS d_moy,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS s2
      FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
      WHERE month(l_shipdate) IN (1, 2)
      GROUP BY 1, 2, 3
    ), v AS (
      -- var_samp > mean^2/4 (CoV > 0.5)  <=>  4*n*(n*s2-s1^2) > s1^2*(n-1);
      -- products reach ~s1^2*n (past int64 at TB scale), so they multiply
      -- as 128-bit HUGEINT here and DECIMAL(38,0) on the Spark side —
      -- exact on both engines, no wraparound
      SELECT brand, wh, d_moy, n, s1, s2,
             round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                        / (n * (n - 1))) / (CAST(s1 AS DOUBLE) / n), 4)
               AS cov
      FROM q
      WHERE n > 1 AND s1 > 0
        AND 4 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * s2
                                      - CAST(s1 AS HUGEINT) * s1)
            > CAST(s1 AS HUGEINT) * s1 * (n - 1)
    )
    SELECT a.brand AS brand, a.wh AS wh,
           a.cov AS cov_m1, b.cov AS cov_m2,
           a.n AS n_m1, b.n AS n_m2
    FROM v a JOIN v b
      ON a.brand = b.brand AND a.wh = b.wh AND a.d_moy = 1 AND b.d_moy = 2
    """,
)
def tpcds_q39_cov_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 39 (yt/benchmarks/run/queries/39.sql): items whose monthly
    demand is HIGH-VARIANCE (coefficient of variation > 0.5 — the
    reference uses 1.0; the TPC-H quantity spread tops out near 0.57) in
    two CONSECUTIVE months at the same warehouse (brand × supplier
    nation on this fixture, the grain with non-singleton groups) — the statistical-filter +
    self-join family. The CoV>1 cut is pure integer arithmetic
    (var_samp > mean²/4 ⟺ 4n(n·S2 − S1²) > S1²(n−1) over exact quantity
    sums, with cross-products in 128-bit arithmetic — HUGEINT in the
    oracle, DECIMAL(38,0) in Spark — since they pass int64 near TB
    scale), so neither a stddev summation-order ulp nor int64 wraparound
    can flip membership; the
    self-join runs on the already-filtered (item, warehouse, month)
    aggregate, tiny at any scale."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    qv = F.col("l_quantity").cast("long")
    q = (
        li.join(F.broadcast(cat.read("part")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(cat.read("supplier")), li.l_suppkey == F.col("s_suppkey"))
        .join(
            F.broadcast(cat.read("nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.month("l_shipdate").isin(1, 2))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("n_name").alias("wh"),
            F.month("l_shipdate").cast("int").alias("d_moy"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(qv).cast("long").alias("s1"),
            F.sum(qv * qv).cast("long").alias("s2"),
        )
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    nd, s1d = [c.cast("decimal(38,0)") for c in (n, s1)]
    v = q.filter(
        (n > 1)
        & (s1 > 0)
        & (4 * nd * (nd * s2 - s1d * s1) > s1d * s1 * (n - 1))
    ).withColumn(
        "cov",
        F.round(
            F.sqrt((n * s2 - s1 * s1).cast("double") / (n * (n - 1)))
            / (s1.cast("double") / n),
            4,
        ),
    )
    a = v.filter(F.col("d_moy") == 1).alias("a")
    b = v.filter(F.col("d_moy") == 2).select(
        F.col("brand").alias("b_brand"),
        F.col("wh").alias("b_wh"),
        F.col("cov").alias("cov_m2"),
        F.col("n").alias("n_m2"),
    )
    return a.join(
        b, (F.col("brand") == F.col("b_brand")) & (F.col("wh") == F.col("b_wh"))
    ).select(
        "brand",
        "wh",
        F.col("cov").alias("cov_m1"),
        "cov_m2",
        F.col("n").alias("n_m1"),
        "n_m2",
    )


# --- TPC-DS q64 shape: deep snowflake aggregate self-joined across years ---


@register(
    "tpcds_q64_snowflake_years",
    """
    WITH cs AS (
      SELECT l_partkey AS item, p_brand AS brand,
             cn.n_name AS cust_nation, sn.n_name AS supp_nation,
             CAST(year(o_orderdate) AS INT) AS syear,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                           AS BIGINT)) AS BIGINT) AS s_tt
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE p_size <= 20
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT a.item AS item, a.brand AS brand,
           a.cust_nation AS cust_nation, a.supp_nation AS supp_nation,
           a.cnt AS cnt1, b.cnt AS cnt2, a.s_tt AS s1_tt, b.s_tt AS s2_tt
    FROM cs a JOIN cs b
      ON a.item = b.item AND a.cust_nation = b.cust_nation
     AND a.supp_nation = b.supp_nation
     AND a.syear = 1996 AND b.syear = 1997 AND b.cnt <= a.cnt
    """,
)
def tpcds_q64_snowflake_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 64 (queries/64.sql, hand-optimized twin
    queries_optimized/64.sql): the deep-snowflake family — a 7-table
    join chain (fact → orders → customer → nation, part, supplier →
    nation) aggregated per (item, nations, year), then compared across
    consecutive years with the reference's cnt2 <= cnt1 guard.

    The oracle keeps the reference's self-join spelling; the Spark plan
    FOLDS the year self-join into one conditional aggregation — the same
    decorrelation the reference ships as its hand-optimized q64 variant.
    ``cs`` referenced twice re-derived the whole chain per branch (14
    scans, measured); the fold is one pass: brand is functionally
    dependent on item, so grouping by (item, brand, nations) with
    per-year conditional sums is the identical grain, and the inner-join
    semantics become cnt1 >= 1 AND cnt2 >= 1. At 100 TB that halves the
    corpus reads AND removes the aggregate-side shuffle of the self-join.
    All five dims broadcast (two nation copies under different aliases);
    the only fact-scale shuffles are the orders join and the one final
    aggregate. Years prune before the aggregate (the self-join form kept
    every year alive until the join filters)."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    nation = cat.read("nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    syear = F.year("o_orderdate").cast("int")
    amt_tt = F.round(_amt() * 10000, 0).cast("long")
    folded = (
        li.join(cat.read("orders"), li.l_orderkey == F.col("o_orderkey"))
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .join(
            F.broadcast(cat.read("customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(cat.read("part").filter(F.col("p_size") <= 20)),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(
            F.broadcast(cat.read("supplier")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(
            F.col("l_partkey").alias("item"),
            F.col("p_brand").alias("brand"),
            "cust_nation",
            "supp_nation",
        )
        .agg(
            F.sum(F.when(syear == 1996, 1).otherwise(0))
            .cast("long")
            .alias("cnt1"),
            F.sum(F.when(syear == 1997, 1).otherwise(0))
            .cast("long")
            .alias("cnt2"),
            F.sum(F.when(syear == 1996, amt_tt)).cast("long").alias("s1_tt"),
            F.sum(F.when(syear == 1997, amt_tt)).cast("long").alias("s2_tt"),
        )
    )
    return folded.filter(
        (F.col("cnt1") >= 1)
        & (F.col("cnt2") >= 1)
        & (F.col("cnt2") <= F.col("cnt1"))
    ).select(
        "item", "brand", "cust_nation", "supp_nation",
        "cnt1", "cnt2", "s1_tt", "s2_tt",
    )


# --- TPC-DS q11/q4 shape: per-customer YoY growth compared across channels -


@register(
    "tpcds_q11_customer_yoy",
    f"""
    WITH per AS (
      SELECT o_custkey, {_CHANNEL_SQL} AS channel,
             CAST(year(l_shipdate) AS INT) AS d_year,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS s_tt
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE year(l_shipdate) IN (1996, 1997) AND {_CHANNEL_SQL} <> 'catalog'
      GROUP BY 1, 2, 3
    ), four AS (
      SELECT o_custkey,
             CAST(sum(CASE WHEN channel = 'store' AND d_year = 1996
                      THEN s_tt END) AS BIGINT) AS s_first,
             CAST(sum(CASE WHEN channel = 'store' AND d_year = 1997
                      THEN s_tt END) AS BIGINT) AS s_second,
             CAST(sum(CASE WHEN channel = 'web' AND d_year = 1996
                      THEN s_tt END) AS BIGINT) AS w_first,
             CAST(sum(CASE WHEN channel = 'web' AND d_year = 1997
                      THEN s_tt END) AS BIGINT) AS w_second
      FROM per GROUP BY o_custkey
    )
    SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
           round(CAST(w_second AS DOUBLE) / w_first, 4) AS web_ratio,
           round(CAST(s_second AS DOUBLE) / s_first, 4) AS store_ratio
    FROM four JOIN customer ON o_custkey = c_custkey
    WHERE s_first > 0 AND w_first > 0
      AND CAST(w_second AS DOUBLE) / w_first
            > CAST(s_second AS DOUBLE) / s_first
    """,
)
def tpcds_q11_customer_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 11 / 4 (queries/11.sql, 04.sql): customers whose WEB
    spending grew faster year-over-year than their STORE spending. The
    reference materializes a year_total CTE and self-joins it four
    times; here one (customer, channel, year) aggregate pivots to four
    cells via conditional aggregation — a single fact shuffle on
    customer instead of four CTE re-joins — then the broadcast customer
    dim supplies display attributes. NULL cells (customer absent in a
    channel-year) fail the > comparison exactly as the reference's
    inner self-joins drop them."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    per = (
        li.join(cat.read("orders"), li.l_orderkey == F.col("o_orderkey"))
        .filter(F.year("l_shipdate").isin(1996, 1997))
        .filter(_channel_col() != "catalog")
        .groupBy(
            "o_custkey",
            _channel_col().alias("channel"),
            F.year("l_shipdate").cast("int").alias("d_year"),
        )
        .agg(F.round(F.sum(_amt()) * 10000, 0).cast("long").alias("s_tt"))
    )
    cell = lambda ch, y: F.sum(  # noqa: E731
        F.when((F.col("channel") == ch) & (F.col("d_year") == y), F.col("s_tt"))
    ).cast("long")
    four = per.groupBy("o_custkey").agg(
        cell("store", 1996).alias("s_first"),
        cell("store", 1997).alias("s_second"),
        cell("web", 1996).alias("w_first"),
        cell("web", 1997).alias("w_second"),
    )
    wr = F.col("w_second").cast("double") / F.col("w_first")
    sr = F.col("s_second").cast("double") / F.col("s_first")
    cust = cat.read("customer")
    return (
        four.filter((F.col("s_first") > 0) & (F.col("w_first") > 0) & (wr > sr))
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .select(
            "c_name",
            F.col("c_custkey").cast("long").alias("c_custkey"),
            F.round(wr, 4).alias("web_ratio"),
            F.round(sr, 4).alias("store_ratio"),
        )
    )


# --- TPC-DS q25 shape: sale -> return -> repurchase multi-fact chain -------


@register(
    "tpcds_q25_sale_return_repurchase",
    f"""
    WITH f AS (
      SELECT o_custkey AS ck, n_name,
             l_returnflag AS rf, {_CHANNEL_SQL} AS ch,
             CAST(year(l_shipdate) * 12 + month(l_shipdate) AS INT) AS ym,
             l_extendedprice * (1 - l_discount) AS amt
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    ), s AS (
      SELECT ck, n_name, ym, amt FROM f
      WHERE ch = 'store' AND rf <> 'R' AND ym BETWEEN 1997*12+1 AND 1997*12+12
    ), r AS (
      SELECT ck, ym, amt FROM f WHERE rf = 'R'
    ), c2 AS (
      SELECT ck, ym, amt FROM f WHERE ch = 'catalog' AND rf <> 'R'
    )
    SELECT s.n_name AS n_name,
           CAST(count(*) AS BIGINT) AS n_chains,
           CAST(sum(CAST(round(s.amt * 10000) AS BIGINT)) AS BIGINT)
             AS store_tt,
           CAST(sum(CAST(round(r.amt * 10000) AS BIGINT)) AS BIGINT)
             AS return_tt,
           CAST(sum(CAST(round(c2.amt * 10000) AS BIGINT)) AS BIGINT)
             AS catalog_tt
    FROM s
      JOIN r ON s.ck = r.ck AND r.ym BETWEEN s.ym AND s.ym + 3
      JOIN c2 ON r.ck = c2.ck AND c2.ym BETWEEN r.ym AND r.ym + 3
    GROUP BY s.n_name
    """,
)
def tpcds_q25_sale_return_repurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-DS 25 (yt/benchmarks/run/queries/25.sql): the multi-fact chain
    family — a store sale, a subsequent return by the same customer
    within 3 months, and a catalog repurchase within 3 months of the
    return, aggregated by customer nation. THREE derivations of the fact
    table join each other on the customer key with event-time window
    residuals: the chain joins are keyed equi-joins (time windows ride
    as residual predicates, never a cross product), so at scale each
    shuffles on customer — bounded by per-customer activity inside the
    window, the same state bound the streaming interval join uses."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    f = (
        li.join(cat.read("orders"), li.l_orderkey == F.col("o_orderkey"))
        .join(
            F.broadcast(cat.read("customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(cat.read("nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("o_custkey").alias("ck"),
            "n_name",
            F.col("l_returnflag").alias("rf"),
            _channel_col().alias("ch"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("int")
            .alias("ym"),
            _amt().alias("amt"),
        )
        # Hash-partition by customer BEFORE the branch filters: both chain
        # joins are keyed on ck, so they inherit this partitioning instead
        # of shuffling each side separately (3 exchange legs, not 4), and
        # the identical orders/customer/nation subtrees dedup via AQE
        # ReuseExchange (12 scans down to 7, measured). The per-branch
        # lineitem filters deliberately PUSH THROUGH the repartition into
        # the scans — s reads one year via l_shipdate row-group stats,
        # r reads only returned rows, c2 only the catalog channel — three
        # selective scans beat one full materialized pass here because
        # the branches' row sets barely overlap (contrast q23, where the
        # union of branch reads is the whole fact and a persist wins).
        .repartition("ck")
    )
    s = f.filter(
        (F.col("ch") == "store")
        & (F.col("rf") != "R")
        & F.col("ym").between(1997 * 12 + 1, 1997 * 12 + 12)
    ).select(
        F.col("ck").alias("s_ck"), "n_name", F.col("ym").alias("s_ym"),
        F.col("amt").alias("s_amt"),
    )
    r = f.filter(F.col("rf") == "R").select(
        F.col("ck").alias("r_ck"), F.col("ym").alias("r_ym"),
        F.col("amt").alias("r_amt"),
    )
    c2 = f.filter((F.col("ch") == "catalog") & (F.col("rf") != "R")).select(
        F.col("ck").alias("c_ck"), F.col("ym").alias("c_ym"),
        F.col("amt").alias("c_amt"),
    )
    chain = (
        s.join(
            r,
            (F.col("s_ck") == F.col("r_ck"))
            & F.col("r_ym").between(F.col("s_ym"), F.col("s_ym") + 3),
        )
        .join(
            c2,
            (F.col("r_ck") == F.col("c_ck"))
            & F.col("c_ym").between(F.col("r_ym"), F.col("r_ym") + 3),
        )
    )
    tt = lambda c: (  # noqa: E731
        F.sum(F.round(F.col(c) * 10000).cast("long")).cast("long")
    )
    return chain.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_chains"),
        tt("s_amt").alias("store_tt"),
        tt("r_amt").alias("return_tt"),
        tt("c_amt").alias("catalog_tt"),
    )


# --- TPC-DS q1 shape: returns above 1.2x the state average -----------------


@register(
    "tpcds_q1_high_returners",
    """
    WITH ctr AS (
      SELECT o_custkey AS cust, c_nationkey AS state,
             sum(l_extendedprice) AS total
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
      WHERE l_returnflag = 'R'
      GROUP BY o_custkey, c_nationkey
    ), avgs AS (
      SELECT state, avg(total) AS st_avg FROM ctr GROUP BY state
    )
    SELECT cust, round(total, 4) AS total
    FROM ctr JOIN avgs USING (state)
    WHERE total > 1.2 * st_avg
    ORDER BY cust LIMIT 100
    """,
)
def tpcds_q1_high_returners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 01 (yt/benchmarks/run/queries/01.sql): customers whose return
    total exceeds 1.2x their state's average. The correlated avg subquery
    re-expresses as a groupBy over the already-aggregated per-customer
    totals joined back — both sides are customer-scale, the state-avg side
    is nation-scale and broadcasts. Derivation: returns = l_returnflag='R',
    state = the customer's nation."""
    cat = load_tables(spark, sf_dir)
    li, orders, cust = cat.read("lineitem"), cat.read("orders"), cat.read("customer")
    ctr = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("o_custkey").alias("cust"), F.col("c_nationkey").alias("state")
        )
        .agg(F.sum("l_extendedprice").alias("total"))
    )
    avgs = ctr.groupBy("state").agg(F.avg("total").alias("st_avg"))
    return (
        ctr.join(F.broadcast(avgs), "state")
        .filter(F.col("total") > 1.2 * F.col("st_avg"))
        .select("cust", F.round("total", 4).alias("total"))
        .orderBy("cust")
        .limit(100)
    )


# --- TPC-DS q6 shape: pricey-item buyers by state --------------------------


@register(
    "tpcds_q6_pricey_item_states",
    """
    WITH cat_avg AS (
      SELECT substring(p_brand, 7, 1) AS category,
             avg(p_retailprice) AS ap
      FROM part GROUP BY 1
    )
    SELECT n_name AS state, CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN cat_avg  ON substring(p_brand, 7, 1) = category
    WHERE p_retailprice > 1.03 * ap AND month(o_orderdate) = 3
    GROUP BY n_name HAVING count(*) >= 10
    ORDER BY cnt, state LIMIT 100
    """,
)
def tpcds_q6_pricey_item_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 06 (06.sql): states whose customers bought items priced at
    least 1.03x their category's average, one calendar month. The correlated
    per-category avg is a tiny grouped dim aggregate broadcast back onto
    the part dim BEFORE the fact join — the fact scan meets an already-
    filtered item list (category = first brand digit, month from
    o_orderdate)."""
    cat = load_tables(spark, sf_dir)
    li, part, orders = cat.read("lineitem"), cat.read("part"), cat.read("orders")
    cust, nation = cat.read("customer"), cat.read("nation")
    category = F.substring("p_brand", 7, 1)
    cat_avg = part.groupBy(category.alias("category")).agg(
        F.avg("p_retailprice").alias("ap")
    )
    pricey = (
        part.join(F.broadcast(cat_avg), category == F.col("category"))
        .filter(F.col("p_retailprice") > 1.03 * F.col("ap"))
        .select("p_partkey")
    )
    return (
        li.join(F.broadcast(pricey), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.month("o_orderdate") == 3)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("state"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= 10)
        .orderBy("cnt", "state")
        .limit(100)
    )


# --- TPC-DS q9 shape: quantity-band CASE over conditional aggregates -------


@register(
    "tpcds_q9_quantity_buckets",
    """
    SELECT
      CASE WHEN count(CASE WHEN l_quantity BETWEEN 1 AND 10 THEN 1 END) > 12000
           THEN round(avg(CASE WHEN l_quantity BETWEEN 1 AND 10 THEN l_extendedprice END), 4)
           ELSE round(avg(CASE WHEN l_quantity BETWEEN 1 AND 10 THEN l_discount END), 4) END AS bucket1,
      CASE WHEN count(CASE WHEN l_quantity BETWEEN 11 AND 20 THEN 1 END) > 12000
           THEN round(avg(CASE WHEN l_quantity BETWEEN 11 AND 20 THEN l_extendedprice END), 4)
           ELSE round(avg(CASE WHEN l_quantity BETWEEN 11 AND 20 THEN l_discount END), 4) END AS bucket2,
      CASE WHEN count(CASE WHEN l_quantity BETWEEN 21 AND 30 THEN 1 END) > 12000
           THEN round(avg(CASE WHEN l_quantity BETWEEN 21 AND 30 THEN l_extendedprice END), 4)
           ELSE round(avg(CASE WHEN l_quantity BETWEEN 21 AND 30 THEN l_discount END), 4) END AS bucket3,
      CASE WHEN count(CASE WHEN l_quantity BETWEEN 31 AND 40 THEN 1 END) > 12000
           THEN round(avg(CASE WHEN l_quantity BETWEEN 31 AND 40 THEN l_extendedprice END), 4)
           ELSE round(avg(CASE WHEN l_quantity BETWEEN 31 AND 40 THEN l_discount END), 4) END AS bucket4,
      CASE WHEN count(CASE WHEN l_quantity BETWEEN 41 AND 50 THEN 1 END) > 12000
           THEN round(avg(CASE WHEN l_quantity BETWEEN 41 AND 50 THEN l_extendedprice END), 4)
           ELSE round(avg(CASE WHEN l_quantity BETWEEN 41 AND 50 THEN l_discount END), 4) END AS bucket5
    FROM lineitem
    """,
)
def tpcds_q9_quantity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 09 (09.sql): five CASE buckets each choosing between two
    statistics of a quantity band. The reference query runs 15 scalar
    subqueries (3 per bucket) over the same fact; here all 30 conditional
    aggregates fold into ONE scan + ONE partial/final aggregate — the
    single-pass rewrite matters at 100 TB where 15 fact rescans would be
    the whole query cost."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    cols = []
    for i, (lo, hi) in enumerate([(1, 10), (11, 20), (21, 30), (31, 40), (41, 50)], 1):
        band = F.col("l_quantity").between(lo, hi)
        cols.append(
            F.when(
                F.count(F.when(band, 1)) > 12000,
                F.round(F.avg(F.when(band, F.col("l_extendedprice"))), 4),
            )
            .otherwise(F.round(F.avg(F.when(band, F.col("l_discount"))), 4))
            .alias(f"bucket{i}")
        )
    return li.agg(*cols)


# --- TPC-DS q41 shape: dim-only EXISTS self-join with disjunctive bands ----


@register(
    "tpcds_q41_manufact_exists",
    """
    SELECT DISTINCT p1.p_name AS product_name
    FROM part p1
    WHERE p1.p_partkey BETWEEN 100 AND 400
      AND EXISTS (
        SELECT 1 FROM part p2
        WHERE p2.p_size % 10 = p1.p_size % 10
          AND ((p2.p_type = 'ECONOMY'  AND p2.p_size BETWEEN 1  AND 5)
            OR (p2.p_type = 'PROMO'    AND p2.p_size BETWEEN 10 AND 15)
            OR (p2.p_type = 'STANDARD' AND p2.p_size BETWEEN 20 AND 25)))
    ORDER BY product_name LIMIT 100
    """,
)
def tpcds_q41_manufact_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 41 (41.sql): distinct product names whose manufacturer also
    makes items matching any of several attribute bands — an EXISTS
    self-join on the item dim with a heavy OR predicate. The inner side
    filters FIRST, collapses to distinct manufacturer ids (10 values),
    and semi-joins broadcast — the disjunction never touches a fact table.
    Derivation: manufact = p_size % 10, class bands from p_type."""
    cat = load_tables(spark, sf_dir)
    part = cat.read("part")
    manufact = (F.col("p_size") % 10).alias("manufact")
    inner = (
        part.filter(
            ((F.col("p_type") == "ECONOMY") & F.col("p_size").between(1, 5))
            | ((F.col("p_type") == "PROMO") & F.col("p_size").between(10, 15))
            | ((F.col("p_type") == "STANDARD") & F.col("p_size").between(20, 25))
        )
        .select(manufact)
        .distinct()
    )
    return (
        part.filter(F.col("p_partkey").between(100, 400))
        .withColumn("manufact", F.col("p_size") % 10)
        .join(F.broadcast(inner), "manufact", "left_semi")
        .select(F.col("p_name").alias("product_name"))
        .distinct()
        .orderBy("product_name")
        .limit(100)
    )


# --- TPC-DS q44 shape: best/worst items paired by rank position ------------


@register(
    "tpcds_q44_best_worst",
    f"""
    WITH perf AS (
      SELECT {_CHANNEL_SQL} AS channel, l_partkey AS item,
             avg(l_extendedprice * (1 - l_discount)) AS a
      FROM lineitem GROUP BY 1, 2
    ), ranked AS (
      SELECT channel, item,
             row_number() OVER (PARTITION BY channel ORDER BY a ASC,  item) AS r_asc,
             row_number() OVER (PARTITION BY channel ORDER BY a DESC, item DESC) AS r_desc
      FROM perf
    )
    SELECT b.channel, CAST(b.r_asc AS BIGINT) AS pos,
           b.item AS worst_item, w.item AS best_item
    FROM ranked b JOIN ranked w
      ON b.channel = w.channel AND b.r_asc = w.r_desc
    WHERE b.r_asc <= 10
    ORDER BY b.channel, pos
    """,
)
def tpcds_q44_best_worst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 44 (44.sql): pair the 10 best- and 10 worst-performing items
    position-by-position — two opposite-direction rankings of the same
    per-item aggregate self-joined on rank. Ranks partition by channel
    (never global) over item-scale aggregates; the rank<=10 filter makes
    the join sides 10 rows each per channel."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    perf = li.groupBy(_channel_col().alias("channel"), F.col("l_partkey").alias("item")).agg(
        F.avg(_amt()).alias("a")
    )
    w_asc = W.partitionBy("channel").orderBy(F.col("a").asc(), F.col("item").asc())
    w_desc = W.partitionBy("channel").orderBy(F.col("a").desc(), F.col("item").desc())
    ranked = perf.select(
        "channel", "item",
        F.row_number().over(w_asc).cast("long").alias("r_asc"),
        F.row_number().over(w_desc).cast("long").alias("r_desc"),
    )
    b = ranked.alias("b")
    w = ranked.alias("w")
    return (
        b.filter(F.col("r_asc") <= 10)
        .join(
            w,
            (F.col("b.channel") == F.col("w.channel"))
            & (F.col("b.r_asc") == F.col("w.r_desc")),
        )
        .select(
            F.col("b.channel").alias("channel"),
            F.col("b.r_asc").alias("pos"),
            F.col("b.item").alias("worst_item"),
            F.col("w.item").alias("best_item"),
        )
        .orderBy("channel", "pos")
    )


# --- TPC-DS q50 shape: sale-to-return latency band matrix ------------------


@register(
    "tpcds_q50_return_latency",
    """
    SELECT n_name AS state,
      CAST(count(CASE WHEN d <= 30 THEN 1 END) AS BIGINT)               AS d30,
      CAST(count(CASE WHEN d BETWEEN 31  AND 60  THEN 1 END) AS BIGINT) AS d60,
      CAST(count(CASE WHEN d BETWEEN 61  AND 90  THEN 1 END) AS BIGINT) AS d90,
      CAST(count(CASE WHEN d BETWEEN 91  AND 120 THEN 1 END) AS BIGINT) AS d120,
      CAST(count(CASE WHEN d > 120 THEN 1 END) AS BIGINT)               AS dmore
    FROM (
      SELECT c_nationkey,
             date_diff('day', o_orderdate::date, l_shipdate::date) AS d
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
      WHERE l_returnflag = 'R'
    ) t JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY state
    """,
)
def tpcds_q50_return_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 50 (50.sql): how long returns take, bucketed 30/60/90/120/120+
    days — a returns-to-sales join banded into a count matrix. Derivation:
    the return event date = l_shipdate of the 'R' line, the sale date =
    o_orderdate; the band CASEs are conditional counts in ONE aggregate
    (the reference query's five scalar sums over the same join, fused)."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    cust, nation = cat.read("customer"), cat.read("nation")
    t = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("d"),
        )
    )
    band = lambda c: F.count(F.when(c, 1)).cast("long")  # noqa: E731
    return (
        t.groupBy(F.col("n_name").alias("state"))
        .agg(
            band(F.col("d") <= 30).alias("d30"),
            band(F.col("d").between(31, 60)).alias("d60"),
            band(F.col("d").between(61, 90)).alias("d90"),
            band(F.col("d").between(91, 120)).alias("d120"),
            band(F.col("d") > 120).alias("dmore"),
        )
        .orderBy("state")
    )


# --- TPC-DS q66 shape: monthly pivot over two unioned channel facts --------


@register(
    "tpcds_q66_monthly_pivot",
    f"""
    WITH facts AS (
      SELECT s_nationkey AS wh, year(o_orderdate) AS y,
             month(o_orderdate) AS m,
             l_extendedprice * (1 - l_discount) AS amt
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
      WHERE {_CHANNEL_SQL} = 'store'
      UNION ALL
      SELECT s_nationkey, year(o_orderdate), month(o_orderdate),
             l_extendedprice * (1 + l_tax)
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
      WHERE {_CHANNEL_SQL} = 'web'
    )
    SELECT wh, CAST(y AS INT) AS y,
           round(sum(CASE WHEN m = 1  THEN amt ELSE 0 END), 4) AS jan,
           round(sum(CASE WHEN m = 2  THEN amt ELSE 0 END), 4) AS feb,
           round(sum(CASE WHEN m = 3  THEN amt ELSE 0 END), 4) AS mar,
           round(sum(CASE WHEN m = 4  THEN amt ELSE 0 END), 4) AS apr,
           round(sum(CASE WHEN m = 5  THEN amt ELSE 0 END), 4) AS may,
           round(sum(CASE WHEN m = 6  THEN amt ELSE 0 END), 4) AS jun,
           round(sum(CASE WHEN m = 7  THEN amt ELSE 0 END), 4) AS jul,
           round(sum(CASE WHEN m = 8  THEN amt ELSE 0 END), 4) AS aug,
           round(sum(CASE WHEN m = 9  THEN amt ELSE 0 END), 4) AS sep,
           round(sum(CASE WHEN m = 10 THEN amt ELSE 0 END), 4) AS oct,
           round(sum(CASE WHEN m = 11 THEN amt ELSE 0 END), 4) AS nov,
           round(sum(CASE WHEN m = 12 THEN amt ELSE 0 END), 4) AS dec
    FROM facts GROUP BY wh, y ORDER BY wh, y
    """,
)
def tpcds_q66_monthly_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 66 (66.sql): warehouse shipping report — 12 monthly sums
    pivoted into columns, over a UNION ALL of two channel facts with
    DIFFERENT amount expressions (net for store, tax-inclusive for web).
    Warehouse = supplier nation. Both branches share one scan via exchange
    reuse; the pivot is conditional aggregation, not 12 passes."""
    cat = load_tables(spark, sf_dir)
    li, orders, sup = cat.read("lineitem"), cat.read("orders"), cat.read("supplier")
    base = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(sup), li.l_suppkey == sup.s_suppkey
    )
    ch = _channel_col()
    store = base.filter(ch == "store").select(
        F.col("s_nationkey").alias("wh"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        _amt().alias("amt"),
    )
    web = base.filter(ch == "web").select(
        F.col("s_nationkey").alias("wh"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        (F.col("l_extendedprice") * (1 + F.col("l_tax"))).alias("amt"),
    )
    facts = store.unionAll(web)
    months = ["jan", "feb", "mar", "apr", "may", "jun",
              "jul", "aug", "sep", "oct", "nov", "dec"]
    aggs = [
        F.round(F.sum(F.when(F.col("m") == i + 1, F.col("amt")).otherwise(0.0)), 4).alias(name)
        for i, name in enumerate(months)
    ]
    return facts.groupBy("wh", "y").agg(*aggs).orderBy("wh", "y")


# --- TPC-DS q70 shape: rank within ROLLUP strata ---------------------------


@register(
    "tpcds_q70_rollup_rank",
    """
    WITH base AS (
      SELECT r_name AS region, n_name AS state,
             l_extendedprice * (1 - l_discount) AS amt
      FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
    ), agg AS (
      SELECT region, state, round(sum(amt), 4) AS total,
             CAST(GROUPING(region) + GROUPING(state) AS BIGINT) AS lochier
      FROM base GROUP BY ROLLUP(region, state)
    )
    SELECT region, state, total, lochier,
           CAST(row_number() OVER (
             PARTITION BY lochier, CASE WHEN lochier = 0 THEN region END
             ORDER BY total DESC, coalesce(state, ''), coalesce(region, '')
           ) AS BIGINT) AS rank_in_parent
    FROM agg
    ORDER BY lochier DESC, coalesce(region, ''), rank_in_parent
    """,
)
def tpcds_q70_rollup_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 70 (70.sql): sales hierarchy report ranking each state within
    its region stratum of a ROLLUP — a window over grouping-set output,
    partitioned by (grouping level, parent) so subtotal rows rank against
    subtotal rows only. The window input is the ROLLUP aggregate
    (dim-scale), never the fact."""
    cat = load_tables(spark, sf_dir)
    li, sup = cat.read("lineitem"), cat.read("supplier")
    nation, region = cat.read("nation"), cat.read("region")
    base = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("state"),
            _amt().alias("amt"),
        )
    )
    agg = base.rollup("region", "state").agg(
        F.round(F.sum("amt"), 4).alias("total"),
        (F.grouping("region") + F.grouping("state")).cast("long").alias("lochier"),
    )
    w = W.partitionBy(
        "lochier", F.when(F.col("lochier") == 0, F.col("region"))
    ).orderBy(
        F.col("total").desc(),
        F.coalesce(F.col("state"), F.lit("")),
        F.coalesce(F.col("region"), F.lit("")),
    )
    return agg.select(
        "region", "state", "total", "lochier",
        F.row_number().over(w).cast("long").alias("rank_in_parent"),
    ).orderBy(
        F.col("lochier").desc(), F.coalesce(F.col("region"), F.lit("")), "rank_in_parent"
    )


# --- TPC-DS q76 shape: null-key facts per channel, unioned -----------------


@register(
    "tpcds_q76_null_keys",
    f"""
    WITH f AS (
      SELECT {_CHANNEL_SQL} AS channel, year(l_shipdate) AS y,
             l_extendedprice AS amt,
             NULLIF(l_suppkey  % 7, 0) AS sk,
             NULLIF(l_partkey  % 5, 0) AS pk,
             NULLIF(l_orderkey % 3, 0) AS ok
      FROM lineitem
    )
    SELECT channel, CAST(y AS INT) AS y,
           CAST(count(*) AS BIGINT) AS cnt, round(sum(amt), 4) AS total
    FROM (
      SELECT channel, y, amt FROM f WHERE channel = 'store'   AND sk IS NULL
      UNION ALL
      SELECT channel, y, amt FROM f WHERE channel = 'catalog' AND pk IS NULL
      UNION ALL
      SELECT channel, y, amt FROM f WHERE channel = 'web'     AND ok IS NULL
    ) u GROUP BY channel, y ORDER BY channel, y
    """,
)
def tpcds_q76_null_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 76 (76.sql): counts/sums of fact rows whose dim key is NULL,
    a different key per channel, UNION ALLed then re-aggregated. The
    fixture has no null keys, so the derivation manufactures them
    deterministically (NULLIF of a modulus). The oracle keeps the UNION
    spelling; the Spark plan folds the branches — they are DISJOINT on
    channel and the aggregate groups by channel, so the union is one
    filter with the per-channel predicates ORed (one scan, the three
    pushed IS NULL scans of the union form measured in the round-6
    audit)."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    f = li.select(
        _channel_col().alias("channel"),
        F.year("l_shipdate").alias("y"),
        F.col("l_extendedprice").alias("amt"),
        F.nullif(F.col("l_suppkey") % 7, F.lit(0)).alias("sk"),
        F.nullif(F.col("l_partkey") % 5, F.lit(0)).alias("pk"),
        F.nullif(F.col("l_orderkey") % 3, F.lit(0)).alias("ok"),
    )
    cond = (
        ((F.col("channel") == "store") & F.col("sk").isNull())
        | ((F.col("channel") == "catalog") & F.col("pk").isNull())
        | ((F.col("channel") == "web") & F.col("ok").isNull())
    )
    return (
        f.filter(cond)
        .groupBy("channel", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.round(F.sum("amt"), 4).alias("total"),
        )
        .orderBy("channel", "y")
    )


# --- TPC-DS q87 shape: EXCEPT chain of channel customer sets ---------------


@register(
    "tpcds_q87_except_chain",
    f"""
    WITH store_c AS (
      SELECT DISTINCT o_custkey AS c, o_orderdate::date AS d FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey WHERE {_CHANNEL_SQL} = 'store'
    ), catalog_c AS (
      SELECT DISTINCT o_custkey AS c, o_orderdate::date AS d FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey WHERE {_CHANNEL_SQL} = 'catalog'
    ), web_c AS (
      SELECT DISTINCT o_custkey AS c, o_orderdate::date AS d FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey WHERE {_CHANNEL_SQL} = 'web'
    ), only_store AS (
      SELECT c, d FROM store_c EXCEPT SELECT c, d FROM catalog_c
      EXCEPT SELECT c, d FROM web_c
    )
    SELECT n_name AS state, CAST(count(*) AS BIGINT) AS n
    FROM only_store JOIN customer ON c = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY state
    """,
)
def tpcds_q87_except_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 87 (87.sql): customers present in one channel and absent from
    the other two, at (customer, order-day) granularity mirroring the reference's (name, d_date) tuples — a set-difference CHAIN (EXCEPT is left-deep, so order
    matters), then a dim rollup of the survivors (the oracle keeps the
    EXCEPT spelling). The Spark plan folds the whole chain into ONE
    (customer, day) aggregate of per-channel presence flags — present in
    store and absent everywhere else — one fact scan and one shuffle
    versus a scan per set-op branch; equivalent because the EXCEPT
    operands are distinct sets of the same grain."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    cust, nation = cat.read("customer"), cat.read("nation")
    base = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        _channel_col().alias("channel"),
        F.col("o_custkey").alias("c"),
        F.to_date("o_orderdate").alias("d"),
    )
    flag = lambda ch: F.max((F.col("channel") == ch).cast("int"))  # noqa: E731
    only_store = (
        base.groupBy("c", "d")
        .agg(
            flag("store").alias("__s"),
            flag("catalog").alias("__c"),
            flag("web").alias("__w"),
        )
        .filter((F.col("__s") == 1) & (F.col("__c") == 0) & (F.col("__w") == 0))
        .select("c", "d")
    )
    return (
        only_store.join(F.broadcast(cust), F.col("c") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("state"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("state")
    )


# --- TPC-DS q93 shape: net sales after partial returns ---------------------


@register(
    "tpcds_q93_net_after_returns",
    """
    SELECT o_custkey AS cust,
           round(sum(CASE WHEN l_returnflag = 'R' AND l_linenumber % 5 = 2
                          THEN l_extendedprice
                               * (l_quantity - floor(l_quantity / 2))
                               / l_quantity
                          ELSE l_extendedprice END), 4) AS act_sales
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_custkey
    ORDER BY act_sales, cust LIMIT 100
    """,
)
def tpcds_q93_net_after_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 93 (93.sql): actual per-customer sales after subtracting the
    returned portion of each line (a returns join with a quantity
    adjustment for one return reason). Derivation: the 'return' rows are
    the R-flagged lines with reason = l_linenumber%5==2, returning half
    the quantity. One fact-orders join, one aggregate, top-k."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    adj = F.when(
        (F.col("l_returnflag") == "R") & (F.col("l_linenumber") % 5 == 2),
        F.col("l_extendedprice")
        * (F.col("l_quantity") - F.floor(F.col("l_quantity") / 2))
        / F.col("l_quantity"),
    ).otherwise(F.col("l_extendedprice"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(F.round(F.sum(adj), 4).alias("act_sales"))
        .orderBy("act_sales", "cust")
        .limit(100)
    )


# --- TPC-DS q95 shape: multi-supplier returned web orders ------------------


@register(
    "tpcds_q95_multi_warehouse",
    f"""
    WITH ws AS (
      SELECT l_orderkey, l_suppkey, l_extendedprice
      FROM lineitem WHERE {_CHANNEL_SQL} = 'web'
    ), multi AS (
      SELECT l_orderkey FROM ws
      GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) > 1
    ), returned AS (
      SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    )
    SELECT CAST(count(DISTINCT w.l_orderkey) AS BIGINT) AS n_orders,
           round(sum(l_extendedprice), 4) AS total
    FROM ws w
      JOIN multi    USING (l_orderkey)
      JOIN returned USING (l_orderkey)
    """,
)
def tpcds_q95_multi_warehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 95 (95.sql): web orders shipped from more than one warehouse
    that also have a return — two semi-join-shaped subqueries (a grouped
    HAVING on distinct suppliers ≈ the self-join EXISTS, and a distinct
    returns set) gating the fact aggregate. Both gates are order-scale
    key sets. The web slice folds to ONE order-grain aggregate carrying
    both the distinct-supplier count AND the order total, so the final
    sum runs over order-level partials instead of re-scanning the slice
    (round-6 audit: the ws branch was scanned twice); the returns scan
    stays separate because it is the selective R-rows slice."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    per_order = (
        li.filter(_channel_col() == "web")
        .groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("ns"),
            F.sum("l_extendedprice").alias("ototal"),
        )
    )
    returned = (
        li.filter(F.col("l_returnflag") == "R").select("l_orderkey").distinct()
    )
    return (
        per_order.filter(F.col("ns") > 1)
        .join(returned, "l_orderkey", "left_semi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("ototal"), 4).alias("total"),
        )
    )


# --- TPC-DS q97 shape: FULL OUTER channel-overlap matrix -------------------


@register(
    "tpcds_q97_channel_overlap",
    f"""
    WITH s AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS i
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE {_CHANNEL_SQL} = 'store'
    ), w AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS i
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE {_CHANNEL_SQL} = 'web'
    )
    SELECT
      CAST(sum(CASE WHEN s.c IS NOT NULL AND w.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
      CAST(sum(CASE WHEN s.c IS NULL AND w.c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS web_only,
      CAST(sum(CASE WHEN s.c IS NOT NULL AND w.c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both_channels
    FROM s FULL OUTER JOIN w ON s.c = w.c AND s.i = w.i
    """,
)
def tpcds_q97_channel_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 97 (97.sql): how many (customer, item) pairs bought in store
    only / web only / both — a FULL OUTER join of two distinct pair sets
    collapsed to a 3-cell matrix with null-sentinel CASE counts. The
    full-outer runs as one shuffle on (c, i); both inputs share the fact
    scan."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    base = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        _channel_col().alias("channel"),
        F.col("o_custkey").alias("c"),
        F.col("l_partkey").alias("i"),
    )
    s = base.filter(F.col("channel") == "store").select("c", "i").distinct().alias("s")
    w = base.filter(F.col("channel") == "web").select("c", "i").distinct().alias("w")
    j = s.join(
        w, (F.col("s.c") == F.col("w.c")) & (F.col("s.i") == F.col("w.i")), "full_outer"
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return j.agg(
        cnt(F.col("s.c").isNotNull() & F.col("w.c").isNull()).alias("store_only"),
        cnt(F.col("s.c").isNull() & F.col("w.c").isNotNull()).alias("web_only"),
        cnt(F.col("s.c").isNotNull() & F.col("w.c").isNotNull()).alias("both_channels"),
    )


# --- TPC-DS q48 shape: disjunctive band filter across joins ----------------


@register(
    "tpcds_q48_band_disjunction",
    """
    SELECT CAST(round(sum(l_quantity), 0) AS BIGINT) AS qty
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE ((c_mktsegment = 'BUILDING'
            AND l_quantity BETWEEN 1 AND 20
            AND o_totalprice BETWEEN 1000 AND 100000)
        OR (c_mktsegment = 'MACHINERY'
            AND l_quantity BETWEEN 10 AND 30
            AND o_totalprice BETWEEN 2000 AND 200000)
        OR (c_mktsegment = 'AUTOMOBILE'
            AND l_quantity BETWEEN 20 AND 40
            AND o_totalprice BETWEEN 3000 AND 300000))
      AND n_name IN ('FRANCE', 'GERMANY', 'CANADA', 'KENYA', 'JAPAN')
    """,
)
def tpcds_q48_band_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 48 (48.sql): one big quantity sum gated by a three-arm
    disjunction that correlates a dim attribute (segment) with fact bands
    (quantity, order total) — the shape that tests OR-predicate pushdown
    across a join. The residual OR evaluates post-join in the codegen
    stage; the nation IN-list prunes via the broadcast dim."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    cust, nation = cat.read("customer"), cat.read("nation")
    arm = lambda seg, qlo, qhi, tlo, thi: (  # noqa: E731
        (F.col("c_mktsegment") == seg)
        & F.col("l_quantity").between(qlo, qhi)
        & F.col("o_totalprice").between(tlo, thi)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .filter(
            (
                arm("BUILDING", 1, 20, 1000, 100000)
                | arm("MACHINERY", 10, 30, 2000, 200000)
                | arm("AUTOMOBILE", 20, 40, 3000, 300000)
            )
            & F.col("n_name").isin("FRANCE", "GERMANY", "CANADA", "KENYA", "JAPAN")
        )
        .agg(F.round(F.sum("l_quantity"), 0).cast("long").alias("qty"))
    )


# --- TPC-DS q8 shape: literal-list INTERSECT subquery gating a dim ---------


@register(
    "tpcds_q8_preferred_zips",
    """
    WITH preferred AS (
      SELECT c_nationkey AS zip FROM customer
      WHERE c_acctbal > 5000 GROUP BY c_nationkey HAVING count(*) > 10
    ), zips AS (
      SELECT * FROM (VALUES (1),(3),(5),(7),(9),(11),(13),(15),(17),(19),(21),(23)) AS t(zip)
      INTERSECT SELECT zip FROM preferred
    )
    SELECT s_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS net_sales
    FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN zips ON s_nationkey = zip
    WHERE l_linenumber % 3 = 0
    GROUP BY s_name
    """,
)
def tpcds_q8_preferred_zips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 08 (yt/benchmarks/run/queries/08.sql): store sales for
    suppliers located in zips that are BOTH in a literal list AND have
    enough preferred customers — a literal-VALUES set INTERSECTed with an
    aggregated subquery, then used as a semi-join gate. zip := supplier
    nation (fixture has no address column). The INTERSECT runs over two
    tiny sets and broadcasts into the fact scan."""
    cat = load_tables(spark, sf_dir)
    li, supp, cust = cat.read("lineitem"), cat.read("supplier"), cat.read("customer")
    literal = spark.range(1, 24, 2).select(F.col("id").cast("int").alias("zip"))
    preferred = (
        cust.filter(F.col("c_acctbal") > 5000)
        .groupBy(F.col("c_nationkey").alias("zip"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 10)
        .select("zip")
    )
    zips = literal.intersect(preferred)
    return (
        li.filter(F.col("l_linenumber") % 3 == 0)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(zips), supp.s_nationkey == F.col("zip"))
        .groupBy("s_name")
        .agg(F.round(F.sum(_amt()), 4).alias("net_sales"))
    )


# --- TPC-DS q21 shape: before/after date-split ratio band ------------------


@register(
    "tpcds_q21_before_after_ratio",
    """
    WITH inv AS (
      SELECT s_name,
             sum(CASE WHEN l_shipdate <  TIMESTAMP '1997-06-17' THEN l_quantity ELSE 0 END) AS inv_before,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-06-17' THEN l_quantity ELSE 0 END) AS inv_after
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE l_shipdate BETWEEN TIMESTAMP '1997-04-17' AND TIMESTAMP '1997-08-17'
      GROUP BY s_name
    )
    SELECT s_name, CAST(inv_before AS BIGINT) AS inv_before,
           CAST(inv_after AS BIGINT) AS inv_after
    FROM inv
    WHERE inv_before > 0 AND inv_after / inv_before BETWEEN 2.0/3.0 AND 3.0/2.0
    """,
)
def tpcds_q21_before_after_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 21 (21.sql): warehouses whose inventory within ±2 months of
    an event date stayed within a 2/3..3/2 before/after ratio. Inventory
    := summed ship quantity per supplier; the date split folds into two
    conditional sums over ONE scan (no self-join), the ratio band is a
    post-aggregate HAVING."""
    cat = load_tables(spark, sf_dir)
    li, supp = cat.read("lineitem"), cat.read("supplier")
    pivot = "1997-06-17"
    inv = (
        li.filter(F.col("l_shipdate").between("1997-04-17", "1997-08-17"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.sum(
                F.when(F.col("l_shipdate") < pivot, F.col("l_quantity")).otherwise(0.0)
            ).alias("inv_before"),
            F.sum(
                F.when(F.col("l_shipdate") >= pivot, F.col("l_quantity")).otherwise(0.0)
            ).alias("inv_after"),
        )
    )
    return (
        inv.filter(
            (F.col("inv_before") > 0)
            & (F.col("inv_after") / F.col("inv_before")).between(2.0 / 3.0, 3.0 / 2.0)
        )
        .select(
            "s_name",
            F.col("inv_before").cast("long").alias("inv_before"),
            F.col("inv_after").cast("long").alias("inv_after"),
        )
    )


# --- TPC-DS q32 shape: correlated per-item average gating the fact ---------


@register(
    "tpcds_q32_excess_discount",
    """
    WITH item_avg AS (
      SELECT l_partkey AS pk, avg(l_discount) AS ad FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l_extendedprice), 4) AS excess
    FROM lineitem JOIN item_avg ON l_partkey = pk
    WHERE l_discount > 1.3 * ad
    """,
)
def tpcds_q32_excess_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 32 (32.sql): "excess discount" — revenue of fact rows whose
    discount exceeds 1.3x the per-item average, the correlated-scalar-
    subquery-in-WHERE shape. Decorrelated into a per-item aggregate
    joined back on the item key: one shuffle for the avg, one equi-join
    (AQE picks broadcast when the item side is small)."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    item_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_discount").alias("ad")
    )
    return (
        li.join(item_avg, li.l_partkey == item_avg.pk)
        .filter(F.col("l_discount") > 1.3 * F.col("ad"))
        .agg(F.round(F.sum("l_extendedprice"), 4).alias("excess"))
    )


# --- TPC-DS q38 shape: INTERSECT of customers across all channels ----------


@register(
    "tpcds_q38_channel_intersect",
    """
    WITH s AS (SELECT DISTINCT o_custkey AS ck FROM orders JOIN lineitem ON o_orderkey = l_orderkey
               WHERE l_linenumber % 3 = 0),
         c AS (SELECT DISTINCT o_custkey AS ck FROM orders JOIN lineitem ON o_orderkey = l_orderkey
               WHERE l_linenumber % 3 = 1),
         w AS (SELECT DISTINCT o_custkey AS ck FROM orders JOIN lineitem ON o_orderkey = l_orderkey
               WHERE l_linenumber % 3 = 2)
    SELECT CAST(count(*) AS BIGINT) AS omni_customers
    FROM (SELECT ck FROM s INTERSECT SELECT ck FROM c INTERSECT SELECT ck FROM w) t
    """,
)
def tpcds_q38_channel_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 38 (38.sql): count of customers who bought through ALL three
    channels — the INTERSECT-of-distinct-sets counterpart to q87's EXCEPT
    chain (the oracle keeps the INTERSECT spelling). The Spark plan is
    the single-pass decorrelation: one per-customer aggregate counting
    distinct channels == 3 — one fact scan and one shuffle, where the
    set-op form scanned the join once per branch."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    omni = (
        j.groupBy(F.col("o_custkey").alias("ck"))
        .agg(F.countDistinct(F.col("l_linenumber") % 3).alias("__nch"))
        .filter(F.col("__nch") == 3)
    )
    return omni.agg(F.count(F.lit(1)).cast("long").alias("omni_customers"))


# --- TPC-DS q40 shape: returns-netted before/after pivot -------------------


@register(
    "tpcds_q40_net_before_after",
    """
    SELECT n_name,
           round(sum(CASE WHEN l_shipdate <  TIMESTAMP '1997-06-17' THEN net ELSE 0 END), 4) AS before_amt,
           round(sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-06-17' THEN net ELSE 0 END), 4) AS after_amt
    FROM (
      SELECT l_shipdate, l_suppkey,
             CASE WHEN l_returnflag = 'R' THEN -l_extendedprice ELSE l_extendedprice END AS net
      FROM lineitem
      WHERE l_shipdate BETWEEN TIMESTAMP '1997-04-17' AND TIMESTAMP '1997-08-17'
    ) f
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def tpcds_q40_net_before_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 40 (40.sql): net sales (returns subtracted) by warehouse
    location before vs after an event date. Returns net in as a sign flip
    of the same scan (no returns-table join), the date pivot is a pair of
    conditional sums — one fact pass, two broadcast dims."""
    cat = load_tables(spark, sf_dir)
    li, supp, nation = cat.read("lineitem"), cat.read("supplier"), cat.read("nation")
    pivot = "1997-06-17"
    f = li.filter(F.col("l_shipdate").between("1997-04-17", "1997-08-17")).select(
        "l_shipdate",
        "l_suppkey",
        F.when(F.col("l_returnflag") == "R", -F.col("l_extendedprice"))
        .otherwise(F.col("l_extendedprice"))
        .alias("net"),
    )
    return (
        f.join(F.broadcast(supp), f.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.when(F.col("l_shipdate") < pivot, F.col("net")).otherwise(0.0)), 4
            ).alias("before_amt"),
            F.round(
                F.sum(F.when(F.col("l_shipdate") >= pivot, F.col("net")).otherwise(0.0)), 4
            ).alias("after_amt"),
        )
    )


# --- TPC-DS q45 shape: OR between a dim predicate and a subquery IN --------


@register(
    "tpcds_q45_zip_or_itemset",
    """
    SELECT c_nationkey AS zip, round(sum(l_extendedprice * (1 - l_discount)), 4) AS web_sales
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
    WHERE l_linenumber % 3 = 2
      AND (c_nationkey IN (2, 4, 6, 8, 10)
           OR l_partkey IN (SELECT p_partkey FROM part WHERE p_size IN (1, 2, 3)))
    GROUP BY c_nationkey
    """,
)
def tpcds_q45_zip_or_itemset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 45 (45.sql): web sales by zip where the customer zip is in a
    literal list OR the item is in a subquery set — the disjunction that
    defeats plain semi-join pushdown. Decorrelated as a broadcast LEFT
    join against the (unique-key) item set producing a membership flag,
    then a residual OR filter; the fact table is scanned once and never
    shuffled for the membership test."""
    cat = load_tables(spark, sf_dir)
    li, orders, cust = cat.read("lineitem"), cat.read("orders"), cat.read("customer")
    part = cat.read("part")
    itemset = (
        part.filter(F.col("p_size").isin(1, 2, 3))
        .select(F.col("p_partkey").alias("flag_pk"))
        .withColumn("in_set", F.lit(True))
    )
    return (
        li.filter(F.col("l_linenumber") % 3 == 2)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(itemset), li.l_partkey == F.col("flag_pk"), "left")
        .filter(F.col("c_nationkey").isin(2, 4, 6, 8, 10) | F.col("in_set").isNotNull())
        .groupBy(F.col("c_nationkey").alias("zip"))
        .agg(F.round(F.sum(_amt()), 4).alias("web_sales"))
    )


# --- TPC-DS q46 shape: per-order aggregate rejoined to the customer dim ----


@register(
    "tpcds_q46_nation_mismatch",
    """
    WITH per_order AS (
      SELECT l_orderkey AS ok, o_custkey AS ck, s_nationkey AS bought_nation,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS amt
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY l_orderkey, o_custkey, s_nationkey
    )
    SELECT c_name, ok, bought_nation, amt
    FROM per_order JOIN customer ON ck = c_custkey
    WHERE bought_nation <> c_nationkey
    ORDER BY c_name, ok, bought_nation LIMIT 100
    """,
)
def tpcds_q46_nation_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 46 (46.sql): order totals for customers whose current city
    differs from the city they bought in — aggregate to order grain
    FIRST, then rejoin the customer dim and filter on the attribute
    mismatch. city := nation (fixture has no address). The order-grain
    aggregate is the only data shuffle; the customer rejoin broadcasts,
    and the top-k is TakeOrderedAndProject with a unique sort key."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    supp, cust = cat.read("supplier"), cat.read("customer")
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("l_orderkey").alias("ok"),
            F.col("o_custkey").alias("ck"),
            F.col("s_nationkey").alias("bought_nation"),
        )
        .agg(F.round(F.sum(_amt()), 4).alias("amt"))
    )
    return (
        per_order.join(F.broadcast(cust), per_order.ck == cust.c_custkey)
        .filter(F.col("bought_nation") != F.col("c_nationkey"))
        .select("c_name", "ok", "bought_nation", "amt")
        .orderBy("c_name", "ok", "bought_nation")
        .limit(100)
    )


# --- TPC-DS q58 shape: three-channel near-equal revenue comparison ---------


@register(
    "tpcds_q58_equal_channels",
    """
    WITH r AS (
      SELECT l_partkey AS item, l_linenumber % 3 AS ch,
             sum(l_extendedprice * (1 - l_discount)) AS rev
      FROM lineitem
      WHERE year(l_shipdate) BETWEEN 1996 AND 1998
      GROUP BY l_partkey, l_linenumber % 3
    )
    SELECT s.item AS item,
           round(s.rev, 4) AS store_rev, round(c.rev, 4) AS catalog_rev,
           round(w.rev, 4) AS web_rev
    FROM (SELECT item, rev FROM r WHERE ch = 0) s
      JOIN (SELECT item, rev FROM r WHERE ch = 1) c ON s.item = c.item
      JOIN (SELECT item, rev FROM r WHERE ch = 2) w ON s.item = w.item
    WHERE s.rev BETWEEN 0.7 * (s.rev + c.rev + w.rev) / 3 AND 1.3 * (s.rev + c.rev + w.rev) / 3
      AND c.rev BETWEEN 0.7 * (s.rev + c.rev + w.rev) / 3 AND 1.3 * (s.rev + c.rev + w.rev) / 3
      AND w.rev BETWEEN 0.7 * (s.rev + c.rev + w.rev) / 3 AND 1.3 * (s.rev + c.rev + w.rev) / 3
    """,
)
def tpcds_q58_equal_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 58 (58.sql): items whose revenue is roughly EQUAL across all
    three channels (each within ±30% of the three-channel average). The
    oracle keeps the reference's three-way self-join spelling; the Spark
    plan pivots it into ONE per-item conditional aggregation — the ch
    filters on the self-join legs pushed below the aggregate into three
    separate fact scans (round-6 audit; the channels partition the rows,
    so their union is the whole filtered fact). The inner-join
    requirement (item present in every channel) becomes all three
    conditional sums non-null. One scan, one shuffle, no join at all."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    ch = F.col("l_linenumber") % 3
    cell = lambda k: F.sum(F.when(ch == k, _amt()))  # noqa: E731
    avg3 = (F.col("srev") + F.col("crev") + F.col("wrev")) / 3
    band = lambda col: col.between(0.7 * avg3, 1.3 * avg3)  # noqa: E731
    return (
        li.filter(F.year("l_shipdate").between(1996, 1998))
        .groupBy(F.col("l_partkey").alias("item"))
        .agg(
            cell(0).alias("srev"), cell(1).alias("crev"), cell(2).alias("wrev")
        )
        .filter(
            F.col("srev").isNotNull()
            & F.col("crev").isNotNull()
            & F.col("wrev").isNotNull()
        )
        .filter(band(F.col("srev")) & band(F.col("crev")) & band(F.col("wrev")))
        .select(
            "item",
            F.round("srev", 4).alias("store_rev"),
            F.round("crev", 4).alias("catalog_rev"),
            F.round("wrev", 4).alias("web_rev"),
        )
    )


# --- TPC-DS q65 shape: group-level statistic self-join ---------------------


@register(
    "tpcds_q65_low_revenue_items",
    """
    WITH sp AS (
      SELECT l_suppkey AS sk, l_partkey AS pk, sum(l_extendedprice) AS rev
      FROM lineitem GROUP BY l_suppkey, l_partkey
    ), sa AS (
      SELECT sk, avg(rev) AS ar FROM sp GROUP BY sk
    )
    SELECT s_name, p_name, pk AS item, round(rev, 4) AS revenue
    FROM sp
      JOIN sa ON sp.sk = sa.sk
      JOIN supplier ON sp.sk = s_suppkey
      JOIN part ON sp.pk = p_partkey
    WHERE rev <= 0.5 * ar
    ORDER BY s_name, item LIMIT 100
    """,
)
def tpcds_q65_low_revenue_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 65 (65.sql): per store, items earning at most half that
    store's average item revenue — the aggregate-joined-to-its-own-
    re-aggregate shape. store := supplier. The (store, item) rollup is
    the one data shuffle; the per-store average re-aggregates THAT
    (tiny) result, and both dims broadcast."""
    cat = load_tables(spark, sf_dir)
    li, supp, part = cat.read("lineitem"), cat.read("supplier"), cat.read("part")
    sp = li.groupBy(
        F.col("l_suppkey").alias("sk"), F.col("l_partkey").alias("pk")
    ).agg(F.sum("l_extendedprice").alias("rev"))
    sa = sp.groupBy(F.col("sk").alias("sa_sk")).agg(F.avg("rev").alias("ar"))
    return (
        sp.join(F.broadcast(sa), sp.sk == sa.sa_sk)
        .filter(F.col("rev") <= 0.5 * F.col("ar"))
        .join(F.broadcast(supp), sp.sk == supp.s_suppkey)
        .join(F.broadcast(part), sp.pk == part.p_partkey)
        .select(
            "s_name",
            "p_name",
            F.col("pk").alias("item"),
            F.round("rev", 4).alias("revenue"),
        )
        .orderBy("s_name", "item")
        .limit(100)
    )


# --- TPC-DS q98 shape: ratio-to-report window within a class ---------------


@register(
    "tpcds_q98_revenue_ratio",
    """
    SELECT class, brand, round(sum_amt, 4) AS revenue,
           round(sum_amt * 100 / sum(sum_amt) OVER (PARTITION BY class), 4) AS revenueratio
    FROM (
      SELECT p_type AS class, p_brand AS brand,
             sum(l_extendedprice * (1 - l_discount)) AS sum_amt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(l_shipdate) = 1997
      GROUP BY p_type, p_brand
    ) t
    """,
)
def tpcds_q98_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 98 (98.sql, also the q12/q20 family): each brand's share of
    its class revenue — the ratio-to-report window. The window PARTITIONs
    on the class key over an already-aggregated input (|brands| rows), so
    it never sees fact-scale data and never plans a global window."""
    cat = load_tables(spark, sf_dir)
    li, part = cat.read("lineitem"), cat.read("part")
    t = (
        li.filter(F.year("l_shipdate") == 1997)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_type").alias("class"), F.col("p_brand").alias("brand"))
        .agg(F.sum(_amt()).alias("sum_amt"))
    )
    win = W.partitionBy("class")
    return t.select(
        "class",
        "brand",
        F.round("sum_amt", 4).alias("revenue"),
        F.round(F.col("sum_amt") * 100 / F.sum("sum_amt").over(win), 4).alias(
            "revenueratio"
        ),
    )


# --- TPC-DS q24 shape: fact-to-fact pairing join + scalar average gate -----


@register(
    "tpcds_q24_sale_return_pairs",
    """
    WITH paired AS (
      SELECT o_custkey AS ck, s.l_extendedprice AS price
      FROM lineitem s
        JOIN lineitem r ON s.l_orderkey = r.l_orderkey AND s.l_partkey = r.l_partkey
             AND s.l_linenumber < r.l_linenumber
        JOIN orders ON s.l_orderkey = o_orderkey
      WHERE s.l_returnflag <> 'R' AND r.l_returnflag = 'R'
    ), netpaid AS (
      SELECT ck, sum(price) AS paid FROM paired GROUP BY ck
    ), gate AS (SELECT avg(paid) AS ap FROM netpaid)
    SELECT ck, round(paid, 4) AS paid
    FROM netpaid, gate WHERE paid > ap
    """,
)
def tpcds_q24_sale_return_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 24 (yt/benchmarks/run/queries/24.sql): sales paired with
    their returns on the composite (ticket, item) key, summed per
    customer, gated against a scalar average of those sums. The fact-to-
    fact self-join is an equi-join on (orderkey, partkey) — both sides
    shuffle-partition on the same composite key, no broadcast of fact
    data — and the gate broadcasts a 1-row aggregate."""
    cat = load_tables(spark, sf_dir)
    li, orders = cat.read("lineitem"), cat.read("orders")
    s = li.filter(F.col("l_returnflag") != "R").select(
        F.col("l_orderkey").alias("s_ok"),
        F.col("l_partkey").alias("s_pk"),
        F.col("l_linenumber").alias("s_ln"),
        F.col("l_extendedprice").alias("price"),
    )
    r = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("r_ok"),
        F.col("l_partkey").alias("r_pk"),
        F.col("l_linenumber").alias("r_ln"),
    )
    netpaid = (
        s.join(r, (s.s_ok == r.r_ok) & (s.s_pk == r.r_pk) & (s.s_ln < r.r_ln))
        .join(orders, s.s_ok == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(F.sum("price").alias("paid"))
    )
    gate = netpaid.agg(F.avg("paid").alias("ap"))
    return (
        netpaid.crossJoin(F.broadcast(gate))
        .filter(F.col("paid") > F.col("ap"))
        .select("ck", F.round("paid", 4).alias("paid"))
    )


# --- TPC-DS q28 shape: six band aggregates fused into one pass -------------


@register(
    "tpcds_q28_band_aggregates",
    """
    SELECT
      round(avg(CASE WHEN l_quantity BETWEEN 1 AND 10 THEN l_extendedprice END), 4) AS b1_avg,
      CAST(count(CASE WHEN l_quantity BETWEEN 1 AND 10 THEN l_extendedprice END) AS BIGINT) AS b1_n,
      CAST(count(DISTINCT CASE WHEN l_quantity BETWEEN 1 AND 10 THEN l_extendedprice END) AS BIGINT) AS b1_nd,
      round(avg(CASE WHEN l_quantity BETWEEN 11 AND 20 THEN l_extendedprice END), 4) AS b2_avg,
      CAST(count(CASE WHEN l_quantity BETWEEN 11 AND 20 THEN l_extendedprice END) AS BIGINT) AS b2_n,
      CAST(count(DISTINCT CASE WHEN l_quantity BETWEEN 11 AND 20 THEN l_extendedprice END) AS BIGINT) AS b2_nd,
      round(avg(CASE WHEN l_quantity BETWEEN 21 AND 30 THEN l_extendedprice END), 4) AS b3_avg,
      CAST(count(CASE WHEN l_quantity BETWEEN 21 AND 30 THEN l_extendedprice END) AS BIGINT) AS b3_n,
      CAST(count(DISTINCT CASE WHEN l_quantity BETWEEN 21 AND 30 THEN l_extendedprice END) AS BIGINT) AS b3_nd,
      round(avg(CASE WHEN l_quantity BETWEEN 31 AND 40 THEN l_extendedprice END), 4) AS b4_avg,
      CAST(count(CASE WHEN l_quantity BETWEEN 31 AND 40 THEN l_extendedprice END) AS BIGINT) AS b4_n,
      CAST(count(DISTINCT CASE WHEN l_quantity BETWEEN 31 AND 40 THEN l_extendedprice END) AS BIGINT) AS b4_nd
    FROM lineitem
    """,
)
def tpcds_q28_band_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 28 (28.sql): six quantity-band (avg, count, count distinct)
    triples, written in the reference as six scalar subqueries cross-
    joined — the hand-optimized variant (queries_optimized/) fuses them
    into ONE scan with conditional aggregates, which is what this plan
    does natively: a single pass with CASE-gated aggregates, the multi-
    DISTINCT resolved by Catalyst's expand (4 bands here)."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    cols = []
    for i, (lo, hi) in enumerate([(1, 10), (11, 20), (21, 30), (31, 40)], 1):
        banded = F.when(
            F.col("l_quantity").between(lo, hi), F.col("l_extendedprice")
        )
        cols += [
            F.round(F.avg(banded), 4).alias(f"b{i}_avg"),
            F.count(banded).cast("long").alias(f"b{i}_n"),
            F.count_distinct(banded).cast("long").alias(f"b{i}_nd"),
        ]
    return li.agg(*cols)


# --- TPC-DS q61 shape: promotional-to-total two-scalar ratio ---------------


@register(
    "tpcds_q61_promo_ratio",
    """
    WITH promo AS (
      SELECT sum(l_extendedprice * (1 - l_discount)) AS p
      FROM lineitem WHERE l_linenumber % 3 = 0 AND l_discount >= 0.05
    ), total AS (
      SELECT sum(l_extendedprice * (1 - l_discount)) AS t
      FROM lineitem WHERE l_linenumber % 3 = 0
    )
    SELECT round(p, 4) AS promotional, round(t, 4) AS total,
           round(p * 100 / t, 4) AS promo_pct
    FROM promo, total
    """,
)
def tpcds_q61_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS 61 (61.sql): promotional store revenue as a share of total —
    two scalar aggregates cross-joined into a single ratio row. Both
    scalars reduce the same channel scan (the promo one adds a residual
    discount filter); the cross join is two 1-row broadcasts."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    store = li.filter(F.col("l_linenumber") % 3 == 0)
    promo = store.filter(F.col("l_discount") >= 0.05).agg(F.sum(_amt()).alias("p"))
    total = store.agg(F.sum(_amt()).alias("t"))
    return promo.crossJoin(F.broadcast(total)).select(
        F.round("p", 4).alias("promotional"),
        F.round("t", 4).alias("total"),
        F.round(F.col("p") * 100 / F.col("t"), 4).alias("promo_pct"),
    )
