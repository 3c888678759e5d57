"""CHYT (ClickHouse-over-YT) SQL surface queries: ClickHouse-dialect
text through the chyt shim (ytsaurus_spark/chyt.py), oracle-checked by
running the TRANSLATED portable SQL on DuckDB over the same fixtures —
verifying the translation table, not just the engines. Reference surface:
yt/chyt/server/ (storage_distributor.cpp, query_analyzer.cpp) executes
stock ClickHouse SQL over YT tables; its tests
(yt/chyt/tests/server/test_common.py) are the query-shape source."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ytsaurus_spark.operators import scratch_dir
from ytsaurus_spark.queries import register

_AGG_TEXT = """
select l_returnflag,
       countIf(l_discount > 0.05) as n_discounted,
       sumIf(l_quantity, l_linenumber = 1) as first_line_qty,
       uniqExact(l_orderkey) as n_orders
from "//home/tpch/lineitem"
group by l_returnflag
order by l_returnflag
FORMAT TabSeparated
"""

_DATE_TEXT = """
select toYYYYMM(o_orderdate) as ym,
       toYear(o_orderdate) as y,
       CAST(count(*) AS BIGINT) as n,
       minIf(o_totalprice, o_orderstatus = 'F') as min_f
from "//home/tpch/orders"
PREWHERE o_custkey % 10 = 3
group by toYYYYMM(o_orderdate), toYear(o_orderdate)
order by ym
"""

_PREWHERE_TEXT = """
select lang, CAST(count(*) AS BIGINT) as n,
       CAST(sum(n_chars) AS BIGINT) as chars
from "//home/x/documents"
PREWHERE n_chars > 200
WHERE lang != 'de'
group by lang
order by lang
"""


def _make(name: str, text: str, doc: str) -> None:
    import re

    from ytsaurus_spark.chyt import (
        resolve_if_defaults, resolve_length, translate_chyt,
    )

    # DuckDB-ize the translated text: minIf/maxIf default markers resolve
    # to the numeric fallback (every registered *If here is numeric), and
    # Spark's truncating integer division `DIV` is spelled `//` in DuckDB.
    oracle = resolve_length(resolve_if_defaults(translate_chyt(text)))
    oracle = re.sub(r"\bDIV\b", "//", oracle)

    @register(name, oracle)
    def run(spark: SparkSession, sf_dir: str, _text: str = text) -> DataFrame:
        from ytsaurus_spark.chyt import chyt_query

        return chyt_query(spark, _text, sf_dir=sf_dir)

    run.__doc__ = doc


_make(
    "chyt_agg_report",
    _AGG_TEXT,
    "ClickHouse *If combinators + uniqExact over the fact table: "
    "countIf/sumIf translate to conditional aggregates (map-side "
    "combinable — one shuffle), uniqExact to count(DISTINCT). The "
    "trailing FORMAT directive is stripped.",
)
_make(
    "chyt_date_parts",
    _DATE_TEXT,
    "ClickHouse date-part functions (toYYYYMM/toYear) + a *If aggregate, "
    "with PREWHERE folded into the scan predicate (ClickHouse's manual "
    "pushdown hint; Catalyst pushes every conjunct unconditionally — "
    "granule_min_max_filter.cpp:24-83 is the chunk-stat analog Parquet "
    "row groups give for free).",
)
_make(
    "chyt_prewhere_where",
    _PREWHERE_TEXT,
    "PREWHERE + WHERE compose by conjunction (test_prewhere.py "
    "semantics): both predicates reach the documents scan.",
)


# --- round-8 breadth: YSON/YPath functions, GLOBAL JOIN, casts, misc --------

_GLOBAL_JOIN_TEXT = """
select n_name, CAST(count(*) AS BIGINT) as n_customers,
       sum(CAST(round(c_acctbal * 100) AS BIGINT)) as acctbal_cents
from "//home/tpch/customer" c
global join "//home/tpch/nation" n on c.c_nationkey = n.n_nationkey
where isNotNull(c_mktsegment) and c_mktsegment != 'MACHINERY'
group by n_name
order by n_name
"""

_ANY_MISC_TEXT = """
select o_orderstatus,
       any(o_orderpriority) is not null as has_any,
       CAST(modulo(count(*), 1000) AS BIGINT) as n_mod,
       CAST(intDiv(count(*), 7) AS BIGINT) as n_div,
       ifNull(max(if(o_totalprice > 400000e0, o_totalprice, NULL)), 0e0) as m
from "//home/tpch/orders"
group by o_orderstatus
order by o_orderstatus
"""

_UINT64_TEXT = """
select toUInt64('18446744073709551615') as u_max,
       toUInt64(o_orderkey) as u_key
from "//home/tpch/orders"
order by o_orderkey
limit 5
"""

_make(
    "chyt_global_join",
    _GLOBAL_JOIN_TEXT,
    "GLOBAL JOIN (test_join_and_in.py): CHYT evaluates the right side "
    "once on the initiator and ships it to all workers "
    "(storage_distributor.cpp) — translated to a Spark BROADCAST hint "
    "on the dimension side (the hint rides in a comment the DuckDB "
    "oracle ignores). isNotNull is the CH spelling for IS NOT NULL.",
)
_make(
    "chyt_any_misc",
    _ANY_MISC_TEXT,
    "ClickHouse function spellings: any() -> any_value (first-value "
    "aggregate, NOT Spark's bool_or), modulo/intDiv arithmetic, "
    "ifNull -> coalesce, if -> CASE.",
)
_make(
    "chyt_uint64_cast",
    _UINT64_TEXT,
    "toUInt64 keeps the repo's DECIMAL(20,0) uint64 discipline: "
    "18446744073709551615 = 2^64-1 is a legal ClickHouse uint64 and "
    "must survive the cast (a BIGINT cast would overflow).",
)


@register(
    "chyt_yson_literals",
    """
    SELECT CAST(5 AS BIGINT) AS i1, 'Object' AS t_obj, 'Array' AS t_arr,
           CAST(3 AS BIGINT) AS len_arr, 'xyz' AS s_path,
           '{"key"=[1;2;];}' AS y_text, CAST(1 AS BOOLEAN) AS has_a,
           CAST(4.4 AS DOUBLE) AS f3
    """,
)
def chyt_yson_literals(spark, sf_dir):
    """YSON literal accessors (test_common.py::test_yson_extract,
    test_yson_functions.py::test_const_args, test_convert_yson): the
    YSONExtract*/YSONType/YSONLength/YSONHas family over text-YSON
    literals, YPathString path walking, ConvertYson text re-emission.
    Oracle = the reference tests' expected constants."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(spark, """
        select YSONExtractInt('{a=5;b=[5; 4; 3]}', 'b', 1) as i1,
               YSONType('{a=5}') as t_obj,
               YSONType('[1; 3; 4]') as t_arr,
               YSONLength('{a=5;b=[5; 4; 3]}', 'b') as len_arr,
               YPathString('{a=[1;2;{b=xyz}]}', '/a/2/b') as s_path,
               ConvertYson('{key=[1;2]}', 'text') as y_text,
               YSONHas('{a=5;b=6}', 'a') as has_a,
               YSONExtractFloat('[1; 2; 4.4]', 3) as f3
    """, sf_dir=sf_dir)


@register(
    "chyt_ypath_any_column",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
    """,
)
def chyt_ypath_any_column(spark, sf_dir):
    """YPathInt64 over an Any column (test_yson_functions.py::
    test_read_int64_non_strict): the same pandas-UDF getter family works
    over the fixtures' JSON-encoded Any payloads (the repo's storage
    convention, functions/ql.py) — sniffed per value, Arrow-batched."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(spark, """
        select event_id, YPathInt64(props, '/k') as k_val
        from "//home/x/events"
        where YPathInt64(props, '/k') > 90
    """, sf_dir=sf_dir)


@register(
    "chyt_array_hofs",
    """
    SELECT CAST(12 AS DOUBLE) AS s, 20 AS last_el, CAST(2 AS BIGINT) AS idx,
           ['a', 'b', 'c'] AS parts
    """,
)
def chyt_array_hofs(spark, sf_dir):
    """ClickHouse array function spellings: arrayMap/arraySum (lambda
    FIRST in CH, second in Spark), arrayElement (1-based, negative from
    end — both engines agree), indexOf -> array_position with CH's
    0-for-missing, splitByChar (separator first, regex-quoted)."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(spark, """
        select arraySum(arrayMap(x -> x * 2, array(1, 2, 3))) as s,
               arrayElement(array(10, 20), -1) as last_el,
               indexOf(array(5, 6), 6) as idx,
               splitByChar('.', 'a.b.c') as parts
    """, sf_dir=sf_dir)


@register(
    "chyt_numbers_fn",
    "SELECT CAST(4950 AS BIGINT) AS s, CAST(100 AS BIGINT) AS n",
)
def chyt_numbers_fn(spark, sf_dir):
    """numbers(N) table function (test_common.py) -> spark.range: a
    metadata-only generated relation, no data scan."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select sum(number) as s, CAST(count(*) AS BIGINT) as n "
        "from numbers(100)",
        sf_dir=sf_dir,
    )


# --- round-9 breadth: SQL UDFs, dictionaries, function-spelling coverage ----
# Reference query shapes: yt/chyt/tests/server/test_sql_udf.py,
# test_yt_dictionaries.py, test_common.py, test_composite.py,
# test_join_and_in.py. Every entry is strict-oracle-checked on DuckDB.


@register(
    "chyt_udf_lambda",
    """
    SELECT l_returnflag,
           CAST(sum(2 * l_quantity + 1) AS BIGINT) AS s
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def chyt_udf_lambda(spark, sf_dir):
    """CREATE FUNCTION lambda UDF (test_sql_udf.py:25): the persisted
    `(x, k, b) -> k*x + b` definition is inlined at the call site —
    the aggregated expression stays a JVM built-in chain (whole-stage
    codegen), never a Python UDF."""
    from ytsaurus_spark.chyt import chyt_execute
    from ytsaurus_spark.client import YtClient

    client = YtClient(root=scratch_dir("chyt_udf_"), spark=spark)
    chyt_execute(
        spark,
        "create function linear_equation as (x, k, b) -> k*x + b",
        client=client,
    )
    return chyt_execute(
        spark,
        'select l_returnflag, '
        'CAST(sum(linear_equation(l_quantity, 2, 1)) AS BIGINT) as s '
        'from "//home/tpch/lineitem" group by l_returnflag '
        "order by l_returnflag",
        client=client,
        sf_dir=sf_dir,
    )


_NATION_DICT = {
    "name": "nations",
    "layout": {"flat": {}},
    "structure": {
        "id": {"name": "n_nationkey"},
        "attribute": [
            {"name": "n_name", "type": "String", "null_value": "none"},
        ],
    },
    "lifetime": 0,
    "source": {"yt": {"path": "//home/tpch/nation"}},
}


@register(
    "chyt_dictget_flat",
    """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(length(coalesce(
               (SELECT n_name FROM nation WHERE n_nationkey = (c_custkey % 30)),
               'none'))) AS BIGINT) AS name_chars
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def chyt_dictget_flat(spark, sf_dir):
    """dictGetString over a flat int-keyed YT dictionary
    (test_yt_dictionaries.py:12): misses (c_custkey % 30 >= 25) return
    the declared null_value. The correlated scalar subquery is rewritten
    by Catalyst into a LEFT OUTER equi-join that AQE broadcasts — the
    Spark analog of ClickHouse's in-memory flat layout."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select c_mktsegment, CAST(count(*) AS BIGINT) as n, "
        "CAST(sum(length(dictGetString('nations', 'n_name', "
        "modulo(c_custkey, 30)))) AS BIGINT) as name_chars "
        'from "//home/tpch/customer" group by c_mktsegment '
        "order by c_mktsegment",
        sf_dir=sf_dir,
        dictionaries=[_NATION_DICT],
    )


@register(
    "chyt_dictget_composite",
    """
    SELECT r_name,
           CAST(sum(coalesce(
               (SELECT CAST(n_nationkey AS BIGINT) FROM nation n2
                WHERE n2.n_regionkey = (nation.n_regionkey)
                  AND n2.n_name = (nation.n_name)), 0)) AS BIGINT) AS sum_keys
    FROM nation JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def chyt_dictget_composite(spark, sf_dir):
    """Composite-key dictionary (test_yt_dictionaries.py::
    test_composite_key_hashed): dictGetInt64('d', attr, tuple(k1, k2))
    splits the tuple into per-key-column equalities."""
    from ytsaurus_spark.chyt import chyt_query

    cfg = {
        "name": "natc",
        "layout": {"complex_key_hashed": {}},
        "structure": {
            "key": {
                "attribute": [
                    {"name": "n_regionkey", "type": "Int32"},
                    {"name": "n_name", "type": "String"},
                ]
            },
            "attribute": [
                {"name": "n_nationkey", "type": "Int64", "null_value": 0},
            ],
        },
        "lifetime": 0,
        "source": {"yt": {"path": "//home/tpch/nation"}},
    }
    return chyt_query(
        spark,
        "select r_name, CAST(sum(dictGetInt64('natc', 'n_nationkey', "
        "tuple(n_regionkey, n_name))) AS BIGINT) as sum_keys "
        'from "//home/tpch/nation" join "//home/tpch/region" '
        "on r_regionkey = n_regionkey group by r_name order by r_name",
        sf_dir=sf_dir,
        dictionaries=[cfg],
    )


@register(
    "chyt_dicthas_default",
    """
    SELECT CAST(n AS BIGINT) AS number,
           ((SELECT count(*) FROM region WHERE r_regionkey = n) > 0) AS has_r,
           coalesce((SELECT r_name FROM region WHERE r_regionkey = n),
                    'missing') AS nm
    FROM (SELECT unnest(generate_series(0, 7)) AS n)
    ORDER BY number
    """,
)
def chyt_dicthas_default(spark, sf_dir):
    """dictHas + dictGetOrDefault (test_yt_dictionaries.py API family):
    membership probes and caller-supplied defaults over the numbers()
    generated relation."""
    from ytsaurus_spark.chyt import chyt_query

    cfg = {
        "name": "regions",
        "layout": {"flat": {}},
        "structure": {
            "id": {"name": "r_regionkey"},
            "attribute": [{"name": "r_name", "type": "String"}],
        },
        "lifetime": 0,
        "source": {"yt": {"path": "//home/tpch/region"}},
    }
    return chyt_query(
        spark,
        "select number, dictHas('regions', number) as has_r, "
        "dictGetOrDefault('regions', 'r_name', number, 'missing') as nm "
        "from numbers(8) order by number",
        sf_dir=sf_dir,
        dictionaries=[cfg],
    )


@register(
    "chyt_multiif_bands",
    """
    SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END AS band,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY 1
    ORDER BY band
    """,
)
def chyt_multiif_bands(spark, sf_dir):
    """multiIf -> chained CASE (test_common.py function spellings)."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select multiIf(o_totalprice < 50000e0, 'low', "
        "o_totalprice < 150000e0, 'mid', 'high') as band, "
        "CAST(count(*) AS BIGINT) as n "
        'from "//home/tpch/orders" group by 1 order by band',
        sf_dir=sf_dir,
    )


@register(
    "chyt_array_spellings",
    """
    SELECT [1, 2, 3] AS cc, [2, 3] AS sl, [3, 2, 1] AS rv, [1, 2, 3] AS ds,
           true AS h, true AS e, true AS ne
    """,
)
def chyt_array_spellings(spark, sf_dir):
    """ClickHouse array function spellings beyond the r8 set:
    arrayConcat/arraySlice/arrayReverse/arrayDistinct/arraySort, has,
    empty/notEmpty (test_composite.py shapes)."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(spark, """
        select arrayConcat(array(1, 2), array(3)) as cc,
               arraySlice(array(1, 2, 3, 4), 2, 2) as sl,
               arrayReverse(array(1, 2, 3)) as rv,
               arraySort(arrayDistinct(array(3, 1, 3, 2))) as ds,
               has(array(1, 2), 2) as h,
               empty('') as e,
               notEmpty('x') as ne
    """, sf_dir=sf_dir)


@register(
    "chyt_string_fns",
    """
    SELECT lang,
           CAST(sum(CASE WHEN starts_with(text, 'A') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN ends_with(text, '.') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dot
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def chyt_string_fns(spark, sf_dir):
    """startsWith/endsWith inside *If combinators over the documents
    corpus — string predicates stay JVM-side codegen."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select lang, "
        "CAST(countIf(startsWith(text, 'A')) AS BIGINT) as n_a, "
        "CAST(countIf(endsWith(text, '.')) AS BIGINT) as n_dot "
        'from "//home/x/documents" group by lang order by lang',
        sf_dir=sf_dir,
    )


@register(
    "chyt_group_arrays",
    """
    SELECT n_regionkey, list_sort(list(distinct n_name)) AS names
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
)
def chyt_group_arrays(spark, sf_dir):
    """groupUniqArray -> collect_set (sorted for determinism — CH's
    groupUniqArray order is unspecified, so reference tests sort too)."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select n_regionkey, arraySort(groupUniqArray(n_name)) as names "
        'from "//home/tpch/nation" group by n_regionkey order by n_regionkey',
        sf_dir=sf_dir,
    )


@register(
    "chyt_date_hour_parts",
    """
    SELECT CAST(hour(ts) AS INT) AS h, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    ORDER BY h
    """,
)
def chyt_date_hour_parts(spark, sf_dir):
    """toHour over the events stream table."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select toHour(ts) as h, CAST(count(*) AS BIGINT) as n "
        'from "//home/x/events" group by 1 order by h',
        sf_dir=sf_dir,
    )


@register(
    "chyt_argminmax",
    """
    SELECT o_orderstatus,
           max_by(o_orderpriority, o_orderkey) AS last_pri,
           min_by(o_custkey, o_orderkey) AS first_cust
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def chyt_argminmax(spark, sf_dir):
    """argMax/argMin -> max_by/min_by; deterministic because o_orderkey
    is unique."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select o_orderstatus, argMax(o_orderpriority, o_orderkey) as last_pri, "
        "argMin(o_custkey, o_orderkey) as first_cust "
        'from "//home/tpch/orders" group by o_orderstatus order by o_orderstatus',
        sf_dir=sf_dir,
    )


@register(
    "chyt_null_fns",
    """
    SELECT o_orderstatus,
           CAST(count(nullif(o_orderpriority, '1-URGENT')) AS BIGINT)
               AS n_not_urgent,
           CAST(sum(CASE WHEN (nullif(o_orderpriority, '1-URGENT') IS NULL)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def chyt_null_fns(spark, sf_dir):
    """isNull/nullIf spellings (CH null predicates are functions, not
    operators)."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select o_orderstatus, "
        "CAST(count(nullIf(o_orderpriority, '1-URGENT')) AS BIGINT) as n_not_urgent, "
        "CAST(sum(if(isNull(nullIf(o_orderpriority, '1-URGENT')), 1, 0)) AS BIGINT) "
        'as n_urgent from "//home/tpch/orders" '
        "group by o_orderstatus order by o_orderstatus",
        sf_dir=sf_dir,
    )


@register(
    "chyt_arith_spellings",
    """
    SELECT CAST(14 AS BIGINT) AS a, CAST(6 AS DOUBLE) AS b,
           CAST(-5 AS BIGINT) AS c, CAST(2 AS BIGINT) AS d,
           CAST(-3 AS BIGINT) AS e
    """,
)
def chyt_arith_spellings(spark, sf_dir):
    """Functional arithmetic spellings (plus/minus/multiply/divide/
    negate/modulo/intDiv) — intDiv(-17, 5) = -3 (truncation toward
    zero, C++ semantics)."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(spark, """
        select CAST(plus(2, multiply(3, 4)) AS BIGINT) as a,
               CAST(minus(10, divide(8, 2)) AS DOUBLE) as b,
               CAST(negate(5) AS BIGINT) as c,
               CAST(modulo(17, 5) AS BIGINT) as d,
               CAST(intDiv(-17, 5) AS BIGINT) as e
    """, sf_dir=sf_dir)


@register(
    "chyt_totypename",
    """
    SELECT 'Int64' AS t_i64, 'String' AS t_str, 'UInt64' AS t_u64,
           'Array(Int32)' AS t_arr
    """,
)
def chyt_totypename(spark, sf_dir):
    """toTypeName introspection (test_composite.py): resolved by a lazy
    schema probe — plan analysis only, no execution."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(spark, """
        select toTypeName(toInt64(1)) as t_i64,
               toTypeName('x') as t_str,
               toTypeName(toUInt64(1)) as t_u64,
               toTypeName(array(1, 2)) as t_arr
    """, sf_dir=sf_dir)


@register(
    "chyt_describe_table",
    """
    SELECT 'r_regionkey' AS name, 'Nullable(Int32)' AS type
    UNION ALL
    SELECT 'r_name', 'Nullable(String)'
    ORDER BY name
    """,
)
def chyt_describe_table(spark, sf_dir):
    """DESCRIBE "//path" returns (name, ClickHouse type) rows
    (test_clickhouse_schema.py)."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark, 'describe "//home/tpch/region"', sf_dir=sf_dir
    ).orderBy("name")


@register(
    "chyt_global_in_subquery",
    """
    SELECT CAST(count(*) AS BIGINT) AS n
    FROM customer
    WHERE c_nationkey IN
          (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    """,
)
def chyt_global_in_subquery(spark, sf_dir):
    """GLOBAL IN (test_join_and_in.py): evaluated once and shipped —
    Spark executes IN-subqueries as a broadcast semi-join already, so
    GLOBAL strips to plain IN."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        'select CAST(count(*) AS BIGINT) as n from "//home/tpch/customer" '
        "where c_nationkey global in "
        '(select n_nationkey from "//home/tpch/nation" where n_regionkey = 2)',
        sf_dir=sf_dir,
    )


@register(
    "chyt_if_default_typed",
    """
    SELECT coalesce(min(CASE WHEN o_totalprice < 0 THEN CAST(o_orderdate AS DATE)
                        END), DATE '1970-01-01') AS md,
           coalesce(max(CASE WHEN o_totalprice < 0 THEN o_orderpriority END),
                    '') AS mp,
           coalesce(min(CASE WHEN o_totalprice < 0 THEN o_totalprice END),
                    CAST(0 AS DOUBLE)) AS mt
    FROM orders
    """,
)
def chyt_if_default_typed(spark, sf_dir):
    """minIf/maxIf empty-match defaults are the ARGUMENT type's default
    (ClickHouse *If combinator semantics): epoch for Date, '' for
    String, 0 for numbers — resolved by a lazy schema probe."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select minIf(toDate(o_orderdate), o_totalprice < 0e0) as md, "
        "maxIf(o_orderpriority, o_totalprice < 0e0) as mp, "
        "minIf(o_totalprice, o_totalprice < 0e0) as mt "
        'from "//home/tpch/orders"',
        sf_dir=sf_dir,
    )


@register(
    "chyt_arrayjoin_split",
    """
    SELECT part FROM (SELECT unnest(string_split('a,b,c', ',')) AS part)
    ORDER BY part
    """,
)
def chyt_arrayjoin_split(spark, sf_dir):
    """arrayJoin(splitByChar(...)) -> explode(split(...)): CH's
    row-expanding function maps onto Spark's generator expression."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select arrayJoin(splitByChar(',', 'a,b,c')) as part order by part",
        sf_dir=sf_dir,
    )


@register(
    "chyt_sample_full",
    "SELECT CAST(count(*) AS BIGINT) AS n FROM supplier",
)
def chyt_sample_full(spark, sf_dir):
    """SAMPLE 1.0 -> TABLESAMPLE (100 PERCENT): the full-rate edge is
    the only deterministic sample, and it exercises the clause rewrite
    end-to-end (fractional rates are covered by unit tests)."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        'select CAST(count(*) AS BIGINT) as n from "//home/tpch/supplier" '
        "SAMPLE 1.0",
        sf_dir=sf_dir,
    )


@register(
    "chyt_if_combinators_wide",
    """
    SELECT o_orderstatus,
           CAST(count(DISTINCT CASE WHEN o_totalprice > 150000
                                    THEN o_custkey END) AS BIGINT) AS u_big,
           max_by(CASE WHEN o_totalprice > 150000 THEN o_orderpriority END,
                  CASE WHEN o_totalprice > 150000 THEN o_orderkey END)
               AS pri_big,
           CAST(round(coalesce(stddev_pop(CASE WHEN o_totalprice <= 150000
                                          THEN o_totalprice END), 0))
                AS BIGINT) AS sd_small
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def chyt_if_combinators_wide(spark, sf_dir):
    """ClickHouse attaches -If to ANY aggregate (combinator grammar):
    uniqExactIf / argMaxIf / stddevPopIf translate to CASE-wrapped
    aggregates — NULLs from non-matching rows are skipped by every Spark
    aggregate, matching the only-matching-rows semantics. argMaxIf is
    deterministic here because o_orderkey is unique."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select o_orderstatus, "
        "CAST(uniqExactIf(o_custkey, o_totalprice > 150000e0) AS BIGINT) "
        "as u_big, "
        "argMaxIf(o_orderpriority, o_orderkey, o_totalprice > 150000e0) "
        "as pri_big, "
        "CAST(round(coalesce(stddevPopIf(o_totalprice, "
        "o_totalprice <= 150000e0), 0)) AS BIGINT) as sd_small "
        'from "//home/tpch/orders" group by o_orderstatus '
        "order by o_orderstatus",
        sf_dir=sf_dir,
    )


@register(
    "chyt_limit_by",
    """
    SELECT * EXCLUDE (__lb_rn) FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey)
                 AS __lb_rn
      FROM customer
    ) WHERE __lb_rn <= 2
    ORDER BY c_acctbal DESC, c_custkey LIMIT 10
    """,
)
def chyt_limit_by(spark, sf_dir):
    """ClickHouse LIMIT n BY expr (top-n per group): translated to a
    row_number window over the BY keys ordered by the query's ORDER BY,
    filtered to <= n — one shuffle on the partition keys, no global sort
    before the final top-k. The outer LIMIT applies to the kept rows."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        'select c_nationkey, c_custkey, c_acctbal from "//home/tpch/customer" '
        "order by c_acctbal desc, c_custkey "
        "limit 2 by c_nationkey limit 10",
        sf_dir=sf_dir,
    )


@register(
    "chyt_with_totals",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), ())
    ORDER BY o_orderstatus NULLS LAST
    """,
)
def chyt_with_totals(spark, sf_dir):
    """GROUP BY ... WITH TOTALS: ClickHouse's appended all-rows totals
    row is exactly GROUPING SETS ((keys), ()) — the empty set emits the
    totals row with NULL keys; both engines agree on the relational
    form."""
    from ytsaurus_spark.chyt import chyt_query

    return chyt_query(
        spark,
        "select o_orderstatus, CAST(count(*) AS BIGINT) as n, "
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
        'as cents from "//home/tpch/orders" '
        "group by o_orderstatus with totals "
        "order by o_orderstatus nulls last",
        sf_dir=sf_dir,
    )
