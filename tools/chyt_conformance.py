"""CHYT conformance sweep: run query sequences harvested VERBATIM from
the reference's CHYT server test-suite (yt/chyt/tests/server/
test_common.py, test_join_and_in.py, test_mutations.py, test_prewhere.py,
test_sql_udf.py, test_yt_dictionaries.py, test_table_functions.py,
test_yson_functions.py)
through chyt_execute and compare against the EXPECTED VALUES pinned in
those tests — the same artifact treatment YQL_CONFORMANCE.json gives the
YQL surface, but reference-pinned instead of DuckDB-checked (the CHYT
tests carry their own literals).

Statuses per case:
- PASS        — every step's normalized multiset of rows matches
- DIFF        — a step ran but its values disagree
- ERR         — a step errored where the reference expects rows
- UNSUPPORTED — the statement uses surface the shim deliberately lacks
                (listed with the reason; honesty rows, not hidden)

Row normalization bridges wire-format differences, NOT semantics:
ClickHouse JSON output renders booleans as 0/1, timestamps as strings,
uint64 as numbers; we map bool->int, Decimal->int, datetime->'%Y-%m-%d
%H:%M:%S', float->round(9), and compare positionally (the reference's
expected dicts preserve select order).

Usage: python tools/chyt_conformance.py [case-id ...]
Writes CHYT_CONFORMANCE.json at the repo root.
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

E = "error"  # expected: statement must raise

_NATION_DICT_CFG = {
    "name": "dict",
    "layout": {"flat": {}},
    "structure": {
        "id": {"name": "key"},
        "attribute": [
            {"name": "value_str", "type": "String", "null_value": "n/a"},
            {"name": "value_i64", "type": "Int64", "null_value": 42},
        ],
    },
    "lifetime": 0,
    "source": {"yt": {"path": "//tmp/dict"}},
}

_COMPOSITE_DICT_CFG = {
    "name": "dict",
    "layout": {"complex_key_hashed": {}},
    "structure": {
        "key": {
            "attribute": [
                {"name": "key", "type": "String"},
                {"name": "subkey", "type": "Int64"},
            ]
        },
        "attribute": [{"name": "value", "type": "String", "null_value": "n/a"}],
    },
    "lifetime": 0,
    "source": {"yt": {"path": "//tmp/dict"}},
}

# Each case: tables (path -> (ddl, rows)), optional dictionaries config,
# steps = [(statement, expected)] where expected is a list of positional
# rows, None (write statement), E (must raise), ("names", [...]) for a
# DESCRIBE name-order check, or ("unsupported", reason).
CASES = [
    dict(
        id="common/avg",
        ref="yt/chyt/tests/server/test_common.py:376",
        tables={"//tmp/t": ("a bigint", [(i,) for i in range(10)])},
        steps=[
            ('select avg(a) from "//tmp/t"', [[4.5]]),
            ('select avg(b) from "//tmp/t"', E),
            ('select avg(a) from "//tmp/t[#2:#9]"', [[5.0]]),
        ],
    ),
    dict(
        id="common/aggregation_with_multiple_string_columns",
        ref="yt/chyt/tests/server/test_common.py:390",
        tables={"//tmp/t": (
            "key1 string, key2 string, value bigint",
            [("dream", "theater", i * 5 + j)
             for i in range(5) for j in range(5)],
        )},
        steps=[(
            'select key1, key2, sum(value) from "//tmp/t" group by key1, key2',
            [["dream", "theater", 300]],
        )],
    ),
    dict(
        id="common/cast",
        ref="yt/chyt/tests/server/test_common.py:415",
        tables={"//tmp/t": ("a string", [("2012-12-12 20:00:00",)])},
        steps=[(
            'select CAST(a as datetime) from "//tmp/t"',
            [["2012-12-12 20:00:00"]],
        )],
    ),
    dict(
        id="common/constants",
        ref="yt/chyt/tests/server/test_common.py:1414",
        tables={"//tmp/t": ("key bigint, value string", [(1, "a")])},
        steps=[("select 1 from `//tmp/t`", [[1]])],
    ),
    dict(
        id="common/group_by",
        ref="yt/chyt/tests/server/test_common.py:1427",
        tables={"//tmp/t": (
            "key bigint, value bigint",
            [(1, 3), (2, 1), (1, 2), (2, 5)],
        )},
        steps=[(
            "select key, min(value), max(value) from `//tmp/t` "
            "group by key order by key",
            [[1, 2, 3], [2, 1, 5]],
        )],
    ),
    dict(
        id="common/any_empty_result",
        ref="yt/chyt/tests/server/test_common.py:1396",
        tables={"//tmp/t": ("key bigint, value string", [(1, "a")])},
        steps=[(
            "select any(value) from `//tmp/t` where key = 2",
            [[None]],
        )],
    ),
    dict(
        id="common/exists_table",
        ref="yt/chyt/tests/server/test_common.py:1105",
        tables={"//tmp/t1": ("a bigint", [(1,)])},
        steps=[
            ('exists table "//tmp/t1"', [[1]]),
            ('exists table "//tmp/t123456"', [[0]]),
        ],
    ),
    dict(
        id="common/show_tables",
        ref="yt/chyt/tests/server/test_common.py:37",
        tables={
            "//tmp/root1/t11": ("a string", [("x",)]),
            "//tmp/root1/t12": ("a string", [("x",)]),
            "//tmp/root1/n1/t3": ("a string", [("x",)]),
            "//tmp/root1/n1/t4": ("a string", [("x",)]),
        },
        steps=[
            ('show tables from "//tmp/root1"',
             [["//tmp/root1/n1/t3"], ["//tmp/root1/n1/t4"],
              ["//tmp/root1/t11"], ["//tmp/root1/t12"]]),
            # LIKE runs over the FULL path (the shown name): 'root1'
            # itself contains 't1', so every table under it matches —
            # the reference test only asserts t11/t12 are present
            ('show tables from "//tmp/root1" like \'%t1%\'',
             [["//tmp/root1/n1/t3"], ["//tmp/root1/n1/t4"],
              ["//tmp/root1/t11"], ["//tmp/root1/t12"]]),
            ('show tables from "//tmp/root1" like \'%/t1_\'',
             [["//tmp/root1/t11"], ["//tmp/root1/t12"]]),
        ],
    ),
    dict(
        id="common/yson_extract",
        ref="yt/chyt/tests/server/test_common.py:1310",
        tables={},
        steps=[
            ("select YSONExtractInt('{a=5;b=[5; 4; 3]}', 'b', 1)", [[5]]),
            ("select YSONExtractString('{a=true; b=false}', 'b')",
             [["false"]]),
            ("select YSONLength('{a=5;b=[5; 4; 3]}', 'b')", [[3]]),
            ("select YSONType('[1; 3; 4]')", [["Array"]]),
        ],
    ),
    dict(
        id="common/convert_yson",
        ref="yt/chyt/tests/server/test_common.py:980",
        tables={},
        steps=[(
            "select ConvertYson('{key=[1;2]}', 'text')",
            [['{"key"=[1;2;];}']],
        )],
    ),
    dict(
        id="common/boolean_arithmetic",
        ref="yt/chyt/tests/server/test_common.py:2035",
        tables={"//tmp/t": ("b boolean", [(False,), (True,)])},
        steps=[(
            "select b, 2 * b as two_b from `//tmp/t` order by b",
            [[False, 0], [True, 2]],
        )],
    ),
    dict(
        id="join/global_join",
        ref="yt/chyt/tests/server/test_join_and_in.py:15",
        tables={
            "//tmp/t1": ("a bigint, b string", [(42, "qwe"), (27, "xyz")]),
            "//tmp/t2": ("c bigint, d string", [(42, "asd"), (-1, "xyz")]),
            "//tmp/t3": ("a bigint, e double", [(42, 3.14), (27, 2.718)]),
        },
        steps=[
            ('select * from "//tmp/t1" t1 global join "//tmp/t2" t2 '
             "on t1.a = t2.c", [[42, "qwe", 42, "asd"]]),
            ('select * from "//tmp/t1" t1 global join "//tmp/t2" t2 '
             "on t2.c = t1.a", [[42, "qwe", 42, "asd"]]),
            ('select * from "//tmp/t1" t1 global join "//tmp/t3" t3 '
             "using a order by a",
             [[27, "xyz", 2.718], [42, "qwe", 3.14]]),
            ('select * from "//tmp/t1" t1 global join "//tmp/t3" t3 '
             "on t1.a = t3.a order by t1.a",
             [[27, "xyz", 27, 2.718], [42, "qwe", 42, 3.14]]),
            ('select * from "//tmp/t1" global join "//tmp/t2" on a = c',
             [[42, "qwe", 42, "asd"]]),
        ],
    ),
    dict(
        id="join/global_in",
        ref="yt/chyt/tests/server/test_join_and_in.py:60",
        tables={
            "//tmp/t1": ("a bigint", [(1,), (3,), (-42,)]),
            "//tmp/t2": ("a bigint", [(5,), (42,), (3,), (1,)]),
        },
        steps=[
            ('select a from "//tmp/t1" where a global in '
             '(select * from "//tmp/t2") order by a', [[1], [3]]),
            ('select a from "//tmp/t2" where a global in '
             '(select * from "//tmp/t1") order by a', [[1], [3]]),
            ('select toInt64(42) global in (select * from "//tmp/t2")',
             [[1]]),
            ('select toInt64(43) global in (select * from "//tmp/t2")',
             [[0]]),
        ],
    ),
    dict(
        id="join/sorted_join_simple",
        ref="yt/chyt/tests/server/test_join_and_in.py:81",
        tables={
            "//tmp/t1": ("key bigint, lhs string",
                         [(i, f"foo{i}") for i in (1, 2, 3, 4)]),
            "//tmp/t2": ("key bigint, rhs string",
                         [(i, f"bar{i}") for i in (1, 2, 3, 4)]),
        },
        steps=[
            ('select key, lhs, rhs from "//tmp/t1" t1 join "//tmp/t2" t2 '
             "using key order by key",
             [[i, f"foo{i}", f"bar{i}"] for i in (1, 2, 3, 4)]),
            ('select t1.key as key, lhs, rhs from "//tmp/t1" t1 '
             'join "//tmp/t2" t2 on t1.key = t2.key order by key',
             [[i, f"foo{i}", f"bar{i}"] for i in (1, 2, 3, 4)]),
            ('select key, lhs, rhs from "//tmp/t1" t1 join "//tmp/t2" t2 '
             "on t1.key = t2.key order by key",
             [[i, f"foo{i}", f"bar{i}"] for i in (1, 2, 3, 4)]),
        ],
    ),
    dict(
        id="schema/common_schema_unsorted",
        ref="yt/chyt/tests/server/test_clickhouse_schema.py:60",
        # default missing_column_mode = read_as_null: disjoint member
        # columns widen by name, absent columns read NULL
        tables={
            "//tmp/t1": ("a bigint, b string, c double",
                         [(42, "x", 3.14)]),
            "//tmp/t2": ("a bigint, d double", [(17, 2.71)]),
        },
        steps=[
            ('select * from concatYtTables("//tmp/t1", "//tmp/t2") '
             "order by a",
             [[17, None, None, 2.71], [42, "x", 3.14, None]]),
            ('describe concatYtTables("//tmp/t1", "//tmp/t2")',
             [["a", "Nullable(Int64)"], ["b", "Nullable(String)"],
              ["c", "Nullable(Float64)"], ["d", "Nullable(Float64)"]]),
        ],
    ),
    dict(
        id="composite/decimal",
        ref="yt/chyt/tests/server/test_composite.py:115",
        # the 32/64/128 widths (Spark's DECIMAL ceiling is precision 38;
        # Decimal256 has no lowering and raises at parse)
        tables={"//tmp/t": ("d32 decimal(9,2), d64 decimal(15,5), "
                            "d128 decimal(30,10)",
                            [(Decimal("1.1"), Decimal("1234.1234"),
                              Decimal("123456789.123456789"))])},
        steps=[
            ('select * from "//tmp/t"',
             [[Decimal("1.10"), Decimal("1234.12340"),
               Decimal("123456789.1234567890")]]),
            ("select toTypeName(d32) as t1, toTypeName(d64) as t2, "
             'toTypeName(d128) as t3 from "//tmp/t"',
             [["Nullable(Decimal(9, 2))", "Nullable(Decimal(15, 5))",
               "Nullable(Decimal(30, 10))"]]),
            ("select toDecimal32(10.5, 5) as a, toDecimal64(100.005, 10) "
             "as b, CAST(0.000005, 'Decimal(35, 15)') as c, "
             "toDecimal128(15.43, 2) as d",
             [[Decimal("10.5"), Decimal("100.005"), Decimal("0.000005"),
               Decimal("15.43")]]),
        ],
    ),
    dict(
        id="composite/dict",
        ref="yt/chyt/tests/server/test_composite.py:20",
        tables={"//tmp/t": ("a map<string,string>",
                            [({},), ({"k1": "v1", "k2": "v2"},)])},
        steps=[
            ("select toTypeName(a) as ta from `//tmp/t` limit 1",
             [["Map(String, String)"]]),
            ("select mapKeys(a) as keys from `//tmp/t`",
             [[[]], [["k1", "k2"]]]),
            ("select mapValues(a) as vals from `//tmp/t`",
             [[[]], [["v1", "v2"]]]),
            ("select a['k1'] as k1 from `//tmp/t` "
             "where isNotNull(a['k1'])", [["v1"]]),
        ],
    ),
    dict(
        id="composite/struct",
        ref="yt/chyt/tests/server/test_composite.py:70",
        tables={"//tmp/t": ("a struct<s:string,i:bigint>",
                            [(("foo", 42),)])},
        steps=[
            ("select toTypeName(a) as ta from `//tmp/t`",
             [["Tuple(s String, i Int64)"]]),
            # CH spells member access by 1-based POSITION (a.1)
            ("select a.1 as s, a.2 as i from `//tmp/t`", [["foo", 42]]),
            ("select a.s as s, a.i as i from `//tmp/t`", [["foo", 42]]),
        ],
    ),
    dict(
        id="prewhere/actions",
        ref="yt/chyt/tests/server/test_prewhere.py:48",
        tables={
            "//tmp/t1": ("value1 bigint, value2 bigint, value3 bigint",
                         [(i, i, i) for i in range(4)]),
            "//tmp/t2": ("key bigint, value string",
                         [(0, "aaa"), (1, "bbb"), (2, "bbb"), (3, "ddd")]),
        },
        steps=[
            ('select count() as c from "//tmp/t1"', [[4]]),
            ('select count() as c from "//tmp/t1" prewhere (value1 < 3)',
             [[3]]),
            ('select count(*) as c from "//tmp/t1" prewhere (value1 < 3)',
             [[3]]),
            ('select count(value1) as c from "//tmp/t1" '
             "prewhere (value1 < 3)", [[3]]),
            ('select any(0) as c from "//tmp/t1" prewhere (value1 < 3)',
             [[0]]),
            ('select count(*) as c from "//tmp/t1" where value1 != 1 '
             "and value2 != 2 and (value1 != 2 or value2 != 3)", [[2]]),
            ('select count(*) as c from "//tmp/t1" '
             "where (value1 != 1 and value2 != 2) and 1=1", [[2]]),
            ('select count(value3) as c from "//tmp/t1" '
             "where value1 != 1 and value2 != 2 and true", [[2]]),
            ('select value from "//tmp/t2" prewhere key in '
             "(select key from \"//tmp/t2\" where value = 'bbb') "
             "order by value", [["bbb"], ["bbb"]]),
        ],
    ),
    dict(
        id="common/trivial_count",
        ref="yt/chyt/tests/server/test_common.py:1779",
        tables={
            "//tmp/st1": ("a bigint", [(1,), (2,)]),
            "//tmp/st2": ("a bigint", [(1,)]),
        },
        steps=[
            ('select count() as cnt from "//tmp/st1"', [[2]]),
            ("select count() as cnt from "
             "concatYtTables('//tmp/st1', '//tmp/st2')", [[3]]),
        ],
    ),
    dict(
        id="join/complex_join_key",
        ref="yt/chyt/tests/server/test_join_and_in.py:429",
        # positive steps only: the reference's raises-steps assert CHYT's
        # DISTRIBUTED sorted-join key-prefix constraints, which this
        # engine does not need (Spark shuffles/broadcasts any join shape)
        tables={
            "//tmp/t1": ("key bigint, subkey bigint, subkey2 bigint, "
                         "lvalue string",
                         [(0, 0, 0, "value0"), (5, 5, 5, "value5")]),
            "//tmp/t2": ("key bigint, subkey bigint, subkey2 bigint, "
                         "rvalue string",
                         [(0, 0, 0, "value0"), (5, 5, 5, "value5")]),
        },
        steps=[
            ('select key from "//tmp/t1" join "//tmp/t2" '
             "using key, subkey2 order by key", [[0], [5]]),
            ('select key from "//tmp/t1" a join "//tmp/t2" b '
             "on a.key=b.key and a.subkey=b.subkey2 order by key",
             [[0], [5]]),
            ('select key from "//tmp/t1" a join "//tmp/t2" b '
             "on a.lvalue=b.rvalue and a.key=b.key order by key",
             [[0], [5]]),
            ('select key from "//tmp/t1" a join "//tmp/t2" b on '
             "a.key = b.key and abs(a.subkey * 10 + 25) = "
             "abs(b.subkey * 20 - 25) order by key", [[0], [5]]),
            ('select key from "//tmp/t1" a full join '
             '(select * from "//tmp/t2") b on '
             "a.key = (intDiv(b.subkey, 5) * 5) order by key",
             [[0], [5]]),
        ],
    ),
    dict(
        id="join/right_or_full_join_simple",
        ref="yt/chyt/tests/server/test_join_and_in.py:131",
        tables={
            "//tmp/t1": ("key bigint, lhs string",
                         [(k, f"foo{k}") for k in (0, 1, 3, 7, 8)]),
            "//tmp/t2": ("key bigint, rhs string",
                         [(0, "bar0"), (0, "bar0"), (2, "bar2"),
                          (4, "bar4"), (9, "bar9")]),
        },
        steps=[
            ('select key, lhs, rhs from "//tmp/t1" t1 global right join '
             '"//tmp/t2" t2 using key order by key, rhs',
             [[0, "foo0", "bar0"], [0, "foo0", "bar0"],
              [2, None, "bar2"], [4, None, "bar4"], [9, None, "bar9"]]),
            ('select key, lhs, rhs from "//tmp/t1" t1 global full join '
             '"//tmp/t2" t2 using key order by key, rhs',
             [[0, "foo0", "bar0"], [0, "foo0", "bar0"],
              [1, "foo1", None], [2, None, "bar2"], [3, "foo3", None],
              [4, None, "bar4"], [7, "foo7", None], [8, "foo8", None],
              [9, None, "bar9"]]),
        ],
    ),
    dict(
        id="join/where_in_and_join",
        ref="yt/chyt/tests/server/test_join_and_in.py:622",
        tables={"//tmp/t": ("a bigint, b bigint", [(0, 0)])},
        steps=[(
            'select count(*) as count from "//tmp/t" a '
            "left join (select 0 as a) b on a.a = b.a " + f,
            [[n]],
        ) for f, n in [
            ("where not a.a = 0 or a.a in "
             "(select CAST(0, 'Nullable(Int64)'))", 1),
            ("where a.a not in (select CAST(0, 'Nullable(Int64)'))", 0),
            ("where (5 + (a.a in "
             "(select CAST(0, 'Nullable(Int64)')))) = 6", 1),
            ("prewhere a.a in (select CAST(0, 'Nullable(Int64)'))", 1),
            ('where (a.a, a.b) in "//tmp/t"', 1),
            ("where a.a global in (select CAST(0, 'Nullable(Int64)'))", 1),
        ]],
    ),
    dict(
        id="join/cross_join",
        ref="yt/chyt/tests/server/test_join_and_in.py:320",
        tables={
            "//tmp/t1": ("key1 bigint", [(1,), (2,)]),
            "//tmp/t2": ("key2 bigint", [(3,), (4,)]),
        },
        steps=[
            ("select * from `//tmp/t1` t1 cross join `//tmp/t2` t2 "
             "order by (key1, key2)",
             [[1, 3], [1, 4], [2, 3], [2, 4]]),
            ("select * from `//tmp/t1` t1 cross join `//tmp/t2` t2 "
             "where key1 == 1 order by (key1, key2)",
             [[1, 3], [1, 4]]),
        ],
    ),
    dict(
        id="join/join_for_unsorted_tables",
        ref="yt/chyt/tests/server/test_join_and_in.py:727",
        tables={
            "//tmp/t1": ("a bigint", [(1,)]),
            "//tmp/t2": ("a bigint", [(1,)]),
        },
        steps=[(
            'select * from "//tmp/t1" as a join "//tmp/t2" as b on a.a = b.a',
            [[1, 1]],
        )],
    ),
    dict(
        id="join/in_operator_plus_arithmetic",
        ref="yt/chyt/tests/server/test_join_and_in.py:661",
        tables={"//tmp/t": ("a bigint, b bigint", [(0, 0)])},
        steps=[(
            'select 5 + (a.a in (select a from "//tmp/t")) as sum '
            'from "//tmp/t" a left join (select 0 as a) b on a.a = b.a',
            [[6]],
        )],
    ),
    dict(
        id="join/array_join_clause",
        ref="yt/chyt/tests/server/test_join_and_in.py:746",
        tables={
            "//tmp/t1": ("a bigint", [(1,), (2,)]),
            "//tmp/t2": ("a bigint", [(1,), (2,)]),
        },
        steps=[(
            'select a, b from "//tmp/t1" as t1 join "//tmp/t2" as t2 '
            "using a array join [3, 4] as b order by a, b",
            [[1, 3], [1, 4], [2, 3], [2, 4]],
        )],
    ),
    dict(
        id="mutations/insert_values",
        ref="yt/chyt/tests/server/test_mutations.py:18",
        tables={"//tmp/t": (
            "i64 bigint, ui64 decimal(20,0), str string, dbl double, "
            "bool boolean", [],
        )},
        steps=[
            ('insert into "//tmp/t"(i64) values (1), (-2)', None),
            ('insert into "//tmp/t"(ui64) values (7), (8)', None),
            ('insert into "//tmp/t"(str) values (2)', None),
            ("insert into \"//tmp/t\"(i64, ui64, str, dbl, bool) "
             "values (-1, 1, 'abc', 3.14, 1)", None),
            ('insert into "//tmp/t"(i64, ui64, str, dbl, bool) '
             "values (NULL, NULL, NULL, NULL, NULL)", None),
            ('select i64, ui64, str, dbl, bool from "//tmp/t"', [
                [1, None, None, None, None],
                [-2, None, None, None, None],
                [None, 7, None, None, None],
                [None, 8, None, None, None],
                [None, None, "2", None, None],
                [-1, 1, "abc", 3.14, 1],
                [None, None, None, None, None],
            ]),
            ("insert into \"<append=%false>//tmp/t\" "
             "values (-2, 2, 'xyz', 2.71, 0)", None),
            ('select i64, ui64, str, dbl, bool from "//tmp/t"',
             [[-2, 2, "xyz", 2.71, 0]]),
        ],
    ),
    dict(
        id="mutations/insert_select",
        ref="yt/chyt/tests/server/test_mutations.py:166",
        tables={
            "//tmp/s1": (
                "i64 bigint, ui64 decimal(20,0), str string, dbl double, "
                "bool boolean",
                [(2, 3, "abc", 3.14, True), (-1, 7, "xyz", 2.78, False)],
            ),
            "//tmp/t": (
                "i64 bigint, ui64 decimal(20,0), str string, dbl double, "
                "bool boolean", [],
            ),
        },
        steps=[
            ('insert into "//tmp/t" select * from "//tmp/s1"', None),
            ('select i64, ui64, str, dbl, bool from "//tmp/t" order by i64',
             [[-1, 7, "xyz", 2.78, 0], [2, 3, "abc", 3.14, 1]]),
        ],
    ),
    dict(
        id="mutations/create_table_simple",
        ref="yt/chyt/tests/server/test_mutations.py:355",
        tables={},
        steps=[
            ('create table "//tmp/t"(i64 Int64, ui64 UInt64, str String, '
             "dbl Float64, i32 Int32, dt Date, dtm DateTime) "
             "engine YtTable() order by (str, i64)", None),
            # key columns move to the front of the stored schema
            ('describe "//tmp/t"',
             ("names", ["str", "i64", "ui64", "dbl", "i32", "dt", "dtm"])),
            # re-CREATE on an existing table errors
            ('create table "//tmp/t"(i64 Int64, str String) '
             "engine YtTable() order by (str, i64)", E),
        ],
    ),
    dict(
        id="mutations/create_table_as_select",
        ref="yt/chyt/tests/server/test_mutations.py:478",
        tables={"//tmp/s1": (
            "i64 bigint, ui64 decimal(20,0), str string, dbl double, "
            "bool boolean",
            [(-1, 3, "def", 3.14, True), (2, 7, "xyz", 2.78, False)],
        )},
        steps=[
            ('create table "//tmp/t1" engine YtTable() order by i64 '
             'as select * from "//tmp/s1"', None),
            ('select i64, ui64, str, dbl, bool from "//tmp/t1"',
             [[-1, 3, "def", 3.14, 1], [2, 7, "xyz", 2.78, 0]]),
        ],
    ),
    dict(
        id="mutations/truncate",
        ref="yt/chyt/tests/server/test_mutations.py (truncate family)",
        tables={"//tmp/t": ("a bigint", [(1,), (2,)])},
        steps=[
            ('truncate table "//tmp/t"', None),
            ('select count(*) from "//tmp/t"', [[0]]),
            ('describe "//tmp/t"', ("names", ["a"])),
        ],
    ),
    dict(
        id="prewhere/one_chunk",
        ref="yt/chyt/tests/server/test_prewhere.py:108",
        tables={"//tmp/table_1": (
            "i bigint, j bigint, k bigint",
            [(i, 10 + i if i < 10 else 110, 100 + i)
             for i in range(1, 11)],
        )},
        steps=[(
            'select i from "//tmp/table_1" prewhere j > 13 and j < 18 '
            "order by i",
            [[4], [5], [6], [7]],
        )],
    ),
    dict(
        id="prewhere/with_where",
        ref="yt/chyt/tests/server/test_prewhere.py:48 (actions family)",
        tables={"//tmp/t": (
            "key bigint, value string",
            [(0, "value 0"), (1, "value 1"), (2, "value 2"),
             (3, "value 3"), (4, "value 4")],
        )},
        steps=[(
            'select value from "//tmp/t" prewhere key % 2 = 0 '
            "where value != 'value 2' order by key",
            [["value 0"], ["value 4"]],
        )],
    ),
    dict(
        id="sql_udf/simple",
        ref="yt/chyt/tests/server/test_sql_udf.py:37",
        tables={},
        steps=[
            ("select number, linear_equation(number, 2, 1) from numbers(3)",
             E),
            ("create function linear_equation as (x, k, b) -> k*x + b",
             None),
            ("select number, linear_equation(number, 2, 1) as result "
             "from numbers(2)", [[0, 1], [1, 3]]),
        ],
    ),
    dict(
        id="sql_udf/drop",
        ref="yt/chyt/tests/server/test_sql_udf.py:72",
        tables={},
        steps=[
            ("drop function linear_equation", E),
            ("drop function if exists linear_equation", None),
            ("create function linear_equation as (x, k, b) -> k*x + b",
             None),
            ("select number, linear_equation(number, 2, 1) as result "
             "from numbers(1)", [[0, 1]]),
            ("drop function linear_equation", None),
            ("select number, linear_equation(number, 2, 1) from numbers(3)",
             E),
        ],
    ),
    dict(
        id="sql_udf/replace",
        ref="yt/chyt/tests/server/test_sql_udf.py:91",
        tables={},
        steps=[
            ("create function linear_equation as (x, k, b) -> k*x + b",
             None),
            ("select number, linear_equation(number, 2, 1) as result "
             "from numbers(1)", [[0, 1]]),
            ("create or replace function linear_equation as (x, k) -> k*x",
             None),
            ("select number, linear_equation(number, 2) as result "
             "from numbers(1)", [[0, 0]]),
        ],
    ),
    dict(
        id="sql_udf/bad_name",
        ref="yt/chyt/tests/server/test_sql_udf.py:108",
        tables={},
        steps=[
            ('create function "@acl" as (x, k) -> k*x', E),
            ('create function "some/path" as (x, k) -> k*x', E),
        ],
    ),
    dict(
        id="dictionaries/int_key_flat",
        ref="yt/chyt/tests/server/test_yt_dictionaries.py:12",
        tables={"//tmp/dict": (
            "key bigint, value_str string, value_i64 bigint",
            [(i, "str" + str(i), i * i) for i in (1, 3, 5)],
        )},
        dictionaries=[_NATION_DICT_CFG],
        steps=[(
            "select number, dictGetString('dict', 'value_str', number) "
            "as str, dictGetInt64('dict', 'value_i64', number) as i64 "
            "from numbers(5)",
            [[0, "n/a", 42], [1, "str1", 1], [2, "n/a", 42],
             [3, "str3", 9], [4, "n/a", 42]],
        )],
    ),
    dict(
        id="dictionaries/composite_key_hashed",
        ref="yt/chyt/tests/server/test_yt_dictionaries.py:61",
        tables={
            "//tmp/dict": (
                "key string, subkey bigint, value string",
                [("a", 1, "a1"), ("a", 2, "a2"), ("b", 1, "b1")],
            ),
            "//tmp/queries": (
                "key string, subkey bigint",
                [("a", 1), ("a", 2), ("b", 1), ("b", 2)],
            ),
        },
        dictionaries=[_COMPOSITE_DICT_CFG],
        steps=[(
            "select dictGetString('dict', 'value', tuple(key, subkey)) "
            'as value from "//tmp/queries"',
            [["a1"], ["a2"], ["b1"], ["n/a"]],
        )],
    ),
    dict(
        id="dictionaries/does_not_exist",
        ref="yt/chyt/tests/server/test_yt_dictionaries.py:208",
        tables={},
        steps=[(
            "select dictGetString('this_dict_does_not_exist', 'value', 1)",
            E,
        )],
    ),
    dict(
        id="table_functions/concat_yt_tables",
        ref="yt/chyt/tests/server/test_common.py:546 (concat family)",
        tables={
            "//tmp/t1": ("i bigint", [(0,), (1,)]),
            "//tmp/t2": ("i bigint", [(2,), (3,)]),
        },
        steps=[(
            "select * from concatYtTables('//tmp/t1', '//tmp/t2') "
            "order by i",
            [[0], [1], [2], [3]],
        )],
    ),
    dict(
        id="table_functions/concat_range",
        ref="yt/chyt/tests/server/test_common.py:635",
        tables={
            "//tmp/dir/t0": ("i bigint", [(0,)]),
            "//tmp/dir/t1": ("i bigint", [(1,)]),
            "//tmp/dir/t2": ("i bigint", [(2,)]),
            "//tmp/dir/t3": ("i bigint", [(3,)]),
        },
        steps=[(
            "select * from concatYtTablesRange('//tmp/dir', 't1', 't2') "
            "order by i",
            [[1], [2]],
        )],
    ),
    dict(
        id="dynamic/simple_read",
        ref="yt/chyt/tests/server/test_dynamic_tables.py:49",
        dyn_tables={"//tmp/dt": (
            [{"name": "key", "type": "int64", "sort_order": "ascending"},
             {"name": "value", "type": "string"}],
            "key bigint, value string",
            [(i, "foo" + str(i)) for i in range(10)],
        )},
        steps=[
            ("select * from `//tmp/dt` order by key",
             [[i, "foo" + str(i)] for i in range(10)]),
            ("select value from `//tmp/dt` where key == 5 order by key",
             [["foo5"]]),
            ("select key from `//tmp/dt` where value == 'foo7' order by key",
             [[7]]),
        ],
    ),
    dict(
        id="table_functions/yt_list_tables",
        ref="yt/chyt/tests/server/test_table_functions.py:63",
        tables={
            "//tmp/dir/t0": ("a bigint", [(0,), (1,), (2,)]),
            "//tmp/dir/t1": ("a bigint", [(0,), (1,), (2,)]),
        },
        steps=[(
            "select key from ytListTables('//tmp/dir') order by key",
            [["t0"], ["t1"]],
        )],
    ),
    dict(
        id="table_functions/yt_tables",
        ref="yt/chyt/tests/server/test_table_functions.py:258",
        tables={
            "//tmp/dir1/t0": ("a bigint", [(0,)]),
            "//tmp/dir1/t1": ("a bigint", [(1,)]),
            "//tmp/dir2/t2": ("a bigint", [(2,)]),
            "//tmp/dir2/t3": ("a bigint", [(3,)]),
            "//tmp/log_dir/1d/2021-01-01": ("a bigint", [(0,)]),
            "//tmp/log_dir/1h/2021-01-01T23:00:00": ("a bigint", [(1,)]),
            "//tmp/log_dir/1h/2021-01-02T00:00:00": ("a bigint", [(2,)]),
        },
        steps=[
            ("select * from ytTables('//tmp/dir1/t0', '//tmp/dir2/t2') "
             "order by a", [[0], [2]]),
            ("select * from ytTables(ytListTables('//tmp/dir1')) "
             "order by a", [[0], [1]]),
            ("select * from ytTables((select path from "
             "ytListNodes('//tmp/dir2') where key = 't2')) order by a",
             [[2]]),
            # the 1d table covers 2021-01-01 entirely, so the 23:00 1h
            # slice is dropped as covered (scan-line dedup)
            ("select * from ytTables(ytListLogTables('//tmp/log_dir')) "
             "order by a", [[0], [2]]),
        ],
    ),
    dict(
        id="schema/describe_types",
        ref="yt/chyt/tests/server/test_common.py:1893 (show columns)",
        tables={"//tmp/t": ("a bigint, b string, c double", [(1, "x", 0.5)])},
        steps=[(
            'describe "//tmp/t"',
            [["a", "Nullable(Int64)"], ["b", "Nullable(String)"],
             ["c", "Nullable(Float64)"]],
        )],
    ),
    dict(
        id="dynamic/prewhere",
        ref="yt/chyt/tests/server/test_dynamic_tables.py:86",
        dyn_tables={"//tmp/dt": (
            [{"name": "key", "type": "int64", "sort_order": "ascending"},
             {"name": "value", "type": "string"}],
            "key bigint, value string",
            [(i, "foo" + str(i)) for i in range(10)],
        )},
        steps=[(
            "select value from `//tmp/dt` prewhere key == 5 order by key",
            [["foo5"]],
        )],
    ),
    dict(
        id="dynamic/concat_with_static",
        ref="yt/chyt/tests/server/test_dynamic_tables.py:189",
        dyn_tables={"//tmp/dt": (
            [{"name": "key", "type": "int64", "sort_order": "ascending"},
             {"name": "value", "type": "string"}],
            "key bigint, value string",
            [(i, "foo" + str(i)) for i in range(3)],
        )},
        tables={"//tmp/st": ("key bigint, value string",
                             [(i, "foo" + str(i)) for i in range(3)])},
        steps=[
            ("select * from concatYtTables(`//tmp/dt`) order by key",
             [[i, "foo" + str(i)] for i in range(3)]),
            ("select * from concatYtTables(`//tmp/dt`, `//tmp/st`) "
             "order by key, value",
             sorted([[i, "foo" + str(i)] for i in range(3)] * 2)),
            ("select * from concatYtTables(`//tmp/st`, `//tmp/dt`) "
             "order by key, value",
             sorted([[i, "foo" + str(i)] for i in range(3)] * 2)),
        ],
    ),
    # --- test_yson_functions.py: the YPath* family over Any columns ---------
    dict(
        id="yson/ypath_strict_vs_nonstrict",
        ref="yt/chyt/tests/server/test_yson_functions.py:86,110",
        tables={"//tmp/t": (
            "i bigint, v string",
            [(0, "{i64=-42;subnode={i64=123}}"),
             (1, "{i64=xyz}"),       # wrong type
             (3, "{}"),              # key missing
             (4, "{i64=57}")],
        )},
        steps=[
            ("select YPathInt64Strict(v, '/i64') from \"//tmp/t\" "
             "where i = 0", [[-42]]),
            ("select YPathInt64Strict(v, '/i64') from \"//tmp/t\" "
             "where i = 1", E),
            ("select YPathInt64Strict(v, '/i64') from \"//tmp/t\" "
             "where i = 3", E),
            ("select YPathUInt64Strict(v, '/i64') from \"//tmp/t\" "
             "where i = 4", [[57]]),
            ("select YPathUInt64Strict(v, '/subnode/i64') from "
             "\"//tmp/t\" where i = 0", [[123]]),
            # non-strict: NULL on mismatch/missing
            ("select YPathInt64(v, '/i64') as r from \"//tmp/t\" "
             "order by i", [[-42], [None], [None], [57]]),
        ],
    ),
    dict(
        id="yson/ypath_all_types",
        ref="yt/chyt/tests/server/test_yson_functions.py:123,148",
        tables={"//tmp/t": (
            "i bigint, v string",
            [(0, "{i64=-42;ui64=23u;bool=%true;dbl=3.14;str=xyz;"
                 "arr_i64=[-1;0;1];arr_ui64=[1u;1u;2u;3u;5u];"
                 "arr_dbl=[-1.1;2.71];arr_bool=[%false;%true;%false]}"),
             (3, "{}")],
        )},
        steps=[
            ("select YPathInt64Strict(v, '/i64') as i64, "
             "YPathUInt64Strict(v, '/ui64') as ui64, "
             "YPathDoubleStrict(v, '/dbl') as dbl, "
             "YPathBooleanStrict(v, '/bool') as bool, "
             "YPathStringStrict(v, '/str') as str, "
             "YPathArrayInt64Strict(v, '/arr_i64') as arr_i64, "
             "YPathArrayUInt64Strict(v, '/arr_ui64') as arr_ui64, "
             "YPathArrayDoubleStrict(v, '/arr_dbl') as arr_dbl, "
             "YPathArrayBooleanStrict(v, '/arr_bool') as arr_bool "
             "from \"//tmp/t\" where i = 0",
             [[-42, 23, 3.14, True, "xyz", [-1, 0, 1], [1, 1, 2, 3, 5],
               [-1.1, 2.71], [False, True, False]]]),
            # non-strict over the empty map: NULL scalars, EMPTY arrays
            ("select YPathInt64(v, '/i64') as i64, "
             "YPathUInt64(v, '/ui64') as ui64, "
             "YPathDouble(v, '/dbl') as dbl, "
             "YPathBoolean(v, '/bool') as bool, "
             "YPathString(v, '/str') as str, "
             "YPathArrayInt64(v, '/arr_i64') as arr_i64, "
             "YPathArrayUInt64(v, '/arr_ui64') as arr_ui64, "
             "YPathArrayDouble(v, '/arr_dbl') as arr_dbl, "
             "YPathArrayBoolean(v, '/arr_bool') as arr_bool "
             "from \"//tmp/t\" where i = 3",
             [[None, None, None, None, None, [], [], [], []]]),
        ],
    ),
    dict(
        id="yson/ypath_const_and_nulls",
        ref="yt/chyt/tests/server/test_yson_functions.py:173,182,188",
        tables={"//tmp/t": (
            "i bigint, v string, key string",
            [(0, "{arr_i64=[-1;0;1]}", "/arr_i64/0"),
             (1, "{i64=xyz}", "/i64"),
             (5, None, "/unknown"),
             (6, "{x=10}", "/x/y/z")],
        )},
        steps=[
            ("select YPathString('{a=[1;2;{b=xyz}]}', '/a/2/b') as str",
             [["xyz"]]),
            ("select YPathArrayInt64Strict('[[6];[7];[8]]', '')", E),
            ("select YPathArrayInt64('[[6];[7];[8]]', '') as value",
             [[[]]]),
            ("select YPathString(NULL, NULL) as a, "
             "YPathString(NULL, '/x') as b, YPathString('{a=1}', NULL) "
             "as c", [[None, None, None]]),
            # per-row path argument (the key COLUMN addresses each row)
            ("select YPathInt64(v, key) as r from \"//tmp/t\" order by i",
             [[-1], [None], [None], [None]]),
        ],
    ),
    dict(
        id="yson/ypath_extract_typed",
        ref="yt/chyt/tests/server/test_yson_functions.py:234,249",
        tables={"//tmp/s1": (
            "a string", [("{a=[[1;2;3];[4;5];[6;7;8;9]]}",)],
        )},
        steps=[
            ("select YPathExtract(a, '/a/1/1', 'UInt64') as i "
             "from \"//tmp/s1\"", [[5]]),
            ("select YPathExtract(a, '/a/2', 'Array(UInt64)') as i "
             "from \"//tmp/s1\"", [[[6, 7, 8, 9]]]),
            ("select YPathExtract(a, '/a', 'Array(Array(UInt64))') as i "
             "from \"//tmp/s1\"", [[[[1, 2, 3], [4, 5], [6, 7, 8, 9]]]]),
            ("select YPathRaw('[foo; bar]', '', 'text') as a",
             [['["foo";"bar";]']]),
        ],
    ),
    dict(
        id="ddl/drop_nonexistent_table",
        ref="yt/chyt/tests/server/test_ddl.py:13",
        tables={},
        steps=[
            ('exists "//tmp/t"', [[0]]),
            ('drop table "//tmp/t"', E),
        ],
    ),
    dict(
        id="ddl/rename_table",
        ref="yt/chyt/tests/server/test_ddl.py:34,49",
        tables={
            "//tmp/t": ("a string", [("2012-12-12 20:00:00",)]),
            "//tmp/s": ("a string", []),
        },
        steps=[
            # target exists -> error, target untouched
            ('rename table "//tmp/t" to "//tmp/s"', E),
            ('select * from "//tmp/s"', []),
            # source missing -> error
            ('rename table "//tmp/tt" to "//tmp/ss"', E),
            # the happy path moves the node
            ('rename table "//tmp/t" to "//tmp/tt"', None),
            ('exists "//tmp/t"', [[0]]),
            ('select * from "//tmp/tt"', [["2012-12-12 20:00:00"]]),
        ],
    ),
    dict(
        id="ddl/exchange_tables",
        ref="yt/chyt/tests/server/test_ddl.py:59,69",
        tables={
            "//tmp/t": ("a string", [("2012-12-12 20:00:00",)]),
            "//tmp/s": ("a string", [("string",)]),
        },
        steps=[
            ('exchange tables "//tmp/t" and "//tmp/nope"', E),
            ('exchange tables "//tmp/t" and "//tmp/s"', None),
            ('select * from "//tmp/t"', [["string"]]),
            ('select * from "//tmp/s"', [["2012-12-12 20:00:00"]]),
        ],
    ),
    dict(
        id="ddl/truncate_error",
        ref="yt/chyt/tests/server/test_ddl.py:80",
        tables={},
        dyn_tables={"//tmp/t1": (
            [{"name": "k", "sort_order": "ascending"}, {"name": "v"}],
            "k bigint, v string", [(1, "a")],
        )},
        steps=[
            ('truncate table "//tmp/t"', E),
            ('truncate table "//tmp/t1"', E),
        ],
    ),
    dict(
        id="ddl/create_table_unsupported_engine",
        ref="yt/chyt/tests/server/test_ddl.py:106",
        tables={},
        steps=[
            ('create table "//tmp/t_unsupported" (a String) engine Memory',
             E),
        ],
    ),
    dict(
        id="columnar/integer",
        ref="yt/chyt/tests/server/test_columnar_read.py:41",
        tables={
            "//tmp/t1": ("x bigint", [(i,) for i in range(10)]),
            "//tmp/t2": ("x bigint",
                         [(i if i % 3 == 0 else None,) for i in range(10)]),
        },
        steps=[
            ('select * from "//tmp/t1"', [[i] for i in range(10)]),
            ('select * from "//tmp/t2"',
             [[i if i % 3 == 0 else None] for i in range(10)]),
        ],
    ),
    dict(
        id="columnar/boolean",
        ref="yt/chyt/tests/server/test_columnar_read.py:66",
        tables={"//tmp/t": (
            "x boolean",
            [(True,), (None,), (False,), (None,), (True,), (True,),
             (None,), (False,)],
        )},
        steps=[
            ('select * from "//tmp/t"',
             [[1], [None], [0], [None], [1], [1], [None], [0]]),
        ],
    ),
    dict(
        id="columnar/floating_point",
        ref="yt/chyt/tests/server/test_columnar_read.py:74",
        tables={"//tmp/t": (
            "x double", [(1.0,), (2.0,), (None,), (3.14,), (2.7,), (None,)],
        )},
        steps=[
            ('select * from "//tmp/t"',
             [[1.0], [2.0], [None], [3.14], [2.7], [None]]),
        ],
    ),
    dict(
        id="columnar/string",
        ref="yt/chyt/tests/server/test_columnar_read.py:82",
        tables={"//tmp/t": (
            "x string",
            [("\x00" * 10,), ("some\x00nulls\x00inside",), ("",),
             ("hello",), (None,), ("world",)],
        )},
        steps=[
            ('select * from "//tmp/t"',
             [["\x00" * 10], ["some\x00nulls\x00inside"], [""],
              ["hello"], [None], ["world"]]),
        ],
    ),
    dict(
        id="columnar/nonuniform_nullability",
        ref="yt/chyt/tests/server/test_columnar_read.py:251",
        tables={
            "//tmp/t1": ("x string", [("hello",)]),
            "//tmp/t2": ("x string", [(None,), ("world",)]),
        },
        steps=[
            # ClickHouse ASC ordering puts NULLs LAST
            ("select * from concatYtTables(\"//tmp/t1\", \"//tmp/t2\") "
             "order by x",
             [["hello"], ["world"], [None]]),
        ],
    ),
    dict(
        id="columnar/integral_upcast",
        ref="yt/chyt/tests/server/test_columnar_read.py:282",
        tables={
            "//tmp/t1": ("x int", [(1,)]),
            "//tmp/t2": ("x bigint", [(1099511627776,)]),
        },
        steps=[
            ("select * from concatYtTables(\"//tmp/t1\", \"//tmp/t2\") "
             "order by x",
             [[1], [1099511627776]]),
        ],
    ),
    dict(
        id="schema/nulls_in_primary_key",
        ref="yt/chyt/tests/server/test_clickhouse_schema.py:348",
        tables={
            "//tmp/t1": ("a bigint", [(None,), (-1,), (42,)]),
        },
        steps=[
            ('select a from "//tmp/t1" order by a nulls first',
             [[None], [-1], [42]]),
            ('select a from "//tmp/t1" where isNull(a)', [[None]]),
            ('select a from "//tmp/t1" where isNotNull(a)', [[-1], [42]]),
            ("select a from concatYtTables('//tmp/t1') "
             "order by a nulls first", [[None], [-1], [42]]),
        ],
    ),
    dict(
        id="schema/float_and_double",
        ref="yt/chyt/tests/server/test_clickhouse_schema.py:373",
        tables={
            "//tmp/t1": ("a float", [(1.0,)]),
            "//tmp/t2": ("a double", [(2.0,)]),
        },
        steps=[
            # float + double widen to Nullable(Float64) across the concat
            ("select toTypeName(a) as t from "
             "concatYtTables(\"//tmp/t1\", \"//tmp/t2\") limit 1",
             [["Nullable(Float64)"]]),
            ("select a from concatYtTables('//tmp/t1', '//tmp/t2') "
             "order by a", [[1.0], [2.0]]),
        ],
    ),
    dict(
        id="input_fetching/chunk_filter",
        ref="yt/chyt/tests/server/test_input_fetching.py:31",
        tables={"//tmp/t": ("i bigint", [(i,) for i in range(10)])},
        steps=[
            ('select * from "//tmp/t" where i >= 3 order by i',
             [[i] for i in range(3, 10)]),
            ('select * from "//tmp/t" prewhere i < 2 order by i',
             [[0], [1]]),
            ('select * from "//tmp/t" where 5 <= i and i <= 8 order by i',
             [[5], [6], [7], [8]]),
            ('select * from "//tmp/t" prewhere i in (-1, 2, 8, 8, 15) '
             "order by i", [[2], [8]]),
        ],
    ),
    dict(
        id="dynamic/ordered_simple",
        ref="yt/chyt/tests/server/test_dynamic_tables.py:96",
        tables={},
        dyn_tables={"//tmp/dt": (
            [{"name": "data", "type": "string"}],
            "data string", [(f"foo{i}",) for i in range(10)],
        )},
        steps=[
            ("select * from `//tmp/dt` order by data",
             [[f"foo{i}"] for i in range(10)]),
            ("select * from `//tmp/dt` where data == 'foo7'", [["foo7"]]),
            ("select * from `<ranges=[{lower_limit={tablet_index=0; "
             "row_index=3};upper_limit={tablet_index=0; row_index=8}}]>"
             "//tmp/dt` order by data",
             [[f"foo{i}"] for i in range(3, 8)]),
        ],
    ),
    dict(
        id="dynamic/ordered_partial_select",
        ref="yt/chyt/tests/server/test_dynamic_tables.py:149",
        tables={},
        dyn_tables={"//tmp/dt": (
            [{"name": "data1", "type": "string"},
             {"name": "data2", "type": "string"},
             {"name": "data3", "type": "string"}],
            "data1 string, data2 string, data3 string",
            [(f"foo{i}", f"foo2-{i}", f"foo3-{i}") for i in range(10)],
        )},
        steps=[
            ("select `data1`, `data3` from `//tmp/dt` order by data1",
             [[f"foo{i}", f"foo3-{i}"] for i in range(10)]),
        ],
    ),
    dict(
        id="dynamic/ordered_concat",
        ref="yt/chyt/tests/server/test_dynamic_tables.py:189",
        tables={"//tmp/st": ("data string",
                             [(f"foo{i}",) for i in range(10)])},
        dyn_tables={"//tmp/dt": (
            [{"name": "data", "type": "string"}],
            "data string", [(f"foo{i}",) for i in range(10)],
        )},
        steps=[
            ("select * from concatYtTables(`//tmp/dt`) order by data",
             [[f"foo{i}"] for i in range(10)]),
            ("select * from concatYtTables(`//tmp/dt`, `//tmp/dt`) "
             "order by data",
             sorted([[f"foo{i}"] for i in range(10)] * 2)),
            ("select * from concatYtTables(`//tmp/dt`, `//tmp/st`) "
             "order by data",
             sorted([[f"foo{i}"] for i in range(10)] * 2)),
            ("select * from concatYtTables(`//tmp/st`, `//tmp/dt`) "
             "order by data",
             sorted([[f"foo{i}"] for i in range(10)] * 2)),
        ],
    ),
    dict(
        id="dynamic/ordered_insert",
        ref="yt/chyt/tests/server/test_dynamic_tables.py:233",
        tables={},
        dyn_tables={"//tmp/dt": (
            [{"name": "data", "type": "string"}],
            "data string", [],
        )},
        steps=[
            ("insert into `//tmp/dt` select 'abcd' as data", None),
            ("select data from `//tmp/dt`", [["abcd"]]),
        ],
    ),
    dict(
        id="dynamic/write_to_dynamic_table",
        ref="yt/chyt/tests/server/test_dynamic_tables.py:451",
        tables={},
        dyn_tables={"//tmp/t": (
            [{"name": "key", "sort_order": "ascending"},
             {"name": "value"}],
            "key bigint, value string", [(100, "seed")],
        )},
        steps=[
            ("insert into `//tmp/t` select number as key, "
             "toString(number) as value from numbers(10)", None),
            ("select * from `//tmp/t` order by key",
             [[i, str(i)] for i in range(10)] + [[100, "seed"]]),
            # re-insert upserts by key, not duplicates
            ("insert into `//tmp/t` select number as key, "
             "toString(number + 1) as value from numbers(10)", None),
            ("select * from `//tmp/t` order by key",
             [[i, str(i + 1)] for i in range(10)] + [[100, "seed"]]),
            ("insert into `<append=%false>//tmp/t` select number as key, "
             "toString(number) as value from numbers(10)", E),
        ],
    ),
    dict(
        id="input_fetching/ypath_ranges",
        ref="yt/chyt/tests/server/test_input_fetching.py:1592,1615",
        tables={"//tmp/t": (
            "ki bigint, ks string, v string",
            [(ki, ks, f"{ki}{ks}") for ki in range(9)
             for ks in ("abc", "def", "ghi")],
            {"key_columns": ["ki", "ks"], "sorted_by": ["ki", "ks"]},
        )},
        steps=[
            ("select v from `//tmp/t[#3:#6]` order by v",
             [["1abc"], ["1def"], ["1ghi"]]),
            ("select v from `//tmp/t[#24]`", [["8abc"]]),
            ("select v from `//tmp/t[(1,\"def\"):(2,\"ghi\")]` "
             "order by v",
             [["1def"], ["1ghi"], ["2abc"], ["2def"]]),
            ("select v from `//tmp/t[(1):(2)]` order by v",
             [["1abc"], ["1def"], ["1ghi"]]),
            ("select v from `//tmp/t[(0,\"def\")]`", [["0def"]]),
            ("select count(*) from `//tmp/t[#3:#6, #24:]`", [[6]]),
        ],
    ),
    dict(
        id="composite/low_cardinality",
        ref="yt/chyt/tests/server/test_composite.py:230",
        tables={},
        steps=[
            ('create table "//tmp/t0" engine YtTable() as '
             "select toLowCardinality(str) as lc_str, "
             "toLowCardinality(nullable_str) as lc_nullable_str, "
             "toLowCardinality(int) as lc_int "
             "from system.one "
             "array join ['a', 'bc', 'a', 'cde'] as str, "
             "[Null, 'ab', 'b', 'ab'] as nullable_str, "
             "[1, 2, 3, 1] as int", None),
            ('select lc_str, lc_nullable_str, lc_int from "//tmp/t0" '
             "order by lc_str, lc_int",
             [["a", None, 1], ["a", "b", 3], ["bc", "ab", 2],
              ["cde", "ab", 1]]),
        ],
    ),
    dict(
        id="common/unescaped_yson",
        ref="yt/chyt/tests/server/test_common.py:1028",
        tables={"//tmp/table": (
            "i string, fmt string",
            [('["test";"АБВГДЕЖЗИЙКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯ\\nабвгдежзийклмнопрстуфхцчшщъыьэюя\\n";]', "unescaped_text"),
             ('{"key"="\\\\знач\\rение\\""}', "unescaped_pretty"),
             (None, "unescaped_text")],
        )},
        steps=[
            ('select ConvertYson(i, fmt) as a from "//tmp/table"',
             [['["test";"АБВГДЕЖЗИЙКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯ\\nабвгдежзийклмнопрстуфхцчшщъыьэюя\\n";]'],
              ['{\n    "key" = "\\\\знач\\rение\\"";\n}'],
              [None]]),
        ],
    ),
]


def _normalize(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return [_normalize(x) for x in v]
    if isinstance(v, dict):
        return tuple(sorted((k, _normalize(x)) for k, x in v.items()))
    return v


def _rows_of(df):
    return sorted(
        (tuple(_normalize(v) for v in row) for row in df.collect()),
        key=repr,
    )


def _expected_rows(expected):
    return sorted(
        (tuple(_normalize(v) for v in row) for row in expected), key=repr
    )


def run_case(spark, case) -> dict:
    from ytsaurus_spark.chyt import chyt_execute
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.operators import scratch_dir

    client = YtClient(root=scratch_dir("chyt_conf_"), spark=spark)
    client.create("map_node", "//tmp")
    for path, spec in case.get("tables", {}).items():
        ddl, rows = spec[0], spec[1]
        extra_attrs = spec[2] if len(spec) > 2 else None
        parent = path.rsplit("/", 1)[0]
        if parent and not client.exists(parent):
            client.create("map_node", parent, recursive=True)
        rows = [
            tuple(Decimal(v) if isinstance(v, int) and not isinstance(v, bool)
                  and "decimal" in ddl.split(",")[i].lower() else v
                  for i, v in enumerate(r))
            for r in rows
        ]
        # single partition: write_table's stored row order must be the
        # given order (the reference's ordered-chunk semantics) so that
        # rich-YPath row ranges ([#2:#9]) index deterministically
        client.write_table(path, spark.createDataFrame(rows, ddl).coalesce(1))
        if extra_attrs:
            from ytsaurus_spark.sources.formats import (
                _write_attrs, table_attributes,
            )

            merged = dict(table_attributes(client._fs(path)))
            merged.update(extra_attrs)
            _write_attrs(client._fs(path), merged)
    for path, (schema, ddl, rows) in case.get("dyn_tables", {}).items():
        client.create("table", path,
                      attributes={"dynamic": True, "schema": schema})
        client.insert_rows(path, spark.createDataFrame(rows, ddl))
    dicts = case.get("dictionaries")

    for i, (stmt, expected) in enumerate(case["steps"]):
        if isinstance(expected, tuple) and expected[0] == "unsupported":
            return {"status": "UNSUPPORTED", "step": i, "why": expected[1]}
        try:
            df = chyt_execute(spark, stmt, client=client, sf_dir=None,
                              dictionaries=dicts)
            got = _rows_of(df) if df is not None else None
        except Exception as e:
            if expected is E:
                continue
            return {"status": "ERR", "step": i,
                    "why": f"{type(e).__name__}: {str(e)[:300]}"}
        if expected is E:
            return {"status": "DIFF", "step": i,
                    "why": "expected an error, statement succeeded"}
        if expected is None:
            continue
        if isinstance(expected, tuple) and expected[0] == "names":
            names = [r[0] for r in (df.collect() if df is not None else [])]
            if names != expected[1]:
                return {"status": "DIFF", "step": i,
                        "why": f"column order {names} != {expected[1]}"}
            continue
        want = _expected_rows(expected)
        if got != want:
            return {"status": "DIFF", "step": i,
                    "why": f"got {got[:4]} want {want[:4]}"}
    return {"status": "PASS"}


def main() -> int:
    only = set(sys.argv[1:])
    from ytsaurus_spark.session import get_spark

    spark = get_spark("chyt-conformance")
    results = {}
    t0 = time.time()
    for case in CASES:
        if only and case["id"] not in only:
            continue
        t = time.time()
        try:
            r = run_case(spark, case)
        except Exception as e:  # setup failure
            r = {"status": "ERR", "step": -1,
                 "why": f"setup: {type(e).__name__}: {str(e)[:300]}"}
        r["ref"] = case["ref"]
        r["sec"] = round(time.time() - t, 2)
        results[case["id"]] = r
        print(f"{r['status']:12s} {case['id']:45s} [{r['sec']}s]"
              + (f" {r.get('why', '')[:80]}" if r["status"] != "PASS" else ""))

    counts: dict[str, int] = {}
    for r in results.values():
        counts[r["status"]] = counts.get(r["status"], 0) + 1
    print(f"\n{counts} in {round(time.time() - t0, 1)}s")
    if not only:
        out = {
            "harvested_from": [
                "test_common.py", "test_join_and_in.py", "test_mutations.py",
                "test_prewhere.py", "test_sql_udf.py",
                "test_yt_dictionaries.py", "test_table_functions.py",
                "test_yson_functions.py", "test_dynamic_tables.py",
            ],
            "n_cases": len(results),
            "counts": counts,
            "cases": results,
        }
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "CHYT_CONFORMANCE.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print("wrote CHYT_CONFORMANCE.json")
    return 1 if counts.get("DIFF") or counts.get("ERR") else 0


if __name__ == "__main__":
    sys.exit(main())
