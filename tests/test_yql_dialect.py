"""YQL dialect shim unit tests: translator mechanics (comments, statement
splitting, named expressions, backtick paths, pragma parsing/mapping) plus
an end-to-end yql_select run against the fixtures. The conformance proof —
the reference's own bench files verbatim vs a DuckDB oracle — lives in the
registry (queries/yql_q.py, yql_q01/03/42/52/55)."""

from __future__ import annotations

import os

import pytest

from ytsaurus_spark.yql.dialect import (
    PRAGMA_CONF_MAP,
    apply_pragmas,
    parse_size,
    pragma_confs,
    split_statements,
    strip_comments,
    translate_yql,
)


def test_strip_comments_preserves_strings():
    assert strip_comments("select '--not a comment' -- real\nfrom t") == (
        "select '--not a comment' \nfrom t"
    )


def test_split_statements_respects_quotes_and_parens():
    text = "$a = (select 1; );select ';' as x; select 2"
    # the ; inside parens and inside the string literal must not split
    assert split_statements(text) == [
        "$a = (select 1; )",
        "select ';' as x",
        "select 2",
    ]


def test_named_expressions_become_with_chain():
    tq = translate_yql(
        """
        -- NB: named expressions instead of WITH
        $base = (select 1 as x);
        $doubled = (select x * 2 as y from $base);
        select y from $doubled;
        """
    )
    assert tq.named == ("base", "doubled")
    assert tq.sql.startswith("WITH base AS")
    assert "doubled AS" in tq.sql and "from doubled" in tq.sql
    assert "$" not in tq.sql


def test_undefined_ref_raises():
    with pytest.raises(ValueError, match=r"\$missing"):
        translate_yql("select * from $missing;")


def test_forward_ref_raises():
    # YQL requires definition before use; a forward $ref is an error
    with pytest.raises(ValueError, match=r"\$later"):
        translate_yql(
            "$early = (select * from $later); $later = (select 1 as x);"
            "select * from $early;"
        )


def test_backtick_paths_take_basename():
    tq = translate_yql(
        'pragma TablePathPrefix = "home/tpcds/3Tb";\n'
        "select count(*) as n from `home/tpcds/3Tb/store_sales`;"
    )
    assert "from store_sales" in tq.sql
    assert tq.pragmas["TablePathPrefix"] == "home/tpcds/3Tb"


def test_reference_public_pragma_set_fully_mapped():
    # every pragma in the reference's public set must have a mapping row
    path = "/root/reference/yt/benchmarks/run/public_pragmas/default.sql"
    if not os.path.exists(path):
        pytest.skip("reference checkout not present")
    with open(path) as fh:
        tq = translate_yql(fh.read() + "\nselect 1 as x;")
    assert len(tq.pragmas) >= 20
    confs = pragma_confs(tq.pragmas)  # raises on any unmapped pragma
    assert confs["spark.sql.autoBroadcastJoinThreshold"] == str(4 * 2**30)
    assert confs["spark.sql.files.maxPartitionBytes"] == str(64 * 2**20)


def test_unknown_pragma_raises():
    with pytest.raises(ValueError, match="no Spark mapping"):
        pragma_confs({"yt.NotARealKnob": "1"})


def test_parse_size():
    assert parse_size("4G") == 4 * 2**30
    assert parse_size("64M") == 64 * 2**20
    assert parse_size("123") == 123


def test_apply_pragmas_isolated_session(spark):
    s2 = spark.newSession()
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev = apply_pragmas(s2, {"yt.MapJoinLimit": "1G"})
    assert s2.conf.get("spark.sql.autoBroadcastJoinThreshold") == str(2**30)
    # the shared session is untouched — pragmas never leak
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
    assert "spark.sql.autoBroadcastJoinThreshold" in prev


def test_yql_select_end_to_end(spark, sf_dir):
    from ytsaurus_spark.yql import yql_select

    df = yql_select(
        spark,
        """
        $big = (select o_custkey, sum(CAST(round(o_totalprice * 100) AS
        BIGINT)) as cents from orders group by o_custkey);
        select c_name, cents from $big cross join customer
        where o_custkey = c_custkey and cents > 0
        order by cents desc limit 5;
        """,
        sf_dir=sf_dir,
        star=False,
    )
    rows = df.collect()
    assert 0 < len(rows) <= 5
    assert rows[0]["cents"] >= rows[-1]["cents"]
    # isolation: the temp views registered for the YQL run live in the
    # private session, not the caller's
    assert spark.newSession() is not df.sparkSession


def test_star_views_match_channel_derivation(spark, sf_dir):
    from ytsaurus_spark.yql.tpcds_star import register_star_views

    s2 = register_star_views(spark.newSession(), sf_dir)
    n_ss = s2.sql("select count(*) as n from store_sales").collect()[0].n
    n_li = s2.sql(
        "select count(*) as n from lineitem where l_linenumber % 3 = 0"
    ).collect()[0].n
    assert n_ss == n_li
    # customer dim shadows the fixture name inside the isolated session
    cols = s2.sql("select * from customer limit 1").columns
    assert "c_customer_sk" in cols and "c_custkey" not in cols


# --- codec gating (functions/compress.py) -----------------------------------
# Placed here rather than a new file: small, same session fixture.


def test_codec_registry_gates_and_roundtrips(spark):
    import pytest as _pytest

    from ytsaurus_spark.functions.compress import _codec, compress, decompress

    # stdlib codecs roundtrip through the executor-side pandas UDFs
    df = spark.createDataFrame([(1, "hello world " * 20)], "id int, t string")
    out = df.select(
        decompress(compress("t", "lzma"), "lzma").cast("string").alias("r")
    ).collect()
    assert out[0].r == "hello world " * 20
    # non-stdlib codecs are import-gated with the library name in the error
    for name in ("brotli", "lz4", "snappy", "zstd"):
        with _pytest.raises((ImportError, ModuleNotFoundError)):
            _codec(name)
    with _pytest.raises(ValueError, match="unknown codec"):
        _codec("rot13")


# --- round-7 translator extensions ------------------------------------------


def test_ref_contexts():
    from ytsaurus_spark.yql.dialect import translate_yql

    tq = translate_yql(
        """
        $m = (select max(x) as m from t);
        $keys = (select k from t2);
        select * from t3 where k in $keys and v > 0.95 * $m;
        """
    )
    assert "IN (SELECT * FROM keys)" in tq.sql
    # real literals take scientific form: YQL types them Double
    assert "0.95e0 * (SELECT * FROM m)" in tq.sql
    assert "$" not in tq.sql


def test_multi_result_script_scoping():
    from ytsaurus_spark.yql.dialect import translate_yql_script

    parts = translate_yql_script(
        "$a = (select 1 as x); select x from $a;"
        "$b = (select 2 as y); select y from $b;"
    )
    assert len(parts) == 2
    # the first result sees only $a; the second sees both
    assert parts[0].named == ("a",)
    assert parts[1].named == ("a", "b")


def test_quoted_alias_sanitized():
    from ytsaurus_spark.yql.dialect import translate_yql

    tq = translate_yql("select 1 as `30 days`, 2 as `order count`;")
    assert "q30_days" in tq.sql and "order_count" in tq.sql
    assert "`" not in tq.sql


def test_module_function_rewrites():
    from ytsaurus_spark.yql.dialect import translate_yql

    tq = translate_yql(
        "select Math::Round(a/b,-2) as r, upper_bound\n"
        "from t where d between CAST('2001-01-01' AS DATE)\n"
        "and (cast('2001-01-01' as date) + DateTime::IntervalFromDays(30))\n"
        "and e < cast('P30D' as interval) + f\n"
        "and g = Date('2000-06-17');"
    )
    assert "round(a/b, 2)" in tq.sql
    assert tq.sql.count("INTERVAL 30 DAY") == 2
    assert "CAST('2000-06-17' AS DATE)" in tq.sql


def test_groupby_as_rewrite_flat_only():
    from ytsaurus_spark.yql.dialect import translate_yql

    # flat statement: the named group-by expression moves to the select list
    tq = translate_yql(
        "select bla, sum(v) as s from t\n"
        "group by substring(cast(w as string),1,20) as bla\n"
        "order by bla;"
    )
    # ,1, shifts to ,2,: YQL SUBSTRING offsets are 0-based (dialect rule)
    assert "substring(cast(w as string),2,20) AS bla" in tq.sql
    assert " as bla\norder by" not in tq.sql.lower()
    # non-flat statements (subqueries/unions) pass through untouched
    nested = (
        "select * from (select a as b from t group by a) q\n"
        "union all select a from t2 group by a;"
    )
    assert translate_yql(nested).sql.strip() == nested.rstrip(";").strip()


def test_semi_only_join_spellings():
    from ytsaurus_spark.yql.dialect import translate_yql

    tq = translate_yql(
        "select * from a left semi join b using (k);"
    )
    assert "semi join" in tq.sql and "left semi" not in tq.sql.lower()
    tq2 = translate_yql("select * from a left only join b on a.k = b.k;")
    assert "anti join" in tq2.sql


def test_returns_alias_renamed_tables_untouched():
    from ytsaurus_spark.yql.dialect import translate_yql

    tq = translate_yql(
        "select sum(sr_return_amt) as returns from store_returns;"
    )
    assert "as returns_amt" in tq.sql
    assert "store_returns" in tq.sql  # table name not mangled


def test_yql_execute_write_statements(spark, tmp_path):
    """Full-script execution with writes: INSERT appends, WITH TRUNCATE
    overwrites, REPLACE overwrites, UPSERT merges into a dynamic table
    by key (SQLv1 into_table_stmt semantics)."""
    import pytest

    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    c = YtClient(root=str(tmp_path / "yqlw"), spark=spark)
    c.write_table(
        "//home/raw/docs",
        spark.createDataFrame(
            [(1, "keep"), (2, "drop"), (3, "keep")], "id bigint, label string"
        ),
    )

    script = """
    $clean = (select id, label from `//home/raw/docs` where label = 'keep');
    INSERT INTO `//home/out/docs`
    select * from $clean;
    """
    assert yql_execute(spark, script, client=c) is None
    assert c.read_table("//home/out/docs").count() == 2
    # plain INSERT appends; WITH TRUNCATE resets
    yql_execute(spark, script, client=c)
    assert c.read_table("//home/out/docs").count() == 4
    yql_execute(spark, """
    INSERT INTO `//home/out/docs` WITH TRUNCATE
    select id, label from `//home/raw/docs` where id = 1;
    """, client=c)
    assert c.read_table("//home/out/docs").count() == 1

    # UPSERT into a dynamic table merges by key
    c.create("table", "//dyn/kv", attributes={
        "dynamic": True,
        "schema": [{"name": "id", "sort_order": "ascending"}, {"name": "label"}],
    })
    yql_execute(spark, "UPSERT INTO `//dyn/kv` select id, label from `//home/raw/docs`;", client=c)
    yql_execute(spark, "UPSERT INTO `//dyn/kv` select id, 'x' as label from `//home/raw/docs` where id = 2;", client=c)
    got = {(r.id, r.label) for r in c.read_table("//dyn/kv").collect()}
    assert got == {(1, "keep"), (2, "x"), (3, "keep")}
    # UPSERT into a static table is refused
    with pytest.raises(ValueError):
        yql_execute(spark, "UPSERT INTO `//home/out/docs` select 1 as id;", client=c)

    # script with a final result select returns it
    out = yql_execute(spark, """
    $n = (select count(*) as n from `//dyn/kv`);
    select n from $n;
    """, client=c)
    assert out.collect()[0].n == 3


# --- round-7b YQL-faithful translation rules ---------------------------------


def test_substring_zero_based_shift():
    from ytsaurus_spark.yql.dialect import _rewrite_substring

    # integer start: +1 literal (YQL offsets are 0-based,
    # mkql_string_util.cpp:120)
    assert _rewrite_substring("substring(x, 0, 5)") == "substring(x,1, 5)"
    assert _rewrite_substring("SUBSTRING(a,2,3)") == "SUBSTRING(a,3,3)"
    # nested call in the string argument
    assert (
        _rewrite_substring("substring(cast(z as string),0,2)")
        == "substring(cast(z as string),1,2)"
    )
    # non-literal start: parenthesized +1
    assert (
        _rewrite_substring("substring(x, i, 2)")
        == "substring(x,(i) + 1, 2)"
    )
    # nested substring inside another substring's first arg
    assert (
        _rewrite_substring("substring(substring(x,0,9),1,2)")
        == "substring(substring(x,1,9),2,2)"
    )


def test_real_literal_double_cast():
    from ytsaurus_spark.yql.dialect import _rewrite_real_literals as rl

    assert rl("x / 3.0 * 100") == "x / 3.0e0 * 100"
    assert rl(rl("x / 3.0")) == "x / 3.0e0"  # idempotent (value inlining)
    # untouched: ints, quoted strings, qualified names, decimal(p,s)
    assert rl("round(x, 2)") == "round(x, 2)"
    assert rl("'1.5' || a.b") == "'1.5' || a.b"
    assert rl("cast(x as decimal(15,4))") == "cast(x as decimal(15,4))"


def test_ansi_rollup_union_shape():
    from ytsaurus_spark.yql.dialect import _ansi_rollup_union

    sql = ("select a, b, sum(v) as total from src where v > 0 "
           "group by rollup (a, b) order by a, b limit 10")
    out = _ansi_rollup_union(sql)
    assert "UNION ALL" in out
    assert "SELECT NULL, NULL, sum(v)" in out
    assert "HAVING count(*) = 0" in out
    assert "GROUP BY ROLLUP(__x)" in out  # the constant engine probe
    assert out.rstrip().endswith("limit 10")
    # non-flat shapes pass through untouched
    for bail in (
        "select a, grouping(a) from s group by rollup (a)",
        "select distinct a from s group by rollup (a)",
        "select a from s group by rollup (a) having a > 1",
        "select a, b from s group by rollup (a), grouping sets (b)",
    ):
        assert _ansi_rollup_union(bail) == bail


def test_explicit_null_order():
    from ytsaurus_spark.yql.dialect import explicit_null_order as eno

    assert (
        eno("select a from t order by a, b desc limit 5")
        == "select a from t order by a NULLS FIRST, b desc NULLS LAST\nlimit 5"
    )
    # window order-bys (inside parens) are untouched; only the final
    # top-level ORDER BY is annotated
    s = "select rank() over (order by x) from t"
    assert eno(s) == s
    # already-explicit placement kept
    assert (
        eno("select a from t order by a nulls last")
        == "select a from t order by a nulls last"
    )


def test_module_funcs_translation():
    from ytsaurus_spark.yql.dialect import translate_yql

    t = translate_yql(
        "select String::Contains(a, 'x') as c,"
        " Math::Sigmoid(v) as s,"
        " Re2::Grep('[0-9]+')(a) as g,"
        " Re2::Replace('a+')(a, 'b') as r,"
        " Url::GetHost(u) as h,"
        " DateTime::StartOfWeek(ts) as w,"
        " Unknown::Fn(a) as u from t;"
    ).sql
    assert "date_trunc('week', ts)" in t
    assert "contains(a, 'x')" in t
    assert "(1.0e0 / (1.0e0 + exp(-(v))))" in t
    assert "regexp_like(a, '[0-9]+')" in t  # curried Re2 call unrolled
    assert "regexp_replace(a, 'a+', 'b')" in t
    assert "parse_url(u, 'HOST')" in t
    assert "Unknown::Fn(a)" in t  # untranslatable calls pass through


def test_module_funcs_spark_tier_executes(spark):
    from ytsaurus_spark.yql import yql_select

    row = yql_select(
        spark,
        """
        select Re2::Grep('[0-9]+')('a1b') as g,
               Re2::Match('[a-z]+')('abc') as full,
               Re2::Match('[a-z]+')('abc1') as notfull,
               Re2::Replace('l+')('hello', 'L') as rep,
               Url::GetHost('https://example.com/p?q=1') as host,
               String::Base64Decode(String::Base64Encode('hi')) as b64;
        """,
    ).collect()[0]
    assert row["g"] is True
    assert row["full"] is True and row["notfull"] is False
    assert row["rep"] == "heLo"
    assert row["host"] == "example.com"
    assert bytes(row["b64"]) == b"hi"


def test_value_bindings():
    from ytsaurus_spark.yql.dialect import translate_yql

    t = translate_yql(
        "$lim = 5; $d = cast('2000-06-17' as date); $ids = (1,2,3);"
        "$b = $lim * 2;"
        "select x from t where d >= $d and k in $ids and y < $b"
        " order by x limit $lim;"
    ).sql
    assert "limit 5" in t
    assert "d >= (cast('2000-06-17' as date))" in t
    assert "IN (1,2,3)" in t  # tuple inlines without double parens
    assert "y < (5 * 2)" in t  # value-in-value resolution
    with pytest.raises(ValueError, match="value binding, not a table"):
        translate_yql("$v = 5; select * from $v;")


def test_value_binding_executes(spark, sf_dir):
    from ytsaurus_spark.yql import yql_select

    rows = yql_select(
        spark,
        """
        $seg = 'BUILDING';
        $lim = 3;
        select c_custkey from `//x/customer`
        where c_mktsegment = $seg
        order by c_custkey limit $lim;
        """,
        sf_dir=sf_dir,
        star=False,
    ).collect()
    assert 0 < len(rows) <= 3


def test_declare_parameters(spark, sf_dir):
    import datetime

    from ytsaurus_spark.yql import yql_select
    from ytsaurus_spark.yql.dialect import translate_yql

    # typed literal formatting, quoting, defaults
    t = translate_yql(
        "DECLARE $seg AS String; DECLARE $lim AS Int32 = 10;"
        "DECLARE $d AS Date;"
        "select * from t where s = $seg and dt >= $d limit $lim;",
        params={"seg": "BUILD'ING", "d": datetime.date(2000, 6, 17)},
    ).sql
    assert "('BUILD''ING')" in t  # escaped, parenthesized
    assert "limit 10" in t  # declared default
    assert "CAST('2000-06-17' AS DATE)" in t
    # a DECLARE with neither a param nor a default is an error
    with pytest.raises(ValueError, match=r"\$q is DECLAREd without"):
        translate_yql("DECLARE $q AS Uint64; select $q;")
    # Optional<T> accepts None -> NULL
    assert "(NULL)" in translate_yql(
        "DECLARE $o AS Optional<Int32>; select $o as o;", params={"o": None}
    ).sql
    # end to end: parameterized scan
    rows = yql_select(
        spark,
        "DECLARE $seg AS String; DECLARE $lim AS Int32 = 4;"
        "select c_custkey from `//x/customer`"
        " where c_mktsegment = $seg order by c_custkey limit $lim;",
        sf_dir=sf_dir, star=False, params={"seg": "BUILDING"},
    ).collect()
    assert 0 < len(rows) <= 4


def test_select_without_columns(spark, sf_dir):
    from ytsaurus_spark.yql import yql_select
    from ytsaurus_spark.yql.dialect import translate_yql

    t = translate_yql("select * without text, n_chars from docs;").sql
    assert "* EXCEPT (text, n_chars)" in t
    df = yql_select(
        spark,
        "select * without text, n_chars from `//x/documents`"
        " order by doc_id limit 2;",
        sf_dir=sf_dir, star=False,
    )
    assert df.columns == ["doc_id", "lang", "source"]
    assert df.count() == 2


def test_expression_lambdas(spark, sf_dir):
    from ytsaurus_spark.yql import yql_select
    from ytsaurus_spark.yql.dialect import translate_yql

    # paren body, brace/RETURN body, lambda-calls-lambda, value capture
    t = translate_yql(
        "$tax = 0.07;"
        "$net = ($x) -> { RETURN $x * (1 - $tax); };"
        "$both = ($a, $b) -> ($net($a) + $net($b));"
        "select $both(p1, p2) as n from t;"
    ).sql
    assert "$" not in t
    # value bindings inline untranslated and get the real-literal rewrite
    # exactly once at the use site (0.07 -> 0.07e0, no double shift)
    assert "0.07e0" in t
    # expansion is precedence-safe: body wraps before inlining
    t2 = translate_yql("$inc = ($x) -> ($x + 1); select $inc(y) * 2 as z;").sql
    assert "((y) + 1) * 2" in t2
    # arity mismatch is an error, not silent misbinding
    with pytest.raises(ValueError, match="takes 1 argument"):
        translate_yql("$f = ($x) -> ($x + 1); select $f(1, 2);")
    # module functions inside lambda bodies translate after expansion
    t3 = translate_yql(
        "$clean = ($s) -> (String::Strip(String::ToLower($s)));"
        "select $clean(name) as c from t;"
    ).sql
    assert "trim(lower((name)))" in t3
    # end to end over the fixtures
    rows = yql_select(
        spark,
        "$half = ($v) -> ($v / 2.0);"
        "select doc_id, $half(n_chars) as h from `//x/documents`"
        " order by doc_id limit 3;",
        sf_dir=sf_dir, star=False,
    ).collect()
    assert len(rows) == 3
    assert all(r.h is not None for r in rows)


def test_module_funcs_size_length_trunc(spark):
    from ytsaurus_spark.yql import yql_select

    r = yql_select(
        spark,
        "select String::Size('héllo') as b,"
        " Unicode::GetLength('héllo') as cp,"
        " Math::Trunc(-2.7) as tr,"
        " String::Collapse('a   b  c') as c;",
    ).collect()[0]
    assert r.b == 6      # bytes (Size UDF)
    assert r.cp == 5     # codepoints
    assert r.tr == -2    # truncation toward zero
    assert r.c == "a b c"


def test_value_binding_rewrites_exactly_once(spark):
    from ytsaurus_spark.yql.dialect import translate_yql

    # SUBSTRING's 0-based->1-based shift is not idempotent: value-binding
    # bodies must stay untranslated until inlined, then rewrite ONCE
    t = translate_yql("$p = SUBSTRING('abcdef', 0, 3); SELECT $p AS s;").sql
    assert "SUBSTRING('abcdef',1, 3)" in t
    assert spark.sql(t).first().s == "abc"
    # chained value-in-value inlining must not compound either
    t2 = translate_yql(
        "$a = SUBSTRING('abcdef', 0, 3); $b = $a || 'x'; SELECT $b AS s;"
    ).sql
    assert spark.sql(t2).first().s == "abcx"


def test_lambda_arg_with_backslashes():
    from ytsaurus_spark.yql.dialect import translate_yql

    # argument text containing backslashes (regex literals) must survive
    # expansion verbatim — template-based re.sub raises 'bad escape'
    t = translate_yql(
        r"$f = ($x) -> ($x || 'z'); SELECT $f('a\d+\g<1>') AS s;"
    ).sql
    assert r"'a\d+\g<1>'" in t


# --- round-8: MATCH_RECOGNIZE / GROUP BY HOPPING text forms -------------------


def test_hop_translation_and_validation():
    from ytsaurus_spark.yql.dialect import _iso_to_duration, translate_yql

    assert _iso_to_duration("'PT30M'") == "30 minutes"
    assert _iso_to_duration("P1DT2H3M4S") == "1 days 2 hours 3 minutes 4 seconds"
    with pytest.raises(ValueError, match="ISO-8601"):
        _iso_to_duration("'10 minutes'")
    t = translate_yql(
        "select k, HOP_START() as ws from t "
        "group by k, HOP(ts, 'PT30M', 'PT1H', 'PT10M');"
    ).sql
    assert "window(ts, '1 hours', '30 minutes')" in t
    assert "window.start as ws" in t
    with pytest.raises(ValueError, match="HOP takes"):
        translate_yql("select 1 from t group by HOP(ts, 'PT1M');")


def test_mr_spec_parser():
    from ytsaurus_spark.yql.match_recognize_text import parse_mr_spec

    spec = parse_mr_spec("""
        PARTITION BY a, b
        ORDER BY ts
        MEASURES first(V.x) AS fx, count(*) AS n
        AFTER MATCH SKIP TO LAST V
        PATTERN (S V+)
        DEFINE S AS x < 0, V AS x >= 0
    """)
    assert spec["partition_by"] == ["a", "b"]
    assert spec["order_by"] == ["ts"]
    assert spec["measures"] == [("fx", "first", "x", "V"), ("n", "count", None, None)]
    assert spec["skip"] == ("to_last", "V")
    assert spec["pattern"] == "S V+"
    assert spec["defines"] == [("S", "x < 0"), ("V", "x >= 0")]
    assert not spec["all_rows"]
    with pytest.raises(ValueError, match="DEFINE"):
        parse_mr_spec("PATTERN (A)")


def test_match_recognize_text_symbol_scoped(spark):
    from ytsaurus_spark.yql.match_recognize_text import expand_match_recognize

    s2 = spark.newSession()
    s2.createDataFrame(
        [(1, 1, 5.0), (1, 2, -1.0), (1, 3, 7.0), (1, 4, 9.0)],
        "k bigint, seq bigint, v double",
    ).createOrReplaceTempView("mr_src")
    text = expand_match_recognize(s2, """
        select k, match_no, dip, peak from mr_src MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY seq
            MEASURES min(D.v) AS dip, max(U.v) AS peak
            PATTERN (D U+)
            DEFINE D AS v < 0, U AS v >= 0
        ) order by k, match_no
    """)
    assert "MATCH_RECOGNIZE" not in text.upper() or "__yql_mr" in text
    rows = s2.sql(text).collect()
    assert [(r.k, r.match_no, r.dip, r.peak) for r in rows] == [(1, 1, -1.0, 9.0)]


def test_mr_navigation_rewrite():
    from ytsaurus_spark.yql.match_recognize_text import rewrite_navigation

    cond, needs = rewrite_navigation("value > PREV(R.value)")
    assert cond == "value > __prev_value" and needs == {"value": 1}
    cond, needs = rewrite_navigation(
        "v > prev(v, 2) and v < NEXT(S.v) and t > PREV(t)"
    )
    assert cond == "v > __prev_v_2 and v < __next_v and t > __prev_t"
    assert needs == {"v": 2, "t": 1}
    # offsets must be positive integer literals
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive integer"):
        rewrite_navigation("v > PREV(v, 0)")
    with _pytest.raises(ValueError, match="positive integer"):
        rewrite_navigation("v > NEXT(v, -1)")


def test_match_recognize_text_navigation(spark):
    from ytsaurus_spark.yql.match_recognize_text import expand_match_recognize

    s2 = spark.newSession()
    # values 1,3,2,4,5,1 -> rising runs: [3], [4,5] (row-pairs where
    # v > previous v); PATTERN (R+) greedy, skip past last row
    s2.createDataFrame(
        [(1, 1, 1.0), (1, 2, 3.0), (1, 3, 2.0), (1, 4, 4.0),
         (1, 5, 5.0), (1, 6, 1.0)],
        "k bigint, seq bigint, v double",
    ).createOrReplaceTempView("mr_nav_src")
    text = expand_match_recognize(s2, """
        select k, match_no, n, fs from mr_nav_src MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY seq
            MEASURES count(*) AS n, first(seq) AS fs
            PATTERN (R+)
            DEFINE R AS v > PREV(R.v)
        ) order by k, match_no
    """)
    rows = s2.sql(text).collect()
    assert [(r.match_no, r.n, r.fs) for r in rows] == [(1, 1, 2), (2, 2, 4)]
    # PREV references an unknown column
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        expand_match_recognize(s2, """
            select k from mr_nav_src MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY seq
                MEASURES count(*) AS n
                PATTERN (R+)
                DEFINE R AS v > PREV(R.nope)
            )
        """)
    # ALL ROWS output keeps source columns only (no __prev_ helpers)
    text = expand_match_recognize(s2, """
        select * from mr_nav_src MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY seq
            ALL ROWS PER MATCH
            PATTERN (R)
            DEFINE R AS v > PREV(R.v, 2)
        )
    """)
    cols = s2.sql(text).columns
    assert not any(c.startswith("__prev_") or c.startswith("__next_")
                   for c in cols)


def test_match_recognize_text_all_rows(spark):
    from ytsaurus_spark.yql import yql_select

    df = yql_select(spark, """
        SELECT user_id, event_id, match_no, classifier, row_in_match
        FROM `//home/x/events` MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            ALL ROWS PER MATCH
            PATTERN (C P)
            DEFINE C AS event_type = 'click', P AS event_type = 'purchase'
        ) ORDER BY user_id, match_no, row_in_match LIMIT 6;
    """, sf_dir="/root/testdata/sf0.001", star=False)
    rows = df.collect()
    assert len(rows) > 0 and len(rows) % 2 == 0
    # pairs: row 1 is the click, row 2 the purchase
    assert [r.classifier for r in rows[:2]] == ["C", "P"]
    assert [r.row_in_match for r in rows[:2]] == [1, 2]


def test_star_calendar_integrity(spark, sf_dir):
    # every fact date key resolves in date_dim, and d_date_sk is exactly
    # yyyymmdd(d_date) — guards the shifted-calendar derivation against
    # inconsistent shifting between facts and the calendar
    from ytsaurus_spark.yql import _star_session

    s2 = _star_session(spark.newSession(), sf_dir)
    bad = s2.sql("""
        select count(*) as n from date_dim
        where d_date_sk <> year(d_date) * 10000 + month(d_date) * 100
                           + day(d_date)
    """).collect()[0].n
    assert bad == 0
    for fact, col in (("store_sales", "ss_sold_date_sk"),
                      ("web_sales", "ws_sold_date_sk"),
                      ("catalog_sales", "cs_sold_date_sk"),
                      ("inventory", "inv_date_sk"),
                      ("store_returns", "sr_returned_date_sk")):
        n = s2.sql(f"""
            select count(*) as n from {fact}
            where {col} not in (select d_date_sk from date_dim)
        """).collect()[0].n
        assert n == 0, (fact, col, n)
    # the shifted span covers the bench files' literal windows
    lo, hi = s2.sql(
        "select min(d_date) as lo, max(d_date) as hi from date_dim"
    ).collect()[0]
    assert str(lo) <= "1998-01-01" and str(hi) >= "2002-09-05"


# --- FLATTEN BY (SQLv1 flatten_source, SQLv1Antlr4.g.in:543-548) -------------


def _yql_sql(s2, text):
    from ytsaurus_spark.yql.dialect import translate_yql

    return s2.sql(translate_yql(text).sql)


def test_flatten_by_replace_form(spark):
    """No-alias FLATTEN BY replaces the column with its elements
    (select.cpp:1295-1306); NULL/empty lists drop the row."""
    s2 = spark.newSession()
    s2.createDataFrame(
        [(1, [10, 20]), (2, []), (3, None), (4, [30])],
        "k int, arr array<int>",
    ).createOrReplaceTempView("fb_t")
    rows = _yql_sql(
        s2, "select k, arr from `//home/fb_t` flatten by arr "
            "order by k, arr",
    ).collect()
    assert [(r.k, r.arr) for r in rows] == [(1, 10), (1, 20), (4, 30)]


def test_flatten_by_alias_and_cartesian(spark):
    s2 = spark.newSession()
    s2.createDataFrame(
        [(1, [1, 2], ["a", "b"])],
        "k int, xs array<int>, ys array<string>",
    ).createOrReplaceTempView("fb_t2")
    rows = _yql_sql(
        s2,
        "select k, x, y from `//fb_t2` flatten by (xs as x, ys as y) "
        "order by x, y",
    ).collect()
    # multiple items = Cartesian product of elements
    assert [(r.x, r.y) for r in rows] == [
        (1, "a"), (1, "b"), (2, "a"), (2, "b")]
    # alias form keeps the source column
    rows = _yql_sql(
        s2, "select k, xs, x from `//fb_t2` flatten list by xs as x "
            "order by x",
    ).collect()
    assert [(r.xs, r.x) for r in rows] == [([1, 2], 1), ([1, 2], 2)]


def test_flatten_optional_and_dict(spark):
    s2 = spark.newSession()
    s2.createDataFrame(
        [(1, 10, {"a": 1}), (2, None, {"b": 2, "c": 3}), (3, 30, None)],
        "k int, opt int, d map<string,int>",
    ).createOrReplaceTempView("fb_t3")
    # OPTIONAL: NULL rows dropped, value unwrapped
    rows = _yql_sql(
        s2, "select k, v from `//fb_t3` flatten optional by opt as v "
            "order by k",
    ).collect()
    assert [(r.k, r.v) for r in rows] == [(1, 10), (3, 30)]
    # DICT: one row per entry, item is a key/value struct
    rows = _yql_sql(
        s2, "select k, kv.key as dk, kv.value as dv from `//fb_t3` "
            "flatten dict by d as kv order by k, dk",
    ).collect()
    assert [(r.k, r.dk, r.dv) for r in rows] == [
        (1, "a", 1), (2, "b", 2), (2, "c", 3)]


def test_flatten_by_in_named_expression(spark):
    s2 = spark.newSession()
    s2.createDataFrame(
        [(1, [5, 6]), (2, [7])], "k int, arr array<int>"
    ).createOrReplaceTempView("fb_t4")
    rows = _yql_sql(
        s2,
        "$flat = (select k, arr from `//fb_t4` flatten by arr);\n"
        "select k, sum(arr) as s from $flat group by k order by k",
    ).collect()
    assert [(r.k, r.s) for r in rows] == [(1, 11), (2, 7)]


def test_unsupported_constructs_fail_loudly():
    """The verified round-9 mangling repros must RAISE naming the
    construct, never emit rewritten SQL (VERDICT round 9)."""
    import pytest

    from ytsaurus_spark.yql.dialect import YqlUnsupportedError, translate_yql

    cases = {
        "PROCESS `//t` USING $f(TableRow())": "PROCESS",
        "REDUCE `//t` ON k USING $f(TableRow())": "REDUCE",
        "select * from RANGE(`//logs`, `2024-01-01`, `2024-01-31`)":
            "RANGE",
        "select * from CONCAT(`//a`, `//b`)": "CONCAT",
        "select * from EACH('//a')": "EACH",
        "select * from LIKE(`//home`, 'log-%')": "LIKE",
        "select * from REGEXP(`//home`, 'log-.*')": "REGEXP",
        "select a from `//t` flatten columns": "FLATTEN COLUMNS",
        # non-literal condition: EVALUATE needs compile-time values
        "EVALUATE IF $cond DO $a()": "EVALUATE",
        # DO of an action never DEFINEd in the script
        "DO $nope()": "DO",
    }
    for text, construct in cases.items():
        with pytest.raises(YqlUnsupportedError, match=construct):
            translate_yql(text)
    # scalar CONCAT over a path-looking string literal is NOT a table fn
    assert "concat('//home/'" in translate_yql(
        "select concat('//home/', name) as p from `//t`"
    ).sql


def test_process_reduce_lowering():
    """PROCESS/REDUCE text statements (SQLv1Antlr4.g.in:379-391) lower
    to pure Catalyst projections/aggregates; unsupported shapes raise
    YqlUnsupportedError naming the missing piece."""
    import pytest

    from ytsaurus_spark.yql.dialect import YqlUnsupportedError, translate_yql

    assert translate_yql("PROCESS `//home/x/events`").sql == \
        "select * from events"
    t = translate_yql(
        "$f = ($row) -> (AsStruct($row.user_id AS uid, "
        "$row.value * 2 AS v2));\n"
        "PROCESS `//home/x/events` USING $f(TableRow());"
    )
    assert t.sql == "select user_id AS uid, value * 2 AS v2 from events"
    t = translate_yql(
        "$f = ($row) -> (OptionalIf($row.value > 0, "
        "AsStruct($row.user_id AS uid)));\n"
        "PROCESS `//home/x/events` USING $f(TableRow());"
    )
    assert t.sql == "select user_id AS uid from events where value > 0"
    t = translate_yql(
        "$r = ($row) -> (AsStruct(SUM($row.value) AS s, COUNT(*) AS n));\n"
        "REDUCE `//home/x/events` ON user_id USING $r(TableRow());"
    )
    assert t.sql == ("select user_id, SUM(value) AS s, COUNT(*) AS n "
                     "from events group by user_id")
    for bad, why in [
        ("PROCESS `//t` USING $f(TableRow())", "not one"),
        ("PROCESS `//t` USING String::Foo(TableRow())", "module"),
        ("$f = ($row) -> ($row.a + 1);\n"
         "PROCESS `//t` USING $f(TableRow());", "AsStruct"),
        ("$f = ($row) -> (AsStruct($row AS r));\n"
         "PROCESS `//t` USING $f(TableRow());", "member access"),
        ("REDUCE `//t` USING $f(TableRow())", "ON key"),
        ("PROCESS `//a`, `//b` USING $f(TableRow())", "multi-source"),
    ]:
        with pytest.raises(YqlUnsupportedError, match=why):
            translate_yql(bad)


def test_flatten_keywords_in_string_literals():
    """'flatten by' / 'flatten columns' INSIDE string literals must not
    trigger the rewriter or the unsupported-construct guard."""
    from ytsaurus_spark.yql.dialect import translate_yql

    t = translate_yql(
        "select 'flatten by arr' as s, 'flatten columns' as c from `//t`"
    )
    assert t.sql == ("select 'flatten by arr' as s, "
                     "'flatten columns' as c from t")


def test_discard_and_assume_order_by(spark, tmp_path):
    """DISCARD computes without producing a result table; ASSUME ORDER BY
    lowers to a real sort (a strict superset of YQL's sortedness
    promise)."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute
    from ytsaurus_spark.yql.dialect import translate_yql

    t = translate_yql("DISCARD select count(*) as n from `//t`")
    assert t.kind == "discard" and t.sql == "select count(*) as n from t"
    t = translate_yql("select k from `//t` assume order by k")
    assert t.sql == "select k from t order by k"
    # a script whose only statements are discards returns None
    client = YtClient(root=str(tmp_path), spark=spark)
    client.write_table("//home/dt", spark.createDataFrame([(1,)], "k int"))
    assert yql_execute(
        spark, "DISCARD select k from `//home/dt`;", client=client
    ) is None
    # ...and a discard followed by a select returns the select
    df = yql_execute(
        spark,
        "DISCARD select k from `//home/dt`;\n"
        "select k + 1 as k2 from `//home/dt`;",
        client=client,
    )
    assert df.first().k2 == 2


def test_compact_hints_and_tablesample_and_some():
    """COMPACT is a pure execution hint in YQL (grammar :509/:1061/:99) —
    Catalyst's partial-agg decision is cost-based, so it drops out;
    TABLESAMPLE BERNOULLI/SYSTEM map to Spark's PERCENT form; SOME() is
    the arbitrary-value aggregate."""
    from ytsaurus_spark.yql.dialect import translate_yql

    assert translate_yql(
        "select k, count(*) as n from `//t` group compact by k"
    ).sql == "select k, count(*) as n from t group by k"
    assert translate_yql(
        "select row_number() over (partition compact by k order by v) "
        "as rn from `//t`"
    ).sql == ("select row_number() over (partition by k order by v) "
              "as rn from t")
    assert translate_yql(
        "select some(v) as s from `//t` where k in compact (1, 2)"
    ).sql == "select any_value(v) as s from t where k in (1, 2)"
    assert "TABLESAMPLE (30 PERCENT)" in translate_yql(
        "select count(*) as n from `//t` tablesample bernoulli(30)"
    ).sql


def test_define_subquery(spark, sf_dir):
    """DEFINE SUBQUERY (SQLv1Antlr4.g.in define_action_or_subquery_stmt)
    — a parameterized subquery template instantiated at each call."""
    from ytsaurus_spark.yql import yql_select

    rows = yql_select(
        spark,
        "DEFINE SUBQUERY $big($src, $lim) AS\n"
        "  select o_custkey, o_totalprice from $src\n"
        "  where o_totalprice > $lim;\n"
        "END DEFINE;\n"
        "select count(*) as n from $big(orders, 400000.0);",
        sf_dir=sf_dir, star=False,
    ).collect()
    from_sql = spark.sql(
        "select count(*) as n from parquet.`{}/orders.parquet` "
        "where o_totalprice > 400000.0".format(sf_dir)
    ).first().n
    assert rows[0].n == from_sql

    # two invocations of one template must not collide (hygienic
    # internal bindings), and templates compose with named expressions
    rows = yql_select(
        spark,
        "DEFINE SUBQUERY $top($src, $k) AS\n"
        "  $lim = $k;\n"
        "  select o_orderkey from $src order by o_totalprice desc "
        "limit $lim;\n"
        "END DEFINE;\n"
        "select (select count(*) from $top(orders, 3)) + "
        "(select count(*) from $top(orders, 5)) as n;",
        sf_dir=sf_dir, star=False,
    ).collect()
    assert rows[0].n == 8


def test_define_action_do(spark, tmp_path, sf_dir):
    """DEFINE ACTION + DO: the instantiated statements splice in place
    of the DO (sql_query.cpp do_stmt)."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    client = YtClient(root=str(tmp_path), spark=spark)
    df = yql_execute(
        spark,
        "DEFINE ACTION $snap($region) AS\n"
        "  INSERT INTO `//out/by_region` \n"
        "  select n_name, n_regionkey from nation "
        "  where n_regionkey = $region;\n"
        "END DEFINE;\n"
        "DO $snap(0);\n"
        "DO $snap(1);\n"
        "select count(*) as n from `//out/by_region`;",
        client=client, sf_dir=sf_dir,
    )
    expect = spark.sql(
        "select count(*) as n from parquet.`{}/nation.parquet` "
        "where n_regionkey in (0, 1)".format(sf_dir)
    ).first().n
    assert df.first().n == expect


def test_evaluate_for_unroll(spark, tmp_path, sf_dir):
    """EVALUATE FOR unrolls a compile-time list into repeated DO
    invocations; the empty list takes the ELSE branch."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    client = YtClient(root=str(tmp_path), spark=spark)
    df = yql_execute(
        spark,
        "DEFINE ACTION $snap($region) AS\n"
        "  INSERT INTO `//out/regions` \n"
        "  select n_name from nation where n_regionkey = $region;\n"
        "END DEFINE;\n"
        "EVALUATE FOR $r IN AsList(0, 1, 2) DO $snap($r);\n"
        "select count(*) as n from `//out/regions`;",
        client=client, sf_dir=sf_dir,
    )
    expect = spark.sql(
        "select count(*) as n from parquet.`{}/nation.parquet` "
        "where n_regionkey in (0, 1, 2)".format(sf_dir)
    ).first().n
    assert df.first().n == expect

    # ListFromRange + ELSE on the empty list
    df = yql_execute(
        spark,
        "DEFINE ACTION $mark($v) AS\n"
        "  INSERT INTO `//out/marks` select $v as v;\n"
        "END DEFINE;\n"
        "EVALUATE FOR $i IN ListFromRange(0, 3) DO $mark($i);\n"
        "EVALUATE FOR $i IN AsList() DO $mark(99) "
        "ELSE DO $mark(-1);\n"
        "select v from `//out/marks` order by v;",
        client=client, sf_dir=sf_dir,
    )
    assert [r.v for r in df.collect()] == [-1, 0, 1, 2]


def test_evaluate_if_literal(spark, sf_dir):
    """EVALUATE IF over a literal condition takes exactly one branch."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        client = YtClient(root=td, spark=spark)
        df = yql_execute(
            spark,
            "DEFINE ACTION $w($v) AS\n"
            "  INSERT INTO `//out/t` select $v as v;\n"
            "END DEFINE;\n"
            "EVALUATE IF true DO $w(1) ELSE DO $w(2);\n"
            "EVALUATE IF false DO $w(3) ELSE DO $w(4);\n"
            "EVALUATE IF false DO $w(5);\n"
            "DO EMPTY_ACTION();\n"
            "select v from `//out/t` order by v;",
            client=client, sf_dir=sf_dir,
        )
        assert [r.v for r in df.collect()] == [1, 4]


def test_yql_core_builtins(spark):
    """YQL core builtins (docs/en/builtins): list/dict constructors and
    combinators, optionals, MIN_OF/MAX_OF, FIND/RFIND, ??, positional
    tuple access, YQL cast-type names — all lowered onto Spark
    collection builtins (JVM-side, codegen-friendly)."""
    from ytsaurus_spark.yql import yql_select

    s2 = spark
    def one(expr, **kw):
        df = yql_select(s2, f"select {expr} as r;", star=False, **kw)
        return df.first().r

    assert one("ListLength(AsList(1,2,3))") == 3
    assert one("ListSum(AsList(1,2,3))") == 6
    assert one("ListAvg(AsList(1.0, 3.0))") == 2.0
    assert one("ListMin(AsList(3,1,2))") == 1
    assert one("ListMax(AsList(3,1,2))") == 3
    assert one("ListHas(AsList(1,2), 2)") is True
    assert one("ListSort(AsList(3,1,2))") == [1, 2, 3]
    assert one("ListSortDesc(AsList(3,1,2))") == [3, 2, 1]
    assert one("ListUniq(AsList(1,1,2))") == [1, 2]
    assert one("ListConcat(AsList('a','b'), '-')") == "a-b"
    assert one("ListExtend(AsList(1), AsList(2))") == [1, 2]
    assert one("ListHead(AsList(5,6))") == 5
    assert one("ListLast(AsList(5,6))") == 6
    assert one("ListTake(AsList(1,2,3), 2)") == [1, 2]
    assert one("ListSkip(AsList(1,2,3), 1)") == [2, 3]
    assert one("ListIndexOf(AsList('a','b'), 'b')") == 1
    assert one("ListIndexOf(AsList('a','b'), 'z')") is None
    assert one("ListMap(AsList(1,2), ($x) -> ($x * 10))") == [10, 20]
    assert one("ListFilter(AsList(1,2,3), ($x) -> ($x > 1))") == [2, 3]
    assert one("ListFromRange(0, 3)") == [0, 1, 2]
    assert one("ListZip(AsList(1,2), AsList('a','b'))[1].1") == "b"
    assert one("ListEnumerate(AsList('a'))[0].0") == 0
    # dicts
    assert one("DictKeys(AsDict(AsTuple('a', 1)))") == ["a"]
    assert one("DictPayloads(AsDict(AsTuple('a', 1)))") == [1]
    assert one("DictContains(AsDict(AsTuple('a', 1)), 'a')") is True
    assert one("DictLookup(AsDict(AsTuple('a', 1)), 'a')") == 1
    # optionals + scalars
    assert one("Just(7)") == 7
    assert one("Unwrap(Just(7))") == 7
    assert one("Nothing(7) ?? -1") == -1
    assert one("MIN_OF(3, 1, 2)") == 1
    assert one("MAX_OF(3, 1, 2)") == 3
    assert one("FIND('abcb', 'b')") == 1
    assert one("FIND('abcb', 'b', 2)") == 3
    assert one("FIND('abc', 'z')") is None
    assert one("RFIND('abcb', 'b')") == 3
    assert one("NULL ?? 'x' ?? 'y'") == "x"
    assert one("AsTuple(9, 'a').0") == 9
    assert one("CAST(300 AS Uint8)") == 300  # widened, not wrapped
    assert one("CAST('5' AS Int64)") == 5
    assert one("BITCAST(7 AS Uint32)") == 7
    # module extensions
    assert one("DateTime::ToSeconds(DateTime::FromSeconds(1700000000))") \
        == 1700000000
    assert one("DateTime::Format('%Y/%m')(CAST('2024-03-05' AS DATE))") \
        == "2024/03"
    assert one("DateTime::ToDays(CAST('1970-01-11' AS DATE))") == 10
    assert one("Url::Decode('a%20b')") == "a b"
    assert one("Url::GetDomain('https://x.a.b.c/d', 2)") == "b.c"
    assert one("Digest::CityHash('q') = xxhash64('q')") is True
    assert one("Pire::Grep('a.c')('xabcx')") is True


def test_yql_ensure_raises(spark):
    from ytsaurus_spark.yql import yql_select

    assert yql_select(
        spark, "select Ensure(5, 5 > 0, 'bad') as r;", star=False
    ).first().r == 5
    import pytest as _pytest
    with _pytest.raises(Exception, match="neg"):
        yql_select(
            spark, "select Ensure(-5, -5 > 0, 'neg value') as r;",
            star=False,
        ).collect()


def test_union_all_by_name(spark):
    """YQL UNION ALL matches branch columns BY NAME (select.cpp:2833
    UnionAll vs UnionAllPositional): swapped orders re-align, missing
    columns widen to NULL; PRAGMA PositionalUnionAll restores ANSI
    positional behavior; already-aligned branches pass through."""
    from ytsaurus_spark.yql import yql_select

    rows = yql_select(
        spark,
        "select 1 as a, 'x' as b "
        "union all select 'y' as b, 2 as a order by a;",
        star=False,
    ).collect()
    assert [(r.a, r.b) for r in rows] == [(1, "x"), (2, "y")]

    # missing column -> NULL widening
    rows = yql_select(
        spark,
        "select 1 as a, 'x' as b union all select 2 as a order by a;",
        star=False,
    ).collect()
    assert [(r.a, r.b) for r in rows] == [(1, "x"), (2, None)]

    # positional pragma restores ANSI semantics
    rows = yql_select(
        spark,
        "pragma PositionalUnionAll;"
        "select 1 as a, 2 as b union all select 3 as b, 4 as a;",
        star=False, pragmas=False,
    ).collect()
    assert sorted((r.a, r.b) for r in rows) == [(1, 2), (3, 4)]

    # three branches, first-occurrence column order, in a CTE
    rows = yql_select(
        spark,
        "$u = (select 1 as a union all select 'z' as c "
        "union all select 2 as a);"
        "select count(*) as n, count(c) as nc from $u;",
        star=False,
    ).collect()
    assert (rows[0].n, rows[0].nc) == (3, 1)


def test_yql_script_statements(spark, tmp_path, sf_dir):
    """COMMIT (accepted write barrier), DROP TABLE [IF EXISTS], and
    INSERT INTO t (column list) — SQLv1 script statements."""
    import pytest as _pytest

    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    client = YtClient(root=str(tmp_path), spark=spark)
    df = yql_execute(
        spark,
        "INSERT INTO `//out/t` select 1 as a, 'x' as b;\n"
        "COMMIT;\n"
        "INSERT INTO `//out/t` (b, a) select 'y' as b2, 2 as a2;\n"
        "select a, b from `//out/t` order by a;",
        client=client,
    )
    assert [(r.a, r.b) for r in df.collect()] == [(1, "x"), (2, "y")]

    # column list narrower than the target: missing columns -> NULL
    df = yql_execute(
        spark,
        "INSERT INTO `//out/t` (a) select 3 as v;\n"
        "select a, b from `//out/t` order by a;",
        client=client,
    )
    assert [(r.a, r.b) for r in df.collect()] == [
        (1, "x"), (2, "y"), (3, None)]

    # DROP TABLE: strict raises on a missing table, IF EXISTS does not
    yql_execute(spark, "DROP TABLE `//out/t`;", client=client)
    assert not client.exists("//out/t")
    with _pytest.raises(ValueError, match="no such table"):
        yql_execute(spark, "DROP TABLE `//out/t`;", client=client)
    yql_execute(spark, "DROP TABLE IF EXISTS `//out/t`;", client=client)


def test_yql_anonymous_tables(spark, sf_dir):
    """@name anonymous tables (SQLv1 '@' table refs): script-lifetime
    temp tables — INSERT INTO @tmp stages rows, later statements read
    them; WITH TRUNCATE resets; no client needed."""
    from ytsaurus_spark.yql import yql_execute

    df = yql_execute(
        spark,
        "INSERT INTO @stage select n_name, n_regionkey from nation "
        "where n_regionkey = 0;\n"
        "INSERT INTO @stage select n_name, n_regionkey from nation "
        "where n_regionkey = 1;\n"
        "select n_regionkey, count(*) as n from @stage "
        "group by n_regionkey order by n_regionkey;",
        sf_dir=sf_dir,
    )
    rows = df.collect()
    assert [r.n_regionkey for r in rows] == [0, 1]
    assert all(r.n == 5 for r in rows)

    # WITH TRUNCATE resets the staged rows; '@' inside a string literal
    # is untouched
    df = yql_execute(
        spark,
        "INSERT INTO @t select 1 as a;\n"
        "INSERT INTO @t WITH TRUNCATE select 2 as a;\n"
        "select a, 'x@t' as lit from @t;",
        sf_dir=sf_dir,
    )
    rows = df.collect()
    assert [(r.a, r.lit) for r in rows] == [(2, "x@t")]


def test_yql_container_literals(spark, sf_dir):
    """SQLv1 container literals (SQLv1Antlr4.g.in:138-146): list
    ``[...]`` -> array, dict ``{k: v}`` -> map, set ``{a, b}`` ->
    IN-list / membership map, struct ``<|n: e|>`` -> named_struct,
    bare tuples -> the AsTuple _0.._n convention."""
    from ytsaurus_spark.yql import yql_select

    def one(sql):
        return yql_select(spark, sql, sf_dir=sf_dir).collect()[0][0]

    assert one("SELECT [1,2,3][1] AS v") == 2
    assert one("SELECT {'a': 1, 'b': 2}['b'] AS v") == 2
    assert one("SELECT <|a: 1, b: 'x'|>.b AS v") == "x"
    assert one("SELECT (1, 'x').1 AS v") == "x"
    assert one("SELECT (1, 2) < (1, 3) AS v") is True
    assert one("SELECT DictContains({1, 2, 3}, 2) AS v") is True
    assert one("SELECT {'k': [1,2]}['k'][0] AS v") == 1
    assert one("SELECT ListMap([1,2,3], ($x) -> ($x * 2))[2] AS v") == 6
    # set literal after IN collapses to a plain IN-list
    assert one(
        "SELECT count(*) AS c FROM region WHERE r_regionkey IN {0, 1}"
    ) == 2
    # native tuple-IN stays native (never struct-ified)
    assert one(
        "SELECT count(*) AS c FROM nation "
        "WHERE (n_regionkey, n_nationkey) IN ((0, 0), (1, 1))"
    ) == 2
    # subscripts stay subscripts; VALUES / GROUPING SETS lists untouched
    from ytsaurus_spark.yql.dialect import translate_yql

    t = translate_yql("SELECT a.arr[0] FROM t AS a").sql
    assert "a.arr[0]" in t
    t = translate_yql(
        "SELECT k, g, count(*) AS n FROM t "
        "GROUP BY GROUPING SETS ((k, g), (k), ())").sql
    assert "GROUPING SETS ((k, g), (k), ())" in t


def test_yql_into_result(spark, sf_dir):
    """select_kind: ... (INTO RESULT pure_column_or_named)?
    (SQLv1Antlr4.g.in:379) — the label is recorded, the query result is
    unchanged."""
    from ytsaurus_spark.yql import yql_select
    from ytsaurus_spark.yql.dialect import translate_yql

    tq = translate_yql("SELECT 1 AS one INTO RESULT `named_out`")
    assert tq.result_label == "named_out"
    assert "into result" not in tq.sql.lower()
    rows = yql_select(
        spark,
        "SELECT r_name AS n FROM region ORDER BY n LIMIT 1 "
        "INTO RESULT my_first",
        sf_dir=sf_dir,
    ).collect()
    assert rows[0].n == "AFRICA"


def test_yql_update_delete(spark, tmp_path):
    """SQLv1 update_stmt / delete_stmt (SQLv1Antlr4.g.in:968-969) route
    through the dynamic-table write path; static targets and RETURNING
    raise."""
    import pytest as _pytest

    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute
    from ytsaurus_spark.yql.dialect import YqlUnsupportedError

    c = YtClient(root=str(tmp_path), spark=spark)
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, name string, v long",
    )
    c.create("table", "//dyn/t", attributes={
        "dynamic": True,
        "schema": [{"name": "k", "sort_order": "ascending"},
                   {"name": "name"}, {"name": "v"}],
    })
    c.insert_rows("//dyn/t", df)

    yql_execute(spark, "UPDATE `//dyn/t` SET v = v + 100 WHERE k >= 2",
                client=c)
    got = sorted((r.k, r.v) for r in c.read_table("//dyn/t").collect())
    assert got == [(1, 10), (2, 120), (3, 130)]

    yql_execute(spark, "DELETE FROM `//dyn/t` WHERE k = 1", client=c)
    got = sorted((r.k, r.v) for r in c.read_table("//dyn/t").collect())
    assert got == [(2, 120), (3, 130)]

    # BATCH prefix is accepted (YDB's transaction-splitting hint)
    yql_execute(spark, "BATCH DELETE FROM `//dyn/t` WHERE k = 99",
                client=c)

    # INSERT ... VALUES row lists
    yql_execute(
        spark,
        "INSERT INTO `//stat/s` (k, v) VALUES (1, 'x'), (2, 'y')",
        client=c,
    )
    got = sorted((r.k, r.v) for r in c.read_table("//stat/s").collect())
    assert got == [(1, "x"), (2, "y")]

    # static target refuses key-addressed DML
    with _pytest.raises(ValueError, match="dynamic"):
        yql_execute(spark, "UPDATE `//stat/s` SET v = 'z'", client=c)
    # RETURNING raises a clear unsupported error
    with _pytest.raises(YqlUnsupportedError, match="RETURNING"):
        yql_execute(spark,
                    "DELETE FROM `//dyn/t` WHERE k = 2 RETURNING k",
                    client=c)


def test_yql_literal_suffixes(spark, sf_dir):
    """YQL lexer literal forms: integer suffixes (123u Uint32, 123ul
    Uint64, 123l Int64, t/ut/s/us widths), 0x hex literals, string
    suffixes ('…'u Utf8), the Datetime()/Interval() constructors, and a
    named lambda passed BY REFERENCE to a list combinator."""
    from ytsaurus_spark.yql import yql_select

    def one(sql):
        return yql_select(spark, sql, sf_dir=sf_dir).collect()[0]

    r = one("SELECT 123u AS a, 45ul AS b, 7l AS c, 5t AS d, 8us AS e")
    assert tuple(r) == (123, 45, 7, 5, 8)
    r = one("SELECT 0xFF AS h, 0xffUL AS h2")
    assert tuple(r) == (255, 255)
    assert one("SELECT 'abc'u AS s").s == "abc"
    # suffix-looking text inside string literals is untouched
    assert one("SELECT '123u 0xFF' AS s").s == "123u 0xFF"
    import datetime as _dt

    r = one("SELECT Datetime('2024-01-15T10:30:00Z') AS d")
    assert r.d == _dt.datetime(2024, 1, 15, 10, 30)
    r = one("SELECT Date('2024-01-15') + Interval('P1DT2H') AS d")
    assert r.d == _dt.datetime(2024, 1, 16, 2, 0)
    r = one("$pred = ($x) -> ($x > 1); "
            "SELECT ListFilter([1,2,3], $pred) AS l")
    assert r.l == [2, 3]


def test_yql_list_dict_set_builtins(spark, sf_dir):
    """List combinators, dict/set algebra, and ToString lower to Spark
    higher-order functions; ListZip truncates while ListZipAll pads
    (the reference's two zip flavors)."""
    from ytsaurus_spark.yql import yql_select

    def one(sql):
        return yql_select(spark, sql, sf_dir=sf_dir).collect()[0][0]

    assert one("SELECT ListFlatMap([1,2], ($x) -> ([$x, $x*10])) AS l") \
        == [1, 10, 2, 20]
    assert one("SELECT ListFlatten([[1,2],[3]]) AS l") == [1, 2, 3]
    assert one("SELECT ListFold([1,2,3], 100, "
               "($x, $acc) -> ($acc - $x)) AS s") == 94
    assert one("SELECT ListLength(ListZip([1,2,3], ['a'])) AS n") == 1
    assert one("SELECT ListLength(ListZipAll([1,2,3], ['a'])) AS n") == 3
    assert one("SELECT ListTopSort([5,1,4], 2) AS l") == [1, 4]
    assert one("SELECT DictItems({'a': 1})[0].1 AS v") == 1
    assert one("SELECT ToDict([('a', 1), ('b', 2)])['b'] AS v") == 2
    assert one("SELECT SetIncludes({1,2,3}, {2,3}) AS ok") is True
    assert sorted(one(
        "SELECT DictKeys(SetIntersection({1,2,3}, {2,3,4})) AS k")) \
        == [2, 3]
    assert sorted(one(
        "SELECT DictKeys(SetDifference({1,2,3}, {2})) AS k")) == [1, 3]
    assert one("SELECT SetIsDisjoint({1,2}, {3,4}) AS ok") is True
    assert one("SELECT ToString(42) AS s") == "42"


def test_yql_aggregate_spellings(spark, sf_dir):
    """YQL aggregate-function text spellings lower to Spark aggregates:
    AGGREGATE_LIST[_DISTINCT] (with the optional limit), SUM_IF/AVG_IF,
    CountDistinctEstimate, and TOP/BOTTOM[_BY] (n largest/smallest)."""
    from ytsaurus_spark.yql import yql_select

    def one(sql):
        return yql_select(spark, sql, sf_dir=sf_dir).collect()[0][0]

    assert one("SELECT ListLength(AGGREGATE_LIST(n_name)) AS n "
               "FROM nation") == 25
    assert one("SELECT ListLength(AGGREGATE_LIST(n_name, 5)) AS n "
               "FROM nation") == 5
    assert one("SELECT ListLength(AGGREGATE_LIST_DISTINCT(n_regionkey)) "
               "AS n FROM nation") == 5
    assert one("SELECT SUM_IF(n_nationkey, n_regionkey = 0) AS s "
               "FROM nation") == 50
    assert one("SELECT CountDistinctEstimate(n_regionkey) AS c "
               "FROM nation") == 5
    assert one("SELECT TOP(n_nationkey, 3) AS t FROM nation") \
        == [24, 23, 22]
    assert one("SELECT BOTTOM(n_nationkey, 3) AS b FROM nation") \
        == [0, 1, 2]
    assert one("SELECT TOP_BY(n_name, n_nationkey, 2) AS t FROM nation") \
        == ["NATION_24", "NATION_23"]


def test_yql_session_window_text(spark, sf_dir):
    """SessionWindow(ts, gap) in GROUP BY and in a WINDOW clause
    partition, with SessionStart() in both contexts (sql_group_by.cpp
    session windows). The lowering wraps the FROM in a session-id
    subquery; WHERE stays inside the wrap so sessions form on filtered
    rows."""
    from ytsaurus_spark.yql import yql_select

    rows = yql_select(spark, """
        select user_id, SessionStart() as ss,
               cast(count(*) as bigint) as n
        from events where user_id <= 2
        group by user_id, SessionWindow(ts, Interval('PT4H'))
        order by user_id, ss;
    """, sf_dir=sf_dir).collect()
    assert rows, "no sessions formed"
    # sessions are disjoint per user and starts are ordered
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.ss)
    for starts in per_user.values():
        assert starts == sorted(starts)

    w = yql_select(spark, """
        select user_id, ts, SessionStart() over w as ss
        from events where user_id = 1
        window w as (partition by user_id,
                     SessionWindow(ts, Interval('PT4H')))
        order by ts;
    """, sf_dir=sf_dir).collect()
    assert w and all(r.ss <= r.ts for r in w)


def test_yql_module_function_breadth_r11(spark, sf_dir):
    """Round-11 module closures: Url::GetCGIParam, the Ip string-form
    family, Re2::Capture (positional + named groups, RE2 (?P<n>) ->
    Java (?<n>)), String::CollapseSpaces / LevensteinDistance,
    Digest::Crc64 (xxhash64 stand-in), and the SQL/JSON api
    (JSON_VALUE/JSON_QUERY/JSON_EXISTS over lax paths)."""
    from ytsaurus_spark.yql import yql_select

    def one(sql):
        return yql_select(spark, sql, sf_dir=sf_dir).collect()[0]

    assert one("SELECT Url::GetCGIParam('https://x.y/p?a=1&b=2', 'b') "
               "AS v").v == "2"
    r = one("SELECT Ip::ToString(Ip::FromString('1.2.3.4')) AS s, "
            "Ip::IsIPv4(Ip::FromString('1.2.3.4')) AS v4, "
            "Ip::IsIPv6(Ip::FromString('::1')) AS v6")
    assert tuple(r) == ("1.2.3.4", True, True)
    assert one("SELECT Re2::Capture('(\\\\d+)')('ab123cd')._1 AS n").n \
        == "123"
    r = one("SELECT Re2::Capture('(?P<num>[0-9]+)x(.)')('a42xZ').num "
            "AS n, Re2::Capture('(?P<num>[0-9]+)x(.)')('a42xZ')._2 AS c")
    assert tuple(r) == ("42", "Z")
    assert one("SELECT String::CollapseSpaces('a   b') AS s").s == "a b"
    assert one("SELECT String::LevensteinDistance('kitten', 'sitting') "
               "AS d").d == 3
    assert one("SELECT JSON_VALUE(CAST('{\"a\": 5}' AS Json), '$.a') "
               "AS v").v == "5"
    assert one("SELECT JSON_EXISTS(CAST('{\"a\": 5}' AS Json), '$.b') "
               "AS e").e is False


def test_alter_table_keeps_the_table_attributes(spark, tmp_path):
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    c = YtClient(root=str(tmp_path), spark=spark)
    c.write_table("//st/t", spark.createDataFrame([(2, "b"), (1, "a")], "k bigint, s string"))
    c.run_sort("//st/t", sort_by=["k"])
    c.set("//st/t/@owner", "etl")
    yql_execute(spark, "ALTER TABLE `//st/t` ADD COLUMN extra Double", client=c)
    assert (c.get("//st/t/@owner"), c.get("//st/t/@sorted_by")) == ("etl", ["k"])
    assert [r.k for r in c.read_table("//st/t").collect()] == [1, 2]
    with pytest.raises(ValueError, match="key column k"):
        yql_execute(spark, "ALTER TABLE `//st/t` DROP COLUMN k", client=c)


def test_yql_ddl_and_insert_modes(spark, tmp_path):
    """CREATE TABLE (SQLv1Antlr4.g.in:646 — PRIMARY KEY -> sorted
    dynamic, plain columns -> static), ALTER TABLE ADD/DROP COLUMN
    (:697, static tables; added columns read NULL), INSERT OR
    ABORT/REVERT/IGNORE modifiers (:578 — IGNORE keeps stored rows for
    existing keys), and WITH SCHEMA / INFER_SCHEMA table hints
    stripping (:956)."""
    import pytest as _pytest

    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.sources.formats import table_attributes
    from ytsaurus_spark.yql import yql_execute

    c = YtClient(root=str(tmp_path), spark=spark)

    yql_execute(spark,
                "CREATE TABLE `//kv/t` (k Int64, v Utf8, PRIMARY KEY (k))",
                client=c)
    a = table_attributes(c._fs("//kv/t"))
    assert a.get("dynamic") and a.get("key_columns") == ["k"]
    assert [x["name"] for x in a["schema"]] == ["k", "v"]

    yql_execute(spark, "UPSERT INTO `//kv/t` SELECT 1 AS k, "
                "CAST('old' AS Utf8) AS v", client=c)
    yql_execute(spark, "INSERT OR IGNORE INTO `//kv/t` SELECT k, v FROM "
                "(SELECT 1 AS k, CAST('new' AS Utf8) AS v "
                "UNION ALL SELECT 2, CAST('two' AS Utf8))", client=c)
    rows = sorted((r.k, r.v) for r in c.read_table("//kv/t").collect())
    assert rows == [(1, "old"), (2, "two")]

    yql_execute(spark, "CREATE TABLE `//st/s` (a Int64, b String)",
                client=c)
    yql_execute(spark, "INSERT INTO `//st/s` SELECT 1 AS a, 'x' AS b",
                client=c)
    yql_execute(spark, "ALTER TABLE `//st/s` ADD COLUMN extra Double",
                client=c)
    df = c.read_table("//st/s")
    assert df.columns == ["a", "b", "extra"]
    assert df.collect()[0].extra is None
    yql_execute(spark, "ALTER TABLE `//st/s` DROP COLUMN b", client=c)
    assert c.read_table("//st/s").columns == ["a", "extra"]

    yql_execute(spark, "CREATE TABLE IF NOT EXISTS `//st/s` (a Int64)",
                client=c)
    with _pytest.raises(ValueError, match="already exists"):
        yql_execute(spark, "CREATE TABLE `//st/s` (a Int64)", client=c)

    yql_execute(spark, "INSERT OR ABORT INTO `//st/p` SELECT 7 AS x",
                client=c)
    assert [r.x for r in c.read_table("//st/p").collect()] == [7]

    from ytsaurus_spark.yql import yql_select

    r = yql_select(spark, "SELECT count(*) AS c FROM region "
                   "WITH INFER_SCHEMA",
                   sf_dir="/root/testdata/sf0.001").collect()
    assert r[0].c == 5
