"""Wider SQL/function surface queries: scalar function families (math,
datetime, string/regex, conditional, uint64 discipline), pivot/unpivot,
as-of join, and multimodal plumbing — each with a DuckDB oracle where
SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import load_tables
from ytsaurus_spark.operators.asof import asof_join
from ytsaurus_spark.operators.multimodal import (
    attach_binary,
    extract_features,
    extract_image_features,
    frame_sample,
    image_tile_stats,
    synthesize_png,
)
from ytsaurus_spark.queries import register


# --- math functions --------------------------------------------------------

@register(
    "fn_math",
    """
    SELECT p_partkey,
           abs(p_size - 25)                   AS dist,
           CAST(ceil(p_retailprice / 100) AS BIGINT)  AS price_ceil,
           CAST(floor(p_retailprice / 100) AS BIGINT) AS price_floor,
           round(sqrt(p_size), 6)             AS root,
           round(ln(p_retailprice), 6)        AS log_price,
           round(pow(p_size, 2), 1)           AS size_sq,
           p_size % 7                         AS size_mod
    FROM part
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return cat.read("part").select(
        "p_partkey",
        F.abs(F.col("p_size") - 25).alias("dist"),
        F.ceil(F.col("p_retailprice") / 100).alias("price_ceil"),
        F.floor(F.col("p_retailprice") / 100).alias("price_floor"),
        F.round(F.sqrt("p_size"), 6).alias("root"),
        F.round(F.log("p_retailprice"), 6).alias("log_price"),
        F.round(F.pow("p_size", F.lit(2)), 1).alias("size_sq"),
        (F.col("p_size") % 7).alias("size_mod"),
    )


# --- datetime functions (QL format_timestamp / floors + YQL Datetime2) -----

@register(
    "fn_datetime",
    """
    SELECT event_id,
           CAST(year(ts) AS INT)       AS y,
           CAST(month(ts) AS INT)      AS mo,
           CAST(day(ts) AS INT)        AS d,
           CAST(hour(ts) AS INT)       AS h,
           CAST(minute(ts) AS INT)     AS mi,
           CAST(dayofweek(ts) AS INT)  AS dow,
           strftime(ts, '%Y-%m-%d')    AS datestr,
           CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT) AS days_in
    FROM events WHERE event_id < 200
    """,
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    # Spark dayofweek: Sunday=1; DuckDB dayofweek: Sunday=0 → align via %7.
    return (
        cat.read("events")
        .filter(F.col("event_id") < 200)
        .select(
            "event_id",
            F.year("ts").alias("y"),
            F.month("ts").alias("mo"),
            F.dayofmonth("ts").alias("d"),
            F.hour("ts").alias("h"),
            F.minute("ts").alias("mi"),
            ((F.dayofweek("ts") - 1) % 7).alias("dow"),
            F.date_format("ts", "yyyy-MM-dd").alias("datestr"),
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("days_in"),
        )
    )


# --- string/regex functions ------------------------------------------------

@register(
    "fn_string_regex",
    """
    SELECT doc_id,
           upper(source)                                   AS src_upper,
           substr(text, 1, 12)                             AS head,
           replace(source, 'src', 'origin-')               AS renamed,
           CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS src_num,
           regexp_matches(text, 'spark\\s+\\w+')           AS mentions_spark,
           CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
             AS consonant_len,
           trim(concat('  ', source, '  '))                AS trimmed,
           lpad(source, 8, '_')                            AS padded,
           reverse(source)                                 AS rev
    FROM documents WHERE doc_id < 100
    """,
)
def fn_string_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.upper("source").alias("src_upper"),
            F.substring("text", 1, 12).alias("head"),
            F.replace("source", F.lit("src"), F.lit("origin-")).alias("renamed"),
            F.regexp_extract("source", r"([0-9]+)", 1).cast("int").alias("src_num"),
            F.col("text").rlike(r"spark\s+\w+").alias("mentions_spark"),
            F.length(F.regexp_replace("text", "[aeiou]", "")).alias("consonant_len"),
            F.trim(F.concat(F.lit("  "), F.col("source"), F.lit("  "))).alias(
                "trimmed"
            ),
            F.lpad("source", 8, "_").alias("padded"),
            F.reverse("source").alias("rev"),
        )
    )


# --- conditionals / null discipline ----------------------------------------

@register(
    "fn_conditional",
    """
    SELECT s_suppkey,
           coalesce(nullif(s_name, 'Supplier#3'), 'REDACTED') AS masked,
           greatest(s_acctbal, 1000.0)  AS floor_bal,
           least(s_acctbal, 5000.0)     AS cap_bal,
           (s_acctbal IS NULL)          AS bal_missing,
           CASE WHEN s_acctbal >= 0 THEN 'ok' ELSE 'neg' END AS health
    FROM supplier
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return cat.read("supplier").select(
        "s_suppkey",
        F.coalesce(F.nullif("s_name", F.lit("Supplier#3")), F.lit("REDACTED")).alias(
            "masked"
        ),
        F.greatest("s_acctbal", F.lit(1000.0)).alias("floor_bal"),
        F.least("s_acctbal", F.lit(5000.0)).alias("cap_bal"),
        F.isnull("s_acctbal").alias("bal_missing"),
        F.when(F.col("s_acctbal") >= 0, "ok").otherwise("neg").alias("health"),
    )


# --- uint64 discipline: DECIMAL(20,0) arithmetic beyond int64 --------------

@register(
    "fn_uint64",
    """
    SELECT o_orderkey,
           CAST(CAST(o_orderkey AS DECIMAL(20,0)) * 4294967296 +
                9223372036854775807 AS DECIMAL(38,0)) AS shifted
    FROM orders WHERE o_orderkey < 100
    """,
)
def fn_uint64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uint64 semantics (SURVEY §1.3): values above 2^63-1 carried exactly
    in DECIMAL — the documented widening for YT's uint64 columns."""
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("orders")
        .filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            (
                F.col("o_orderkey").cast("decimal(20,0)") * F.lit(4294967296)
                + F.lit(9223372036854775807)
            )
            .cast("decimal(38,0)")
            .alias("shifted"),
        )
    )


# --- pivot / unpivot -------------------------------------------------------

@register(
    "fn_pivot",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def fn_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    out = (
        cat.read("lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )
    return out.select(
        "l_returnflag",
        F.round("O", 2).alias("O"),
        F.round("F", 2).alias("F"),
    )


@register(
    "fn_unpivot",
    """
    SELECT s_suppkey, metric, round(val, 2) AS val
    FROM (
      SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS val FROM supplier
      UNION ALL
      SELECT s_suppkey, 'nationkey' AS metric, CAST(s_nationkey AS DOUBLE) AS val
      FROM supplier
    ) t
    """,
)
def fn_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    sup = cat.read("supplier")
    unp = sup.select(
        "s_suppkey",
        F.expr(
            "stack(2, 'acctbal', s_acctbal, 'nationkey', CAST(s_nationkey AS DOUBLE)) "
            "AS (metric, val)"
        ),
    )
    return unp.select("s_suppkey", "metric", F.round("val", 2).alias("val"))


# --- as-of join (DuckDB ASOF JOIN is the oracle) ---------------------------

@register(
    "asof_last_click_before_purchase",
    """
    SELECT p.event_id, p.user_id,
           c.event_id AS click_id,
           round(c.value, 4) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    joined = asof_join(
        purchases, clicks, on="ts", by=["user_id"], right_cols=["click_id", "click_value"]
    )
    return joined.select(
        "event_id", "user_id", "click_id", F.round("click_value", 4).alias("click_value")
    )


# --- multimodal plumbing ---------------------------------------------------

@register(
    "mm_binary_meta",
    """
    SELECT doc_id AS id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) // 64 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary column + metadata + frame sampling (JVM-side substring on
    bytes). Fixture text is ASCII so octet length == strlen."""
    cat = load_tables(spark, sf_dir)
    media = attach_binary(cat.read("documents"), "text", "doc_id")
    frames = frame_sample(media, every_n_bytes=64)
    return (
        media.join(frames, "id")
        .select(
            "id",
            F.length("media").cast("long").alias("n_bytes"),
            F.col("n_frames").cast("long").alias("n_frames"),
        )
    )


@register(
    "mm_feature_extract",
    """
    SELECT doc_id AS id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(list_aggregate(list_transform(range(1, strlen(text)+1),
                i -> ascii(text[i])), 'sum') % 997 AS BIGINT) AS byte_sum_mod,
           CAST(len(list_filter(list_transform(range(1, least(strlen(text), 256)+1),
                i -> ascii(text[i])), x -> x < 64)) AS BIGINT) AS head_low_bytes
    FROM documents
    """,
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas byte-level feature extraction, hash-checked: the
    deterministic features (length / byte-sum mod 997 / low-byte count of
    the 256-byte head) are reproduced char-wise in the DuckDB oracle —
    fixture media is utf-8 of ASCII text, so bytes == code points."""
    cat = load_tables(spark, sf_dir)
    media = attach_binary(cat.read("documents"), "text", "doc_id")
    return extract_features(media)


# --- MATCH_RECOGNIZE (sql_match_recognize.cpp) as composition --------------

@register(
    "match_recognize_funnel",
    """
    WITH seqs AS (
      SELECT user_id,
             string_agg(CASE WHEN event_type = 'click' THEN 'c'
                             WHEN event_type = 'view' THEN 'v'
                             WHEN event_type = 'purchase' THEN 'p'
                             ELSE '.' END, '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(regexp_extract_all(seq, 'cv*p')) AS BIGINT) AS n_matches,
           coalesce(array_to_string(regexp_extract_all(seq, '(cv*p)', 1), ','), '')
             AS matches
    FROM seqs
    """,
)
def match_recognize_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel pattern per user: click → any views → purchase (PATTERN
    ``c v* p``), non-overlapping — the MATCH_RECOGNIZE core re-expressed."""
    from ytsaurus_spark.operators.match_recognize import match_recognize

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    return match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        symbols=[
            ("c", F.col("event_type") == "click"),
            ("v", F.col("event_type") == "view"),
            ("p", F.col("event_type") == "purchase"),
        ],
        pattern="cv*p",
    )


@register(
    "match_recognize_measures",
    """
    WITH e AS (
      SELECT user_id, event_id, value,
             CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'v'
                  WHEN 'purchase' THEN 'p' ELSE '.' END AS ch,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             sum(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pre
      FROM events
    ),
    marks AS (
      SELECT *, max(CASE WHEN ch <> 'v' THEN rn END)
                  OVER (PARTITION BY user_id ORDER BY rn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS prev_nonv
      FROM e
    ),
    m AS (
      SELECT mk.user_id, s.rn AS start_rn,
             s.event_id AS start_event, mk.event_id AS end_event,
             mk.rn - s.rn + 1 AS n_rows,
             mk.pre - s.pre + s.value AS sum_v
      FROM marks mk
      JOIN e s ON s.user_id = mk.user_id AND s.rn = mk.prev_nonv
      WHERE mk.ch = 'p' AND s.ch = 'c'
    )
    SELECT user_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_rn)
                AS BIGINT) AS match_no,
           'c' || repeat('v', CAST(n_rows - 2 AS INT)) || 'p' AS classifier,
           CAST(start_event AS BIGINT) AS start_event,
           CAST(end_event AS BIGINT) AS end_event,
           CAST(n_rows AS BIGINT) AS n_rows,
           round(sum_v, 4) AS sum_value
    FROM m
    """,
)
def match_recognize_measures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURES over each funnel match (one row per match): first/last
    event id, match length, SUM(value) over the matched rows — the
    reference's MEASURES clause (sql_match_recognize.cpp) with the default
    AFTER MATCH SKIP PAST LAST ROW. The oracle reconstructs the same
    matches with window functions (prev-non-view marks + prefix-sum
    differencing) — an independent formulation of the same semantics."""
    from ytsaurus_spark.operators.match_recognize import match_recognize_measures

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    out = match_recognize_measures(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        symbols=[
            ("c", F.col("event_type") == "click"),
            ("v", F.col("event_type") == "view"),
            ("p", F.col("event_type") == "purchase"),
        ],
        pattern="cv*p",
        measures={
            "start_event": ("first", "event_id"),
            "end_event": ("last", "event_id"),
            "n_rows": ("count", None),
            "sum_value": ("sum", "value"),
        },
        output_schema=(
            "user_id bigint, match_no bigint, classifier string, "
            "start_event bigint, end_event bigint, n_rows bigint, "
            "sum_value double"
        ),
    )
    return out.withColumn("sum_value", F.round("sum_value", 4))


@register(
    "match_recognize_skip_modes",
    """
    WITH v AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
      QUALIFY event_type = 'view'
    ),
    runs AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS len
      FROM (SELECT user_id, rn,
                   rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
            FROM v)
      GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(sum(len - 1) AS BIGINT) AS n_next_row,
           CAST(sum(len // 2) AS BIGINT) AS n_past_last
    FROM runs WHERE len >= 2
    GROUP BY user_id
    HAVING sum(len - 1) > 0
    """,
)
def match_recognize_skip_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AFTER MATCH SKIP TO NEXT ROW vs PAST LAST ROW on PATTERN ``v v``
    (consecutive views): overlapping scan finds len-1 matches per view-run,
    non-overlapping len/2 — the policies disagree exactly on runs, which
    the oracle counts gaps-and-islands style."""
    from ytsaurus_spark.operators.match_recognize import match_recognize_measures

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    kw = dict(
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        symbols=[
            ("c", F.col("event_type") == "click"),
            ("v", F.col("event_type") == "view"),
            ("p", F.col("event_type") == "purchase"),
        ],
        pattern="vv",
        measures={"n_rows": ("count", None)},
        output_schema=(
            "user_id bigint, match_no bigint, classifier string, n_rows bigint"
        ),
    )
    nxt = (
        match_recognize_measures(ev, after_match_skip="to_next_row", **kw)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_next_row"))
    )
    past = (
        match_recognize_measures(ev, after_match_skip="past_last_row", **kw)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_past_last"))
    )
    return nxt.join(past, "user_id")


# --- salted join (skew path) — results must equal the plain join -----------

@register(
    "skew_salted_join",
    """
    SELECT s_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting is a pure partitioning rewrite: the oracle is the UNSALTED
    join, proving identity. (operators/skew.py; AQE covers SMJ skew
    automatically — this is the explicit form for replicable sides.)"""
    from ytsaurus_spark.operators.skew import salted_join

    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    sup = cat.read("supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    joined = salted_join(li, sup, ["l_suppkey"], salt_factor=4)
    return joined.groupBy("s_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# --- weak schema: overflow JSON -> typed columns (schema inference) --------

@register(
    "weak_schema_promote",
    """
    SELECT CAST(sum(CAST(regexp_extract(props, ': *(-?[0-9]+)', 1) AS BIGINT))
                AS BIGINT) AS k_total,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE CAST(regexp_extract(props, ': *(-?[0-9]+)', 1) AS BIGINT) > 50
    """,
)
def weak_schema_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props plays the _rest overflow column of a weak-schema table:
    infer its keys, promote to typed columns, aggregate the promoted column
    (yt weak->strong migration, schema_inference_mode analog)."""
    from ytsaurus_spark.operators.weak_schema import (
        infer_rest_schema,
        promote_rest_columns,
    )

    cat = load_tables(spark, sf_dir)
    weak = cat.read("events").select("event_id", F.col("props").alias("_rest"))
    schema = infer_rest_schema(weak)
    assert schema.get("k") == "bigint"
    strong = promote_rest_columns(weak, schema, drop_rest=True)
    return strong.filter(F.col("k") > 50).agg(
        F.sum("k").alias("k_total"), F.count(F.lit(1)).alias("n")
    )


# --- LIKE/ILIKE with ESCAPE (EStringMatchOp query_common.h:72-76) ----------

@register(
    "fn_like_escape",
    """
    SELECT p_partkey,
           (p_name LIKE '%blue%')   AS has_blue,
           (p_name ILIKE '%BLUE%')  AS has_blue_ci,
           (p_type LIKE '50\\%%' ESCAPE '\\') AS starts_fifty_pct,
           (p_brand SIMILAR TO 'Brand#[0-9]') AS brand_single_digit
    FROM part WHERE p_partkey < 150
    """,
)
def fn_like_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("part")
        .filter(F.col("p_partkey") < 150)
        .select(
            "p_partkey",
            F.col("p_name").like("%blue%").alias("has_blue"),
            F.col("p_name").ilike("%BLUE%").alias("has_blue_ci"),
            F.expr(r"p_type LIKE '50\%%' ESCAPE '\\'").alias("starts_fifty_pct"),
            F.col("p_brand").rlike("^Brand#[0-9]$").alias("brand_single_digit"),
        )
    )


# --- interval arithmetic / date shifting -----------------------------------

@register(
    "fn_interval",
    """
    SELECT event_id,
           strftime(ts + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS plus_90m,
           strftime(ts - INTERVAL 2 DAY, '%Y-%m-%d %H:%M:%S')     AS minus_2d,
           strftime(date_trunc('day', ts) + INTERVAL 1 DAY - INTERVAL 1 SECOND,
                    '%Y-%m-%d %H:%M:%S') AS day_end
    FROM events WHERE event_id < 100
    """,
)
def fn_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        cat.read("events")
        .filter(F.col("event_id") < 100)
        .select(
            "event_id",
            F.date_format(
                F.col("ts") + F.expr("INTERVAL 90 MINUTES"), fmt
            ).alias("plus_90m"),
            F.date_format(F.col("ts") - F.expr("INTERVAL 2 DAYS"), fmt).alias(
                "minus_2d"
            ),
            F.date_format(
                F.date_trunc("day", "ts")
                + F.expr("INTERVAL 1 DAY")
                - F.expr("INTERVAL 1 SECOND"),
                fmt,
            ).alias("day_end"),
        )
    )


# --- QL builtin misc: conditionals, finiteness, list constructors ----------

@register(
    "fn_ql_misc",
    """
    SELECT s_suppkey,
           CASE WHEN s_acctbal > 5000 THEN 'rich' ELSE 'modest' END AS wealth,
           coalesce(NULL, s_name, 'unknown') AS name_or,
           isfinite(s_acctbal / 100.0) AS fin,
           greatest(s_nationkey, 10) AS g,
           len([s_suppkey, s_nationkey, 42]) AS list_len,
           list_contains([s_nationkey, 7], 7) AS has7
    FROM supplier
    """,
)
def fn_ql_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ytsaurus_spark.functions import ql as qf

    cat = load_tables(spark, sf_dir)
    sup = cat.read("supplier")
    return sup.select(
        "s_suppkey",
        qf.if_(F.col("s_acctbal") > 5000, "rich", "modest").alias("wealth"),
        qf.if_null(qf.if_null(F.lit(None), F.col("s_name")), "unknown").alias(
            "name_or"
        ),
        qf.is_finite(F.col("s_acctbal") / 100.0).alias("fin"),
        qf.greatest_(F.col("s_nationkey"), F.lit(10)).alias("g"),
        qf.yson_length(
            qf.make_list(F.col("s_suppkey"), F.col("s_nationkey"), F.lit(42))
        ).cast("long").alias("list_len"),
        qf.list_contains(
            qf.make_list(F.col("s_nationkey"), F.lit(7)), 7
        ).alias("has7"),
    )


# --- array higher-order functions (YQL List/Vector UDF modules) ------------

@register(
    "fn_array_hof",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE doc_id < 50
    )
    SELECT doc_id,
           list_sort(toks)[1:3]                             AS first3_sorted,
           CAST(len(list_filter(toks, w -> length(w) > 4)) AS BIGINT)
             AS n_long,
           CAST(list_sum([length(w) for w in toks]) AS BIGINT) AS total_chars,
           array_to_string(list_transform(toks[1:2], w -> upper(w)), ' ')
             AS head_upper,
           list_contains(toks, 'spark')                     AS has_spark
    FROM t
    """,
)
def fn_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    t = (
        cat.read("documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
    return t.select(
        "doc_id",
        F.slice(F.array_sort("toks"), 1, 3).alias("first3_sorted"),
        F.expr("size(filter(toks, w -> length(w) > 4))").cast("long").alias("n_long"),
        F.expr("aggregate(transform(toks, w -> length(w)), 0, (a, x) -> a + x)")
        .cast("long")
        .alias("total_chars"),
        F.expr("array_join(transform(slice(toks, 1, 2), w -> upper(w)), ' ')").alias(
            "head_upper"
        ),
        F.array_contains("toks", "spark").alias("has_spark"),
    )


# --- bitwise scalar ops (EBinaryOp <<,>>,|,&, query_common.h:46-70) --------

@register(
    "fn_bitwise",
    """
    SELECT p_partkey,
           p_size & 12        AS band_,
           p_size | 3         AS bor_,
           xor(p_size, 255)   AS bxor_,
           p_size << 2        AS shl,
           p_size >> 1        AS shr
    FROM part WHERE p_partkey < 120
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("part")
        .filter(F.col("p_partkey") < 120)
        .select(
            "p_partkey",
            F.expr("p_size & 12").alias("band_"),
            F.expr("p_size | 3").alias("bor_"),
            F.expr("p_size ^ 255").alias("bxor_"),
            F.shiftleft("p_size", 2).alias("shl"),
            F.shiftright("p_size", 1).alias("shr"),
        )
    )


# --- map type functions (dict<K,V> surface) --------------------------------

@register(
    "fn_map_funcs",
    """
    WITH m AS (
      SELECT s_suppkey,
             map(['bal', 'nat'], [s_acctbal, CAST(s_nationkey AS DOUBLE)]) AS kv
      FROM supplier
    )
    SELECT s_suppkey,
           CAST(cardinality(kv) AS INT)                    AS n_keys,
           round(kv['bal'][1], 2)                          AS bal,
           round(kv['nat'][1], 1)                          AS nat,
           array_to_string(map_keys(kv), ',')              AS keys_join
    FROM m
    """,
)
def fn_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    m = cat.read("supplier").select(
        "s_suppkey",
        F.map_from_arrays(
            F.array(F.lit("bal"), F.lit("nat")),
            F.array(F.col("s_acctbal"), F.col("s_nationkey").cast("double")),
        ).alias("kv"),
    )
    return m.select(
        "s_suppkey",
        F.size("kv").alias("n_keys"),
        F.round(F.element_at("kv", "bal"), 2).alias("bal"),
        F.round(F.element_at("kv", "nat"), 1).alias("nat"),
        F.array_join(F.map_keys("kv"), ",").alias("keys_join"),
    )


# --- GROUP BY HOPPING with several window sizes at once --------------------

@register(
    "stream_hopping_multi",
    """
    SELECT win_size, win_start, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT '1h' AS win_size,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start
      FROM events
      UNION ALL
      SELECT '1d',
             strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')
      FROM events
    ) t
    GROUP BY win_size, win_start
    """,
)
def stream_hopping_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution windowing (mkql_multihopping.cpp): the same stream
    aggregated at several window sizes in one plan — one scan, unioned
    window keys (at scale, a single pass instead of one job per size)."""
    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    hourly = ev.select(
        F.lit("1h").alias("win_size"),
        F.date_format(F.window("ts", "1 hour").start, fmt).alias("win_start"),
    )
    daily = ev.select(
        F.lit("1d").alias("win_size"),
        F.date_format(F.window("ts", "1 day").start, fmt).alias("win_start"),
    )
    return (
        hourly.unionByName(daily)
        .groupBy("win_size", "win_start")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- cast matrix (QL casts int64/uint64/double/boolean/string + temporal) --

# NOTE: double→int CAST truncates in Spark (C/QL semantics) but ROUNDS in
# DuckDB — the oracle uses trunc() explicitly to pin the QL behavior.
@register(
    "fn_casts",
    """
    SELECT event_id,
           CAST(event_id AS VARCHAR)                    AS id_str,
           CAST(CAST(event_id AS VARCHAR) AS BIGINT)    AS id_roundtrip,
           CAST(trunc(value) AS INT)                    AS val_int,
           CAST(value > 0.5 AS VARCHAR)                 AS bool_str,
           CAST(CAST(ts AS DATE) AS VARCHAR)            AS date_str,
           CAST('42.5' AS DOUBLE)                       AS parsed,
           CAST(CAST(event_id AS DECIMAL(20,0)) AS VARCHAR) AS u64_str
    FROM events WHERE event_id < 100
    """,
)
def fn_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("events")
        .filter(F.col("event_id") < 100)
        .select(
            "event_id",
            F.col("event_id").cast("string").alias("id_str"),
            F.col("event_id").cast("string").cast("bigint").alias("id_roundtrip"),
            F.col("value").cast("int").alias("val_int"),
            (F.col("value") > 0.5).cast("string").alias("bool_str"),
            F.col("ts").cast("date").cast("string").alias("date_str"),
            F.lit("42.5").cast("double").alias("parsed"),
            F.col("event_id").cast("decimal(20,0)").cast("string").alias("u64_str"),
        )
    )


@register(
    "match_recognize_navigation",
    """
    WITH nav AS (
      SELECT user_id, event_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY event_id)
               AS prev_value
      FROM events
    ), seqs AS (
      SELECT user_id,
             string_agg(CASE WHEN prev_value IS NOT NULL
                                  AND value > prev_value THEN 'r'
                             ELSE '.' END, '' ORDER BY event_id) AS seq
      FROM nav GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(regexp_extract_all(seq, 'rrr+')) AS BIGINT) AS n_streaks
    FROM seqs
    WHERE len(regexp_extract_all(seq, 'rrr+')) > 0
    ORDER BY user_id
    """,
)
def match_recognize_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREV navigation inside DEFINE (sql_match_recognize.cpp navigation
    functions): symbol r = value > PREV(value), pattern r{3,} — rising
    streaks of length ≥ 3 per user. with_navigation materializes the
    lag/lead columns on the same (key, order) shuffle the match uses."""
    from ytsaurus_spark.operators.match_recognize import (
        match_recognize,
        with_navigation,
    )

    cat = load_tables(spark, sf_dir)
    nav = with_navigation(
        cat.read("events"), ["user_id"], ["event_id"], ["value"]
    )
    m = match_recognize(
        nav,
        partition_by=["user_id"],
        order_by=["event_id"],
        symbols=[
            (
                "r",
                F.col("__prev_value").isNotNull()
                & (F.col("value") > F.col("__prev_value")),
            ),
        ],
        pattern="rrr+",
    )
    return (
        m.filter(F.col("n_matches") > 0)
        .select("user_id", F.col("n_matches").alias("n_streaks"))
        .orderBy("user_id")
    )


# --- Url / Ip / Digest scalar UDF modules ----------------------------------
# (the reference's common UDF libraries: yql/essentials/udfs/common/url_base,
#  ip_base, digest — SURVEY §2.3 scalar module row. Spark gives Url via
#  parse_url, digests via md5/sha2; Ip math is pure int arithmetic, so all
#  three families stay JVM-side with zero Python.)

@register(
    "fn_url",
    """
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || doc_id ||
             '?lang=' || lang || '&rev=' || (doc_id % 7) AS url
      FROM documents WHERE doc_id < 40
    )
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1)      AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]*(/[^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1)          AS q_lang,
           regexp_extract(url, '[?&]rev=([^&#]*)', 1)           AS q_rev,
           regexp_extract(url, '^([a-z]+)://', 1)               AS scheme,
           regexp_extract(url, '([^.]+\\.[^.]+)$'
             ) IS NOT NULL AS has_tld
    FROM u
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Url module parity (GetHost/GetPath/GetCGIParam/GetScheme —
    yql/essentials/udfs/common/url_base): Spark's parse_url covers the
    whole family natively; the oracle re-derives each part with regex."""
    cat = load_tables(spark, sf_dir)
    u = (
        cat.read("documents")
        .filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
                F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
                F.lit("&rev="), (F.col("doc_id") % 7).cast("string"),
            ).alias("url"),
        )
    )
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("q_lang"),
        F.parse_url("url", F.lit("QUERY"), F.lit("rev")).alias("q_rev"),
        F.parse_url("url", F.lit("PROTOCOL")).alias("scheme"),
        F.parse_url("url", F.lit("HOST")).rlike("[^.]+\\.[^.]+$").alias("has_tld"),
    )


@register(
    "fn_ip",
    """
    WITH ips AS (
      SELECT doc_id,
             '10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.' ||
             ((doc_id * 13) % 256) AS ip
      FROM documents WHERE doc_id < 60
    ), parts AS (
      SELECT doc_id, ip, string_split(ip, '.') AS o FROM ips
    )
    SELECT doc_id, ip,
           CAST(o[1] AS BIGINT) * 16777216 + CAST(o[2] AS BIGINT) * 65536 +
           CAST(o[3] AS BIGINT) * 256 + CAST(o[4] AS BIGINT)   AS ip_num,
           CAST(o[1] AS BIGINT) = 10                            AS is_private,
           o[1] || '.' || o[2] || '.0.0'                        AS subnet16
    FROM parts
    """,
)
def fn_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ip module parity (FromString/ToNum/IsPrivate/GetSubnet —
    yql/essentials/udfs/common/ip_base): dotted-quad ↔ uint32 is pure
    integer arithmetic over split octets, identical in both engines."""
    cat = load_tables(spark, sf_dir)
    ips = (
        cat.read("documents")
        .filter(F.col("doc_id") < 60)
        .select(
            "doc_id",
            F.concat(
                F.lit("10."), (F.col("doc_id") % 256).cast("string"),
                F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"),
                F.lit("."), ((F.col("doc_id") * 13) % 256).cast("string"),
            ).alias("ip"),
        )
    )
    o = F.split("ip", "\\.")
    oct_ = lambda i: F.element_at(o, i).cast("long")  # noqa: E731
    return ips.select(
        "doc_id",
        "ip",
        (oct_(1) * 16777216 + oct_(2) * 65536 + oct_(3) * 256 + oct_(4)).alias(
            "ip_num"
        ),
        (oct_(1) == 10).alias("is_private"),
        F.concat(
            F.element_at(o, 1), F.lit("."), F.element_at(o, 2), F.lit(".0.0")
        ).alias("subnet16"),
    )


@register(
    "fn_digest",
    """
    SELECT doc_id,
           md5(text)                                   AS h_md5,
           sha256(text)                                AS h_sha256,
           length(md5(text))                           AS md5_len,
           substr(md5(text || '|salt'), 1, 8)          AS salted_prefix
    FROM documents WHERE doc_id < 50
    """,
)
def fn_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest module parity (Md5Hex/Sha256/salted hashing —
    yql/essentials/udfs/common/digest): Spark md5/sha2 are JVM built-ins;
    both engines emit lowercase hex."""
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("documents")
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            F.md5("text").alias("h_md5"),
            F.sha2(F.col("text"), 256).alias("h_sha256"),
            F.length(F.md5("text")).cast("long").alias("md5_len"),
            F.substring(F.md5(F.concat(F.col("text"), F.lit("|salt"))), 1, 8).alias(
                "salted_prefix"
            ),
        )
    )


@register(
    "match_recognize_skip_to",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    cv AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_cv
      FROM seq WHERE event_type = 'click' AND nxt = 'view'
      GROUP BY user_id
    ),
    v AS (SELECT user_id, rn FROM seq WHERE event_type = 'view'),
    runs AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS len
      FROM (SELECT user_id, rn,
                   rn - row_number() OVER (PARTITION BY user_id ORDER BY rn)
                     AS grp
            FROM v)
      GROUP BY user_id, grp
    ),
    vv AS (
      SELECT user_id, CAST(sum(len - 1) AS BIGINT) AS n_vv
      FROM runs WHERE len >= 2 GROUP BY user_id
    )
    SELECT user_id, n_cv, n_vv
    FROM cv JOIN vv USING (user_id)
    """,
)
def match_recognize_skip_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AFTER MATCH SKIP TO LAST <symbol> (sql_match_recognize.cpp skip
    modes): resuming AT the last mapped symbol row makes pattern ``vv``
    overlap run-wise (len-1 matches per view-run) and lets ``cv+`` reuse
    its final view as a potential next-match anchor — both counts derived
    independently by the oracle from window functions."""
    from ytsaurus_spark.operators.match_recognize import match_recognize_measures

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    kw = dict(
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        symbols=[
            ("c", F.col("event_type") == "click"),
            ("v", F.col("event_type") == "view"),
            ("p", F.col("event_type") == "purchase"),
        ],
        measures={"n_rows": ("count", None)},
        output_schema=(
            "user_id bigint, match_no bigint, classifier string, n_rows bigint"
        ),
        after_match_skip=("to_last", "v"),
    )
    cv = (
        match_recognize_measures(ev, pattern="cv+", **kw)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_cv"))
    )
    vv = (
        match_recognize_measures(ev, pattern="vv", **kw)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_vv"))
    )
    return cv.join(vv, "user_id")


@register(
    "match_recognize_all_rows",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             lead(event_type) OVER w AS nxt,
             lead(event_id)  OVER w AS nxt_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pairs AS (
      SELECT user_id, event_id AS c_id, nxt_id AS p_id,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
               AS match_no
      FROM seq WHERE event_type = 'click' AND nxt = 'purchase'
    )
    SELECT user_id, c_id AS event_id, match_no,
           'c' AS classifier, CAST(1 AS BIGINT) AS row_in_match FROM pairs
    UNION ALL
    SELECT user_id, p_id, match_no, 'p', CAST(2 AS BIGINT) FROM pairs
    """,
)
def match_recognize_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL ROWS PER MATCH output mode on pattern ``cp`` (click immediately
    followed by purchase): every matched source row returns with its
    match_no / per-row classifier / offset — the row-expansion output of
    sql_match_recognize.cpp, which the oracle reconstructs pair-wise with
    window functions."""
    from ytsaurus_spark.operators.match_recognize import match_recognize_rows

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    return match_recognize_rows(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        symbols=[
            ("c", F.col("event_type") == "click"),
            ("p", F.col("event_type") == "purchase"),
        ],
        pattern="cp",
        keep_cols=["event_id"],
        output_schema=(
            "user_id bigint, event_id bigint, match_no bigint, "
            "classifier string, row_in_match bigint"
        ),
    )


# --- Unicode + multi-pattern scalar modules (SURVEY §2.3 long tail:
#  unicode_base, hyperscan/pire — yql/essentials/udfs/common/) ------------

@register(
    "fn_unicode",
    """
    WITH t AS (
      SELECT doc_id, lang, 'caf' || 'é' || '-' || lang AS dstr
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           nfc_normalize(dstr)                          AS nfc,
           CAST(length(nfc_normalize(dstr)) AS BIGINT)  AS nfc_len,
           CAST(length(dstr) AS BIGINT)                 AS raw_len,
           upper(lang)                                  AS lang_up,
           reverse(lang)                                AS lang_rev,
           CAST(levenshtein(lang, 'en') AS BIGINT)      AS lev_en,
           CAST(unicode(lang) AS BIGINT)                AS first_cp,
           'strasse-' || lang                           AS folded,
           regexp_matches(dstr, '^[\\x00-\\x7F]*$')     AS is_ascii
    FROM t
    """,
)
def fn_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode module parity (Normalize/NFC, GetLength, ToUpper, Reverse,
    LevensteinDistance, ToCodePointList's first element, Fold, IsAscii —
    unicode_base_udf.h:821-858). The probe string carries a combining
    acute (e +  ̷U+0301), so NFC genuinely recombines: nfc_len is one char
    shorter than raw_len. Normalization runs in an Arrow-batched Pandas
    UDF (no Spark builtin); everything else stays JVM-side. Fold is
    Python casefold (full folding: ß→ss) — the oracle pins the expected
    literal since DuckDB's lower() does not fold."""
    from ytsaurus_spark.functions.unicode_text import casefold, normalize_nfc

    cat = load_tables(spark, sf_dir)
    t = (
        cat.read("documents")
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            "lang",
            F.concat(F.lit("caf"), F.lit("é-"), F.col("lang")).alias(
                "dstr"
            ),
        )
    )
    return t.select(
        "doc_id",
        normalize_nfc(F.col("dstr")).alias("nfc"),
        F.length(normalize_nfc(F.col("dstr"))).cast("long").alias("nfc_len"),
        F.length("dstr").cast("long").alias("raw_len"),
        F.upper("lang").alias("lang_up"),
        F.reverse("lang").alias("lang_rev"),
        F.levenshtein("lang", F.lit("en")).cast("long").alias("lev_en"),
        F.ascii("lang").cast("long").alias("first_cp"),
        casefold(F.concat(F.lit("Straße-"), F.col("lang"))).alias(
            "folded"
        ),
        F.col("dstr").rlike("^[\\x00-\\x7F]*$").alias("is_ascii"),
    )


_MM_PATTERNS = ["window window", "hash scan", "batch batch batch"]


@register(
    "fn_multimatch",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN regexp_matches(text,
             '(?:window window)|(?:hash scan)|(?:batch batch batch)')
             THEN 1 ELSE 0 END) AS BIGINT) AS any_n,
           CAST(sum(
             CASE WHEN regexp_matches(text, 'window window')
                  THEN 1 ELSE 0 END
             + 2 * CASE WHEN regexp_matches(text, 'hash scan')
                        THEN 1 ELSE 0 END
             + 4 * CASE WHEN regexp_matches(text, 'batch batch batch')
                        THEN 1 ELSE 0 END) AS BIGINT) AS mask_sum
    FROM documents GROUP BY lang
    """,
)
def fn_multimatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperscan/Pire module parity (Grep/MultiGrep over a compiled
    multi-pattern database — yql/essentials/udfs/common/hyperscan): N
    patterns compile into ONE alternation scanned once per row for the
    any-match, plus a per-pattern bitmask; both are scan-stage JVM regex
    expressions (codegen), zero Python, zero extra passes over the
    corpus."""
    from ytsaurus_spark.functions.unicode_text import (
        multi_grep_any,
        multi_grep_mask,
    )

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(multi_grep_any("text", _MM_PATTERNS), 1).otherwise(0)
        )
        .cast("long")
        .alias("any_n"),
        F.sum(multi_grep_mask("text", _MM_PATTERNS)).cast("long").alias(
            "mask_sum"
        ),
    )


@register(
    "mm_frame_sample",
    """
    SELECT doc_id AS id, CAST(off // 64 AS INT) AS frame_idx,
           CAST(strlen(substr(text, off + 1, 64)) AS BIGINT) AS frame_len,
           CAST(list_aggregate(list_transform(
                  range(1, strlen(substr(text, off + 1, 64)) + 1),
                  i -> ascii(substr(text, off + 1, 64)[i])), 'sum') % 997
                AS BIGINT) AS frame_sum_mod
    FROM documents,
         unnest(range(0, greatest(strlen(text), 1), 64)) AS u(off)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling EXPLODED: every 64-byte slice of each payload as
    its own row (partial tail included) with a per-frame checksum —
    hash-checked against a char-wise DuckDB oracle (fixture media is
    UTF-8 of ASCII text, so bytes == code points). The slicing runs in
    the scan stage (sequence+explode, no Python); the checksum is a
    codegen'd HOF fold over the frame — a real decoder would replace the
    fold per Arrow batch behind the same (id, frame_idx, frame) schema."""
    from ytsaurus_spark.operators.multimodal import attach_binary, frame_explode

    cat = load_tables(spark, sf_dir)
    media = attach_binary(cat.read("documents"), "text", "doc_id")
    frames = frame_explode(media, every_n_bytes=64)
    fs = "cast(frame as string)"
    return frames.select(
        "id",
        "frame_idx",
        F.length("frame").cast("long").alias("frame_len"),
        F.expr(
            f"aggregate(transform(sequence(1, length({fs})), "
            f"i -> ascii(substring({fs}, i, 1))), 0, (a, x) -> a + x) % 997"
        ).cast("long").alias("frame_sum_mod"),
    )


# --- Set UDF module (yql/essentials/udfs/common/set) -----------------------

@register(
    "fn_set",
    """
    WITH t AS (
      SELECT p_partkey,
             list_sort(list_distinct(string_split(p_name, ' '))) AS a,
             ['green', 'sandy', 'metallic', 'tomato'] AS b
      FROM part WHERE p_partkey <= 200
    )
    SELECT p_partkey,
           list_sort(list_filter(a, x -> list_contains(b, x)))     AS inter,
           list_sort(list_distinct(list_concat(a, b)))             AS uni,
           list_sort(list_filter(a, x -> NOT list_contains(b, x))) AS diff,
           list_sort(list_concat(
             list_filter(a, x -> NOT list_contains(b, x)),
             list_filter(b, x -> NOT list_contains(a, x))))        AS symdiff,
           len(list_filter(a, x -> list_contains(b, x))) = 0       AS disjoint,
           len(list_filter(b, x -> NOT list_contains(a, x))) = 0   AS includes_b
    FROM t
    """,
)
def fn_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set UDF module (SetIntersection/Union/Difference/SymmetricDifference/
    IsDisjoint/Includes, yql/essentials/udfs/common/set) as codegen'd array
    set-algebra — no Python, no shuffle; every op runs in the scan stage."""
    cat = load_tables(spark, sf_dir)
    t = (
        cat.read("part")
        .filter(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.array_sort(F.array_distinct(F.split("p_name", " "))).alias("a"),
            F.array(*[F.lit(w) for w in ["green", "sandy", "metallic", "tomato"]]).alias("b"),
        )
    )
    return t.select(
        "p_partkey",
        F.array_sort(F.array_intersect("a", "b")).alias("inter"),
        F.array_sort(F.array_union("a", "b")).alias("uni"),
        F.array_sort(F.array_except("a", "b")).alias("diff"),
        F.array_sort(
            F.array_union(F.array_except("a", "b"), F.array_except("b", "a"))
        ).alias("symdiff"),
        (~F.arrays_overlap("a", "b")).alias("disjoint"),
        (F.size(F.array_except("b", "a")) == 0).alias("includes_b"),
    )


# --- Compress UDF module (codec roundtrips) --------------------------------

@register(
    "fn_compress",
    """
    SELECT doc_id,
           text                              AS roundtrip_zlib,
           text                              AS roundtrip_bz2,
           CAST(length(text) AS BIGINT)      AS orig_len
    FROM documents WHERE doc_id < 200
    """,
)
def fn_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compress/Decompress UDF module roundtrip (compress_base; block codec
    list yt/yt/core/compression/public.h:17-60) via Arrow-batched pandas
    UDFs over stdlib zlib/bz2.

    The oracle proves decompress(compress(x)) == x byte-for-byte for both
    codecs; an in-plan guard additionally proves compression is not the
    identity — any doc >= 200 chars whose zlib output fails to shrink
    raises. Both codecs run executor-side per Arrow batch; nothing moves
    through the driver."""
    from ytsaurus_spark.functions.compress import compress, decompress

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents").filter(F.col("doc_id") < 200)
    enc = docs.select(
        "doc_id",
        F.col("text"),
        compress("text", "zlib").alias("z"),
        compress("text", "bz2").alias("bz"),
    )
    n_bad = (
        enc.filter((F.length("text") >= 200) & (F.length("z") >= F.length("text")))
        .limit(1)
        .count()
    )
    if n_bad:
        raise AssertionError("zlib compression did not shrink a long document")
    return enc.select(
        "doc_id",
        decompress("z", "zlib").cast("string").alias("roundtrip_zlib"),
        decompress("bz", "bz2").cast("string").alias("roundtrip_bz2"),
        F.length("text").cast("long").alias("orig_len"),
    )


# --- Query Tracker async surface (query_tracker_client.h) ------------------

@register(
    "qt_async_query",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def qt_async_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Async query through the Query Tracker (StartQuery → poll → read,
    query_tracker_client.h:169-198): the query id returns immediately, the
    state machine advances pending→running→completing→completed on a
    worker thread inside a cancellable Spark job group, and the result is
    read back from the tracker's persisted parquet — the exact submission
    surface the reference's TPC-DS harness drives (SURVEY §3.3)."""
    from ytsaurus_spark.query_tracker import QueryTracker

    cat = load_tables(spark, sf_dir)
    cat.register_all()
    qt = QueryTracker(spark)
    qid = qt.start_query(
        "sql",
        """
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
    )
    rec = qt.wait(qid)
    assert rec["state"] == "completed", rec
    return qt.read_query_result(qid)


# --- SQL-standard JSON functions (YQL JSON_VALUE / JSON_EXISTS / JSON_QUERY)


@register(
    "fn_json_sql",
    """
    WITH j AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
             json_extract_string(props, '$.k') IS NOT NULL AS has_k,
             to_json(struct_pack(t := event_type,
                                 k := CAST(json_extract_string(props, '$.k') AS BIGINT))) AS doc
      FROM events
    )
    SELECT event_type,
           CAST(sum(k_val) AS BIGINT) AS k_sum,
           CAST(sum(CASE WHEN has_k THEN 1 ELSE 0 END) AS BIGINT) AS has_k_n,
           min(doc) AS first_doc,
           CAST(sum(json_array_length(json_array(k_val, k_val + 1))) AS BIGINT) AS arr_len_sum
    FROM j GROUP BY event_type
    """,
)
def fn_json_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YQL's SQL-standard JSON functions (JSON_VALUE, JSON_EXISTS,
    JSON_QUERY, serialization — yql/essentials/udfs and the Yson/Json
    built-ins, reference yt/yt/library/query evaluation of Any columns):
    JSON_VALUE == get_json_object + cast, JSON_EXISTS == extraction
    non-null, JSON_QUERY/serialize == to_json of a struct, array length
    over a constructed JSON array. All JVM-native expressions inside
    whole-stage codegen — no Python, one aggregate exchange."""
    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    j = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        F.get_json_object("props", "$.k").isNotNull().alias("has_k"),
        F.to_json(
            F.struct(
                F.col("event_type").alias("t"),
                F.get_json_object("props", "$.k").cast("long").alias("k"),
            )
        ).alias("doc"),
    )
    return j.groupBy("event_type").agg(
        F.sum("k_val").cast("long").alias("k_sum"),
        F.sum(F.when(F.col("has_k"), 1).otherwise(0)).cast("long").alias("has_k_n"),
        F.min("doc").alias("first_doc"),
        F.sum(
            F.json_array_length(
                F.to_json(F.array(F.col("k_val"), F.col("k_val") + 1))
            )
        )
        .cast("long")
        .alias("arr_len_sum"),
    )


# --- REAL image decode: stdlib PNG codec, closed-form oracle ---------------


@register(
    "mm_png_decode",
    """
    WITH g AS (
      SELECT doc_id, 4 + doc_id % 3 AS w, 4 + doc_id % 2 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM g
    ), pxy AS (
      SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM px
    )
    SELECT doc_id, CAST(max(w) AS INT) AS width, CAST(max(h) AS INT) AS height,
           round(avg((doc_id * 7 + x * 13 + y * 31) % 256), 4) AS mean_r,
           round(avg((doc_id * 7 + x * 13 + y * 31 + 5) % 256), 4) AS mean_g,
           round(avg((doc_id * 7 + x * 13 + y * 31 + 10) % 256), 4) AS mean_b
    FROM pxy GROUP BY doc_id
    """,
)
def mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end to end: synthesize valid PNGs from row ids
    (operators/multimodal.synthesize_png), decode them with the pure-
    stdlib codec (sources/png.py — no imaging library), and emit
    dimensions + per-channel means. The oracle recomputes the statistics
    from the generating closed form, so a decoder bug (filter math,
    stride, channel order) breaks the hash. Plan: two mapInPandas stages
    over Arrow batches, zero shuffles."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    media = synthesize_png(docs)
    feats = extract_image_features(media)
    return feats.select(
        F.col("id").alias("doc_id"),
        "width",
        "height",
        "mean_r",
        "mean_g",
        "mean_b",
    )


# --- edit-distance fuzzy matching (YQL String::LevenshteinDistance) --------


@register(
    "fn_edit_distance",
    """
    WITH names AS (
      SELECT DISTINCT substr(p_name, 1, 8) AS a FROM part WHERE p_size <= 3
    ), names2 AS (
      SELECT DISTINCT substr(p_name, 1, 8) AS b FROM part WHERE p_size >= 48
    )
    SELECT a, b, CAST(levenshtein(a, b) AS BIGINT) AS dist
    FROM names, names2
    WHERE levenshtein(a, b) <= 2 AND a <> b
    ORDER BY a, b
    """,
)
def fn_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YQL String::LevenshteinDistance (yql/essentials/udfs/common/string)
    as Spark's native `levenshtein` — fuzzy-matching two name sets within
    edit distance 2 via the production `dedup.fuzzy_join` shape: bucket
    both sides by (first char, length band), equi-join the buckets, then
    verify with the exact distance — no CartesianProduct anywhere in the
    plan, the same bucket→probe→verify pipeline the corpus-scale fuzzy
    dedup uses."""
    from ytsaurus_spark.operators.dedup import fuzzy_join

    cat = load_tables(spark, sf_dir)
    part = cat.read("part")
    names = (
        part.filter(F.col("p_size") <= 3)
        .select(F.substring("p_name", 1, 8).alias("a"))
        .distinct()
    )
    names2 = (
        part.filter(F.col("p_size") >= 48)
        .select(F.substring("p_name", 1, 8).alias("b"))
        .distinct()
    )
    return (
        fuzzy_join(names, names2, "a", "b", max_distance=2)
        .filter(F.col("a") != F.col("b"))
        .orderBy("a", "b")
    )


# --- REAL audio decode: stdlib WAV codec, closed-form oracle ---------------


@register(
    "mm_wav_decode",
    """
    WITH g AS (
      SELECT doc_id, 256 + doc_id % 64 AS n,
             8000 * (1 + doc_id % 2) AS sr
      FROM documents
    ), samples AS (
      SELECT doc_id, n, sr,
             ((doc_id * 31 + unnest(range(0, n)) * 7) % 65536) - 32768 AS s
      FROM g
    )
    SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
           CAST(max(sr) AS INT) AS sample_rate,
           round(max(n) * 1000.0 / max(sr), 4) AS duration_ms,
           round(sqrt(avg(s * s * 1.0)), 4) AS rms
    FROM samples GROUP BY doc_id
    """,
)
def mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end to end: synthesize PCM16 WAVs from row ids
    (operators/multimodal.synthesize_wav — stdlib `wave`, no audio
    library), decode them back with the same stdlib reader, and emit
    frame count / sample rate / duration / RMS. The oracle recomputes
    everything from the generating closed form, so a codec or
    sample-unpacking bug breaks the hash. Two mapInPandas stages, zero
    shuffles."""
    from ytsaurus_spark.operators.multimodal import (
        extract_audio_features,
        synthesize_wav,
    )

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    feats = extract_audio_features(synthesize_wav(docs))
    return feats.select(
        F.col("id").alias("doc_id"),
        "n_samples",
        "sample_rate",
        "duration_ms",
        "rms",
    )


# --- REAL video frame sampling + decode, closed-form oracle ----------------


@register(
    "mm_video_frames",
    """
    WITH g AS (
      SELECT doc_id, unnest(range(0, 2 + doc_id % 3)) AS f FROM documents
    ), px AS (
      SELECT doc_id, f, unnest(range(0, 48)) AS p FROM g
    )
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           round(avg((doc_id * 7 + f * 97 + ((p // 3) % 4) * 13
                      + (p // 12) * 31 + (p % 3) * 5) % 256), 4) AS mean_value
    FROM px
    WHERE f % 2 = 0
    GROUP BY doc_id, f
    """,
)
def mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video path end to end: frame containers of PNG-encoded frames
    (operators/multimodal.synthesize_video), every-2nd-frame sampling,
    per-frame PNG decode, mean pixel value — container parse AND frame
    codec are real code (sources/png.py), and the oracle recomputes the
    means from the generating closed form. 48 bytes/frame = 4x4 RGB;
    pixel p maps to (x, y, c) = ((p//3)%4, p//12, p%3)."""
    from ytsaurus_spark.operators.multimodal import (
        extract_video_frames,
        synthesize_video,
    )

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    frames = extract_video_frames(synthesize_video(docs), every_n=2)
    return frames.select(
        F.col("id").alias("doc_id"), "frame_idx", "mean_value"
    )


@register(
    "mm_image_resize",
    """
    WITH g AS (
      SELECT doc_id, 4 + doc_id % 3 AS w, 4 + doc_id % 2 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, ((w + 1) // 2) * ((h + 1) // 2) * 3)) AS p
      FROM g
    ), mapped AS (
      -- resized pixel p -> source (x, y, c) with nearest-neighbor stride 2
      SELECT doc_id, w, h,
             ((p // 3) % ((w + 1) // 2)) * 2 AS x,
             (p // (3 * ((w + 1) // 2))) * 2 AS y,
             p % 3 AS c
      FROM px
    )
    SELECT doc_id,
           CAST(max((w + 1) // 2) AS INT) AS width,
           CAST(max((h + 1) // 2) AS INT) AS height,
           round(avg((doc_id * 7 + x * 13 + y * 31 + c * 5) % 256), 4) AS mean_value
    FROM mapped GROUP BY doc_id
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: synthesize PNGs, nearest-neighbor downsample 2x
    through decode→sample→re-encode (operators/multimodal.resize_images),
    then re-decode the RESIZED payload for its stats — so the oracle's
    closed-form mean checks the full decode/encode/decode chain. The
    100 TB shape: thumbnail in the scan stage, shrink bytes before any
    exchange."""
    from ytsaurus_spark.operators.multimodal import (
        resize_images,
        synthesize_png,
    )

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    resized = resize_images(synthesize_png(docs), factor=2)
    # re-decode the resized payload: stats must match the closed form
    from ytsaurus_spark.operators.multimodal import extract_image_features

    feats = extract_image_features(resized.select("id", "media"))
    return feats.select(
        F.col("id").alias("doc_id"), "width", "height"
    ).join(
        resized.select(F.col("id").alias("doc_id"), "mean_value"), "doc_id"
    )


# --- Stat UDF module (yql/essentials/udfs/common/stat) ---------------------

@register(
    "fn_stat",
    """
    WITH seg AS (
      SELECT c_mktsegment AS segment,
             CAST(count(*) AS BIGINT)                    AS n,
             round(quantile_cont(c_acctbal, 0.5), 4)     AS p50,
             round(quantile_cont(c_acctbal, 0.9), 4)     AS p90,
             round(quantile_cont(c_acctbal, 0.99), 4)    AS p99
      FROM customer GROUP BY c_mktsegment
    ), merged AS (
      SELECT '__ALL__'                                   AS segment,
             CAST(count(*) AS BIGINT)                    AS n,
             round(quantile_cont(c_acctbal, 0.5), 4)     AS p50,
             round(quantile_cont(c_acctbal, 0.9), 4)     AS p90,
             round(quantile_cont(c_acctbal, 0.99), 4)    AS p99
      FROM customer
    )
    SELECT * FROM seg UNION ALL SELECT * FROM merged ORDER BY segment
    """,
)
def fn_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stat UDF module façade (Stat.TDigest_Create/AddValue/GetPercentile/
    Merge, yql/essentials/udfs/common/stat/static/stat_udf.h:17-73): the
    reference builds a mergeable t-digest per group and reads percentiles
    off it. Spark-first twin: ``percentile`` is the exact distributed
    aggregate (Create+AddValue+GetPercentile collapse into one declarative
    agg); Merge — combining group sketches into a coarser grain — is
    re-aggregation at that grain (the '__ALL__' row), which is what sketch
    merge approximates. At 100 TB swap ``percentile`` for
    ``percentile_approx`` — Spark's own mergeable quantile sketch, the
    literal TDigest counterpart — at the cost of exact-oracle parity."""
    cat = load_tables(spark, sf_dir)
    cust = cat.read("customer")
    pct = lambda p: F.round(  # noqa: E731
        F.percentile("c_acctbal", F.lit(p)), 4
    )
    seg = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        pct(0.5).alias("p50"),
        pct(0.9).alias("p90"),
        pct(0.99).alias("p99"),
    )
    merged = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        pct(0.5).alias("p50"),
        pct(0.9).alias("p90"),
        pct(0.99).alias("p99"),
    ).select(F.lit("__ALL__").alias("segment"), "n", "p50", "p90", "p99")
    return seg.unionByName(merged).orderBy("segment")


# --- Vector UDF module (yql/essentials/udfs/common/vector) -----------------

@register(
    "fn_vector",
    """
    WITH cents AS (
      SELECT c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS c,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY round(c_acctbal * 100), c_custkey)
               AS rn
      FROM customer
    ), top5 AS (
      SELECT c_nationkey, c, rn FROM cents WHERE rn <= 5
    ), built AS (
      SELECT c_nationkey,
             list(c ORDER BY rn)            AS vec,
             CAST(count(*) AS BIGINT)       AS n,
             CAST(sum(c * c) AS BIGINT)     AS norm2
      FROM top5 GROUP BY c_nationkey
    ), dot AS (
      SELECT a.c_nationkey,
             CAST(sum(a.c * b.c) AS BIGINT) AS dot_rev
      FROM top5 a
      JOIN (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS cnt
            FROM top5 GROUP BY c_nationkey) s USING (c_nationkey)
      JOIN top5 b ON a.c_nationkey = b.c_nationkey
                 AND a.rn + b.rn = s.cnt + 1
      GROUP BY a.c_nationkey
    )
    SELECT built.c_nationkey AS c_nationkey, vec, n, norm2, dot_rev
    FROM built JOIN dot ON built.c_nationkey = dot.c_nationkey
    ORDER BY c_nationkey
    """,
)
def fn_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector UDF module façade (Vector.Create/Emplace/Swap/GetResult,
    yql/essentials/udfs/common/vector/vector_udf.cpp:97-116): the
    reference incrementally builds a mutable vector resource inside an
    aggregation and reads it out. Spark-first twin: Create+Emplace+
    GetResult collapse into an ordered ``collect_list`` per group (here
    the 5 smallest balance-cents per nation — bounded, so the array stays
    executor-sized at any SF); Swap — exchanging two vector bindings — is
    a zero-cost column rename in a declarative engine. The vector math
    the module feeds (norms, dot products) runs as JVM array HOFs
    (``aggregate``/``zip_with``) with exact integer cents — the same
    no-Python path the similarity operators use (operators/similarity.py).
    """
    from pyspark.sql import Window as W

    cat = load_tables(spark, sf_dir)
    cents = cat.read("customer").select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("c"),
        "c_custkey",
    )
    w = W.partitionBy("c_nationkey").orderBy("c", "c_custkey")
    top5 = (
        cents.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    built = (
        top5.groupBy("c_nationkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rn", "c"))
            ).alias("__pairs"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("norm2"),
        )
        .select(
            "c_nationkey",
            F.transform("__pairs", lambda p: p.c).alias("vec"),
            "n",
            "norm2",
        )
    )
    return built.select(
        "c_nationkey",
        "vec",
        "n",
        "norm2",
        F.aggregate(
            F.zip_with("vec", F.reverse("vec"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot_rev"),
    ).orderBy("c_nationkey")


# --- perceptual-hash image dedup (real decode, closed-form oracle) ---------

@register(
    "mm_image_phash_dedup",
    """
    WITH gids AS (
      SELECT DISTINCT doc_id % 100 AS gid FROM documents
    ), px AS (
      SELECT gid, y * (4 + gid % 3) + x AS pos,
             ((gid*7 + x*13 + y*31) % 256)
             + ((gid*7 + x*13 + y*31 + 5) % 256)
             + ((gid*7 + x*13 + y*31 + 10) % 256) AS g
      FROM gids,
           LATERAL unnest(range(0, 4 + gid % 2)) AS ry(y),
           LATERAL unnest(range(0, 4 + gid % 3)) AS rx(x)
    ), tot AS (
      SELECT gid, CAST(sum(g) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n
      FROM px GROUP BY gid
    ), bits AS (
      SELECT p.gid,
             string_agg(CASE WHEN p.g * t.n > t.total THEN '1' ELSE '0' END,
                        '' ORDER BY p.pos) AS phash
      FROM px p JOIN tot t USING (gid) GROUP BY p.gid
    ), docs2 AS (
      SELECT doc_id, doc_id % 100 AS gid FROM documents
    )
    SELECT b.phash,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(d.doc_id) AS BIGINT) AS canonical_id
    FROM docs2 d JOIN bits b USING (gid)
    GROUP BY b.phash
    """,
)
def mm_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by perceptual hash with a REAL decode path: documents
    share generator images (doc_id % 100), the PNGs are synthesized,
    byte-decoded (sources/png.py), pHashed in exact integer arithmetic,
    and duplicate groups counted per hash — the oracle recomputes the
    hashes from the generating closed form, so a decoder or hash bug
    breaks every group."""
    from ytsaurus_spark.operators.multimodal import image_phash, synthesize_png

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents").select(
        "doc_id", (F.col("doc_id") % 100).alias("gid")
    )
    gens = docs.select(F.col("gid").alias("doc_id")).distinct()
    ph = image_phash(synthesize_png(gens))
    return (
        docs.join(ph, docs["gid"] == ph["id"])
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
        )
    )


@register(
    "asof_tolerance_join",
    """
    SELECT p.event_id, p.user_id,
           CASE WHEN epoch(p.ts) - epoch(c.ts) <= 3600
                THEN c.event_id END AS click_id,
           CASE WHEN epoch(p.ts) - epoch(c.ts) <= 3600
                THEN round(c.value, 4) END AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 1-hour tolerance (pandas merge_asof semantics):
    the most recent click before each purchase counts only if it is at
    most an hour old — stale matches null out, the purchase row stays.
    Same single-window carry-forward plan as asof_join (the matched axis
    value rides the same window; no extra shuffle); the oracle is
    DuckDB's native ASOF LEFT JOIN with the tolerance applied as a
    post-filter on the matched age."""
    from ytsaurus_spark.operators.asof import asof_join

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    joined = asof_join(
        purchases, clicks, on="ts", by=["user_id"],
        right_cols=["click_id", "click_value"], tolerance=3600.0,
    )
    return joined.select(
        "event_id", "user_id", "click_id",
        F.round("click_value", 4).alias("click_value"),
    )


@register(
    "asof_forward_join",
    """
    SELECT c.event_id, c.user_id,
           p.event_id AS purchase_id,
           round(p.value, 4) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def asof_forward_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (pandas merge_asof direction='forward'): for
    each click, the user's NEXT purchase at-or-after it — the conversion
    attribution complement of asof_last_click_before_purchase. Same
    one-window plan with the frame mirrored to FOLLOWING and first()
    instead of last(); the oracle is DuckDB's native forward ASOF
    (c.ts <= p.ts)."""
    from ytsaurus_spark.operators.asof import asof_join

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    joined = asof_join(
        clicks, purchases, on="ts", by=["user_id"],
        right_cols=["purchase_id", "purchase_value"], direction="forward",
    )
    return joined.select(
        "event_id", "user_id", "purchase_id",
        F.round("purchase_value", 4).alias("purchase_value"),
    )


@register(
    "asof_nearest_join",
    """
    WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    bk AS (
      SELECT v.event_id, cb.event_id AS bk_id, cb.ts AS bk_ts
      FROM v ASOF LEFT JOIN c cb
        ON v.user_id = cb.user_id AND v.ts >= cb.ts
    ), fw AS (
      SELECT v.event_id, cf.event_id AS fw_id, cf.ts AS fw_ts
      FROM v ASOF LEFT JOIN c cf
        ON v.user_id = cf.user_id AND v.ts <= cf.ts
    )
    SELECT v.event_id, v.user_id,
           CASE WHEN bk_ts IS NOT NULL AND (fw_ts IS NULL OR
                     epoch(v.ts) - epoch(bk_ts) <= epoch(fw_ts) - epoch(v.ts))
                THEN bk_id
                WHEN fw_ts IS NOT NULL THEN fw_id END AS click_id
    FROM v JOIN bk USING (event_id) JOIN fw USING (event_id)
    """,
)
def asof_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (merge_asof direction='nearest'): for each view
    the temporally closest click by the same user in EITHER direction,
    ties preferring backward. One keyed shuffle carries both the
    backward and forward windows (orderings differ only in the tie
    column → local re-sort, no second exchange); the oracle composes
    DuckDB's backward and forward ASOF joins with the same pick rule."""
    from ytsaurus_spark.operators.asof import asof_join

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = asof_join(
        views, clicks, on="ts", by=["user_id"],
        right_cols=["click_id"], direction="nearest",
    )
    return joined.select("event_id", "user_id", "click_id")


# --- REAL audio VAD: frame-energy segmentation, closed-form oracle ---------


@register(
    "mm_audio_vad_segments",
    """
    WITH g AS (
      SELECT doc_id, 256 + doc_id % 64 AS n FROM documents
    ), sm AS (
      SELECT doc_id, unnest(range(0, n)) AS j FROM g
    ), s2 AS (
      SELECT doc_id, j // 64 AS frame_idx,
             CAST(((doc_id * 31 + j * 7) % 65536) - 32768 AS BIGINT) AS s
      FROM sm
    ), fr AS (
      SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
             CAST(sum(s * s) AS BIGINT) AS energy
      FROM s2 GROUP BY 1, 2
    ), fl AS (
      SELECT doc_id, frame_idx, energy,
             energy > 22900000000 AS active,
             lag(energy > 22900000000) OVER (PARTITION BY doc_id
                 ORDER BY frame_idx) AS prev_active
      FROM fr
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
             AS n_active,
           CAST(sum(CASE WHEN active AND (prev_active IS NULL
                         OR NOT prev_active) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_segments,
           CAST(max(energy) AS BIGINT) AS peak_energy
    FROM fl GROUP BY doc_id
    """,
)
def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL energy-threshold voice-activity detection end to end:
    synthesize PCM16 WAVs, decode to 64-sample frame energies (exact
    integer Σs² — operators/multimodal.extract_audio_frame_energy), flag
    active frames, and count contiguous active segments via a per-clip
    lag window. The oracle recomputes frames and energies from the
    generating closed form, so a codec, framing, or segmentation bug
    breaks the hash. Decode is one mapInPandas stage; the segment window
    partitions per clip (frames-per-clip bounded), and the final
    aggregate partial-aggs."""
    from pyspark.sql import Window as W

    from ytsaurus_spark.operators.multimodal import (
        extract_audio_frame_energy,
        synthesize_wav,
    )

    cat = load_tables(spark, sf_dir)
    fr = extract_audio_frame_energy(synthesize_wav(cat.read("documents")))
    lag_w = W.partitionBy("id").orderBy("frame_idx")
    fl = fr.withColumn("active", F.col("energy") > 22_900_000_000).withColumn(
        "prev_active", F.lag("active").over(lag_w)
    )
    return (
        fl.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.sum(F.when(F.col("active"), 1).otherwise(0))
            .cast("long")
            .alias("n_active"),
            F.sum(
                F.when(
                    F.col("active")
                    & (F.col("prev_active").isNull() | ~F.col("prev_active")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_segments"),
            F.max("energy").cast("long").alias("peak_energy"),
        )
    )


@register(
    "mm_audio_fingerprint_dedup",
    """
    WITH g AS (
      SELECT doc_id, 256 + doc_id % 64 AS n FROM documents
    ), sm AS (
      SELECT doc_id, unnest(range(0, n)) AS j FROM g
    ), s2 AS (
      SELECT doc_id, j // 32 AS frame_idx,
             CAST(((doc_id * 31 + j * 7) % 65536) - 32768 AS BIGINT) AS s
      FROM sm
    ), fr AS (
      SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
             CAST(sum(s * s) AS BIGINT) AS energy
      FROM s2 GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(energy) AS BIGINT) AS total
      FROM fr GROUP BY doc_id
    ), fp AS (
      SELECT fr.doc_id, tot.n_frames,
             CAST(sum(CASE WHEN fr.energy * tot.n_frames > tot.total
                           THEN 1::BIGINT << fr.frame_idx
                           ELSE 0 END) AS BIGINT) AS fp
      FROM fr JOIN tot ON fr.doc_id = tot.doc_id
      GROUP BY fr.doc_id, tot.n_frames
    )
    SELECT n_frames, fp,
           CAST(count(*) AS BIGINT) AS n_clips,
           CAST(min(doc_id) AS BIGINT) AS canonical_id
    FROM fp GROUP BY n_frames, fp
    """,
)
def mm_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint audio dedup end to end: synthesize PCM16
    WAVs, decode to exact integer 32-sample frame energies
    (operators/multimodal.extract_audio_frame_energy), derive a
    Shazam-style spectral-shape fingerprint (bit i set iff frame i's
    energy exceeds the clip mean — the compare is the integer
    cross-multiply energy·n_frames > Σenergy, no float features), and
    bucket clips by (n_frames, fingerprint) to find duplicate-audio
    clusters with a deterministic min-id canonical. The dedup is a
    bucketed equi-group on a tiny key — never an all-pairs compare —
    so at 100 TB the corpus crosses one decode stage (mapInPandas,
    Arrow batches) and one clip-grain exchange (the mean window and
    the fingerprint fold share the id partitioning). The oracle
    recomputes frames and energies from the WAV generator's closed
    form, so a codec, framing, or bit-packing bug breaks the hash."""
    from pyspark.sql import Window as W

    from ytsaurus_spark.operators.multimodal import (
        extract_audio_frame_energy,
        synthesize_wav,
    )

    cat = load_tables(spark, sf_dir)
    fr = extract_audio_frame_energy(
        synthesize_wav(cat.read("documents")), frame=32
    )
    wtot = W.partitionBy("id")
    d = fr.withColumn(
        "total", F.sum("energy").over(wtot)
    ).withColumn("n_frames", F.count(F.lit(1)).over(wtot).cast("long"))
    fp = d.groupBy("id", "n_frames").agg(
        F.sum(
            F.when(
                F.col("energy") * F.col("n_frames") > F.col("total"),
                F.expr("shiftleft(CAST(1 AS BIGINT), frame_idx)"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("fp"),
    )
    return fp.groupBy("n_frames", "fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.min("id").cast("long").alias("canonical_id"),
    )


@register(
    "mm_image_tile_stats",
    """
    WITH g AS (
      SELECT doc_id, 4 + doc_id % 3 AS w, 4 + doc_id % 2 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM g
    ), pxy AS (
      SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM px
    ), tiled AS (
      SELECT doc_id,
             CAST(least(x // ((w + 1) // 2), 1) AS INT) AS tile_x,
             CAST(least(y // ((h + 1) // 2), 1) AS INT) AS tile_y,
             (doc_id * 7 + x * 13 + y * 31) % 256 AS r,
             (doc_id * 7 + x * 13 + y * 31 + 5) % 256 AS gg,
             (doc_id * 7 + x * 13 + y * 31 + 10) % 256 AS b
      FROM pxy
    )
    SELECT doc_id, tile_x, tile_y,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(sum(gg) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b
    FROM tiled
    GROUP BY doc_id, tile_x, tile_y
    ORDER BY doc_id, tile_x, tile_y
    """,
)
def mm_image_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode + 2×2 tile mosaic statistics
    (operators/multimodal.image_tile_stats): per-tile exact integer
    channel sums — the ViT-style patch-grain pre-aggregation, with
    ragged edge tiles keeping remainders so Σ tiles ≡ image. One
    Arrow-batched mapInPandas stage over the stdlib PNG codec, zero
    shuffles; the oracle recomputes every tile sum from the pixel
    generating closed form, so a stride, filter, or tiling bug breaks
    the hash."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    media = synthesize_png(docs)
    tiles = image_tile_stats(media, grid=2)
    return tiles.select(
        F.col("id").alias("doc_id"),
        "tile_x",
        "tile_y",
        "n_px",
        "sum_r",
        "sum_g",
        "sum_b",
    ).orderBy("doc_id", "tile_x", "tile_y")
