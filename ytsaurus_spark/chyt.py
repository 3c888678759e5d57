"""CHYT (ClickHouse-over-YT) SQL dialect shim: run CHYT-style query text
on Spark — the third user surface next to QL (operators/select_rows.py)
and YQL (yql/).

Reference: CHYT executes stock ClickHouse SQL with YT tables as storage
(yt/chyt/server/storage_distributor.cpp:227-360 fans secondary queries;
granule_min_max_filter.cpp:24-83 prunes by chunk stats — Parquet
row-group stats + Catalyst predicate pushdown give the same skipping
declaratively). Its tests (yt/chyt/tests/server/test_common.py) write
queries like::

    select key1, key2, sum(value) from "//tmp/t" group by key1, key2
    select * from concatYtTablesRange('//tmp/dir') order by i

This shim translates the CHYT-specific surface onto Spark SQL:

- **double-quoted cypress paths** ``"//home/x/t"`` as table refs →
  the registered basename view (YtClient resolution when given);
- **concatYtTables / concatYtTablesRange / concatYtTablesRegexp** table
  functions (test_common.py:628-665) → a client-resolved UNION ALL of
  the member tables (the metadata-only concatenate analog);
- **PREWHERE** → folded into WHERE (``PREWHERE a WHERE b`` → WHERE
  ``(a) AND (b)``): PREWHERE is ClickHouse's manual pushdown hint, and
  Catalyst pushes every conjunct to the scan unconditionally;
- **ClickHouse function spellings** → portable SQL (countIf/sumIf/avgIf
  → conditional aggregates, uniqExact → count(distinct), toYYYYMM /
  toYear / toMonth / toDayOfMonth / toDate date parts, if/multiIf →
  CASE) or Spark builtins (cityHash64 → xxhash64 — same non-bit-compat
  note as farm_hash, arrayJoin → explode, uniq → approx_count_distinct);
- a trailing **FORMAT <X>** clause is stripped (wire-format directive).

Everything else ClickHouse shares with ANSI SQL parses on Spark as-is.
"""

from __future__ import annotations

import re

from ytsaurus_spark.yql.dialect import (
    _depth_map,
    _split_call_args,
    _split_top_commas,
)

__all__ = ["translate_chyt", "chyt_query", "resolve_if_defaults"]


# CH name (lowercased) -> format template over positional args.
# "portable" rows translate onto the Spark/DuckDB shared surface (the
# oracle-checkable tier); "spark" rows use Spark-only builtins.
_CH_FUNCS: dict[str, str] = {
    # conditional aggregates (ClickHouse's *If combinators)
    # ClickHouse *If combinators return the TYPE DEFAULT (0) when no row
    # matches, not NULL — coalesce matches that. avgIf returns nan on an
    # empty match set; we keep NULL there (documented divergence: NULL is
    # the SQL-portable spelling and DuckDB agrees).
    # min/max take any orderable type, so the default depends on the
    # argument's type ('' for String, epoch for Date, 0 for numbers) —
    # the chyt_if_default marker is resolved by a lazy schema probe in
    # resolve_if_defaults (chyt_query runs it; text-only callers get the
    # numeric-0 fallback).
    "countif": "CAST(sum(CASE WHEN {0} THEN 1 ELSE 0 END) AS BIGINT)",
    "sumif": "coalesce(sum(CASE WHEN {1} THEN {0} END), 0)",
    "avgif": "avg(CASE WHEN {1} THEN {0} END)",
    "minif": "chyt_if_default(min(CASE WHEN {1} THEN {0} END))",
    "maxif": "chyt_if_default(max(CASE WHEN {1} THEN {0} END))",
    "uniqexact": "count(DISTINCT {0})",
    # generic *If combinators beyond the arithmetic five: ClickHouse
    # attaches -If to ANY aggregate; the CASE-wrap is the portable form
    # (collect_list/collect_set/any_value/count all skip NULLs, matching
    # the only-matching-rows semantics)
    "anyif": "any_value(CASE WHEN {1} THEN {0} END)",
    "anylastif": "any_value(CASE WHEN {1} THEN {0} END)",
    "uniqexactif": "count(DISTINCT CASE WHEN {1} THEN {0} END)",
    "uniqif": "approx_count_distinct(CASE WHEN {1} THEN {0} END)",
    "grouparrayif": "collect_list(CASE WHEN {1} THEN {0} END)",
    "groupuniqarrayif": "collect_set(CASE WHEN {1} THEN {0} END)",
    "argmaxif": ("max_by(CASE WHEN {2} THEN {0} END, "
                 "CASE WHEN {2} THEN {1} END)"),
    "argminif": ("min_by(CASE WHEN {2} THEN {0} END, "
                 "CASE WHEN {2} THEN {1} END)"),
    "stddevpopif": "stddev_pop(CASE WHEN {1} THEN {0} END)",
    "stddevsampif": "stddev_samp(CASE WHEN {1} THEN {0} END)",
    "varpopif": "var_pop(CASE WHEN {1} THEN {0} END)",
    "varsampif": "var_samp(CASE WHEN {1} THEN {0} END)",
    # date parts
    "toyear": "CAST(year({0}) AS INT)",
    "tomonth": "CAST(month({0}) AS INT)",
    "todayofmonth": "CAST(day({0}) AS INT)",
    "tohour": "CAST(hour({0}) AS INT)",
    "tominute": "CAST(minute({0}) AS INT)",
    "tosecond": "CAST(second({0}) AS INT)",
    "toquarter": "CAST(quarter({0}) AS INT)",
    # ClickHouse numbers Monday=1..Sunday=7; Spark's dayofweek is
    # Sunday=1 — shift portably
    "todayofweek": "CAST((dayofweek({0}) + 5) % 7 + 1 AS INT)",
    "toyyyymm": "CAST(year({0}) * 100 + month({0}) AS INT)",
    "todate": "CAST({0} AS DATE)",
    "todatetime": "CAST({0} AS TIMESTAMP)",
    "tostartofmonth": "CAST(date_trunc('month', {0}) AS DATE)",
    "tostartofday": "CAST(date_trunc('day', {0}) AS TIMESTAMP)",
    "tostartofquarter": "CAST(date_trunc('quarter', {0}) AS DATE)",
    "tostartofyear": "CAST(date_trunc('year', {0}) AS DATE)",
    "fromunixtimestamp": "timestamp_seconds({0})",
    # control flow
    "if": "CASE WHEN {0} THEN {1} ELSE {2} END",
    # argMax/argMin: value of arg0 at the extremum of arg1 (max_by is
    # the shared Spark/DuckDB spelling)
    # CH argMax/argMin skip rows where EITHER column is NULL ("both
    # arg and max skip Nulls during processing"); Spark's max_by keeps
    # a NULL arg if its key wins — mask both sides
    "argmax": "max_by(CASE WHEN {0} IS NOT NULL THEN {0} END, "
              "CASE WHEN {0} IS NOT NULL THEN {1} END)",
    "argmin": "min_by(CASE WHEN {0} IS NOT NULL THEN {0} END, "
              "CASE WHEN {0} IS NOT NULL THEN {1} END)",
    # explicit integer casts — uint64 keeps the repo's DECIMAL(20,0)
    # discipline (yt_types.py): values in [2^63, 2^64) are legal CH
    # uint64 and overflow BIGINT
    "touint64": "CAST({0} AS DECIMAL(20,0))",
    "toint64": "CAST({0} AS BIGINT)",
    "touint32": "CAST({0} AS INT)",
    "toint32": "CAST({0} AS INT)",
    "tofloat64": "CAST({0} AS DOUBLE)",
    # toDecimalN(x, scale): CH fixes precision by width (9/18/38)
    "todecimal32": "CAST({0} AS DECIMAL(9, {1}))",
    "todecimal64": "CAST({0} AS DECIMAL(18, {1}))",
    "todecimal128": "CAST({0} AS DECIMAL(38, {1}))",
    "tostring": "CAST({0} AS STRING)",
    # first-value aggregates: ClickHouse any()/anyLast() pick an arbitrary
    # value — Spark/DuckDB spell it any_value (Spark's own any() is bool_or)
    "any": "any_value({0})",
    "anylast": "any_value({0})",
    # null predicates (CH function spellings for IS [NOT] NULL)
    "isnull": "({0} IS NULL)",
    "isnotnull": "({0} IS NOT NULL)",
    "assumenotnull": "{0}",
    "ifnull": "coalesce({0}, {1})",
    "nullif": "nullif({0}, {1})",
    # arithmetic spellings
    "modulo": "({0} % {1})",
    # ClickHouse intDiv is C++ integer division (truncation toward zero):
    # intDiv(-7, 2) = -3. Spark's DIV operator has exactly those
    # semantics and stays integral (no double rounding at |x| >= 2^53).
    # DuckDB spells the same operator `//` — oracle texts use that.
    "intdiv": "({0} DIV {1})",
    "plus": "({0} + {1})",
    "minus": "({0} - {1})",
    "multiply": "({0} * {1})",
    "divide": "({0} / {1})",
    "negate": "(-{0})",
    # more explicit casts
    "touint8": "CAST({0} AS SMALLINT)",
    "touint16": "CAST({0} AS INT)",
    "toint8": "CAST({0} AS TINYINT)",
    "toint16": "CAST({0} AS SMALLINT)",
    "tofloat32": "CAST({0} AS FLOAT)",
    # spark-only tier
    "tounixtimestamp": "unix_timestamp({0})",
    "position": "position({1}, {0})",  # CH is (haystack, needle)
    "cityhash64": "xxhash64({0})",  # stable 64-bit hash; NOT bit-compatible
    "farmhash64": "xxhash64({0})",
    "uniq": "approx_count_distinct({0})",
    "arrayjoin": "explode({0})",
    "has": "array_contains({0}, {1})",
    "grouparray": "collect_list({0})",
    "groupuniqarray": "collect_set({0})",
    "empty": "(chyt_length({0}) = 0)",
    "notempty": "(chyt_length({0}) > 0)",
    "length": "chyt_length({0})",
    # array higher-order functions: ClickHouse puts the lambda FIRST
    # (arrayMap(x -> x + 1, arr)); Spark's transform/filter take it
    # SECOND — same `x -> expr` lambda syntax on both sides
    "arraymap": "transform({1}, {0})",
    "arrayfilter": "filter({1}, {0})",
    "arraysum": "aggregate({0}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)",
    "arraysort": "array_sort({0})",
    "arraydistinct": "array_distinct({0})",
    "arrayelement": "element_at({0}, {1})",  # both 1-based, negative=from end
    "arrayconcat": "concat({0}, {1})",
    "arrayslice": "slice({0}, {1}, {2})",
    "arrayreverse": "reverse({0})",
    "indexof": "coalesce(array_position({0}, {1}), 0)",
    "mapkeys": "map_keys({0})",
    "mapvalues": "map_values({0})",
    # CH takes the separator FIRST; \Q..\E so the char is literal, not regex
    "splitbychar": "split({1}, concat('\\\\Q', {0}, '\\\\E'))",
    "startswith": "startswith({0}, {1})",
    "endswith": "endswith({0}, {1})",
    "arrayreversesort": "sort_array({0}, false)",
    # CH range()/arrayEnumerate() exclude the end; Spark sequence is
    # inclusive AND descends when start > stop — guard the empty case
    "range": lambda a: (
        f"if(({a[0]}) <= 0, array(), sequence(0, ({a[0]}) - 1))"
        if len(a) == 1 else
        f"if(({a[1]}) <= ({a[0]}), array(), sequence({a[0]}, ({a[1]}) - 1"
        + (f", {a[2]}" if len(a) > 2 else "") + "))"),
    "arrayenumerate": "if(size({0}) = 0, array(), sequence(1, size({0})))",
    "arraystringconcat": lambda a: (
        f"array_join({a[0]}, {a[1] if len(a) > 1 else repr('')})"),
    "replaceall": "replace({0}, {1}, {2})",
    "replaceone": "CASE WHEN instr({0}, {1}) > 0 THEN "
                  "concat(substring({0}, 1, instr({0}, {1}) - 1), {2}, "
                  "substring({0}, instr({0}, {1}) + length({1}))) "
                  "ELSE {0} END",
    "replaceregexpall": "regexp_replace({0}, {1}, {2})",
    "today": lambda a: "current_date()",
    "yesterday": lambda a: "date_sub(current_date(), 1)",
    "siphash64": "xxhash64({0})",  # stable; NOT bit-compatible with CH
    "bitand": "({0} & {1})",
    "bitor": "({0} | {1})",
    "bitxor": "({0} ^ {1})",
    "bitnot": "(~{0})",
    "bitshiftleft": "shiftleft({0}, {1})",
    "bitshiftright": "shiftright({0}, {1})",
    "laginframe": lambda a: "lag(" + ", ".join(a) + ")",
    "leadinframe": lambda a: "lead(" + ", ".join(a) + ")",
    "median": "percentile({0}, 0.5)",
    # LowCardinality is a storage encoding; the value is unchanged
    # (test_composite.py::test_low_cardinality)
    "tolowcardinality": "{0}",
    "formatdatetime": lambda a: _format_datetime(a),
    "tupleelement": lambda a: f"{a[0]}.{a[1]}",  # -> positional resolver
}

_CH_CALL = re.compile(r"\b([A-Za-z_]\w*)\s*\(")
# cypress table refs: "//path" anywhere; `//path` (CH backtick idents);
# '//path' only directly after FROM/JOIN (elsewhere a string literal).
# Rich-YPath suffixes ([#1:#5], {cols}) ride along inside the quotes.
# paths may carry a rich-YPath ATTRIBUTE PREFIX (<timestamp=N>//path,
# test_dynamic_tables.py:344) — kept with the ref; client.read_table
# parses it
_PATH_REF = re.compile(r'"((?:<[^<>"]*>)?//[^"]+)"')
_PATH_REF_BT = re.compile(r"`((?:<[^<>`]*>)?//[^`]+)`")
_PATH_REF_SQ = re.compile(r"(?i)\b(from|join)\s+'((?:<[^<>']*>)?//[^']+)'")
_CONCAT_FN = re.compile(
    r"(?i)\bconcatYtTables(Range|Regexp)?\s*\(", re.IGNORECASE
)
_FORMAT_TAIL = re.compile(r"(?is)\s+format\s+\w+\s*;?\s*$")
_CLAUSE_KW = (
    "where", "group by", "order by", "limit", "having",
    "union", "settings", "window", "qualify",
)


def _clause_end(s: str, keywords=_CLAUSE_KW) -> int:
    """Index in ``s`` where the current top-level clause body ends: the
    next clause keyword at paren-depth 0 outside string literals, else
    len(s). Depth-aware so subqueries inside the predicate don't cut."""
    kw = re.compile(
        "(?is)\\b(" + "|".join(k.replace(" ", "\\s+") for k in keywords) + ")\\b"
    )
    depth, i = 0, 0
    while i < len(s):
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                # unmatched ')': the clause started inside a subquery —
                # its body cannot extend past the subquery's closing paren
                return i
            depth -= 1
        elif c == "'":
            j = i + 1
            while j < len(s) and s[j] != "'":
                j += 1
            i = j
        elif depth == 0 and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")):
            if kw.match(s, i):
                return i
        i += 1
    return len(s)


def _rewrite_ch_funcs(text: str) -> str:
    """Translate ClickHouse function spellings via _CH_FUNCS; unknown
    calls pass through (Spark shares most ANSI names)."""
    m = _CH_CALL.search(text)
    while m and m.group(1).lower() not in _CH_FUNCS:
        m = _CH_CALL.search(text, m.end())
    if not m:
        return text
    spec = _CH_FUNCS[m.group(1).lower()]
    open_idx = text.index("(", m.end() - 1)
    args, end = _split_call_args(text, open_idx)
    args = [_rewrite_ch_funcs(a.strip()) for a in args]
    # multiIf(c1, v1, c2, v2, ..., default) -> chained CASE
    try:
        replacement = spec(args) if callable(spec) else spec.format(*args)
    except IndexError:
        raise ValueError(
            f"{m.group(1)} expects more arguments than {len(args)}"
        ) from None
    return text[: m.start()] + replacement + _rewrite_ch_funcs(text[end:])


def _rewrite_multiif(text: str) -> str:
    m = re.search(r"(?i)\bmultiIf\s*\(", text)
    if not m:
        return text
    open_idx = text.index("(", m.end() - 1)
    args, end = _split_call_args(text, open_idx)
    args = [a.strip() for a in args]
    if len(args) % 2 == 0 or len(args) < 3:
        raise ValueError("multiIf needs cond/value pairs plus a default")
    arms = "".join(
        f" WHEN {args[i]} THEN {args[i + 1]}" for i in range(0, len(args) - 1, 2)
    )
    case = f"CASE{arms} ELSE {args[-1]} END"
    return text[: m.start()] + case + _rewrite_multiif(text[end:])


def _fold_prewhere(text: str) -> str:
    """PREWHERE p [WHERE q] -> WHERE (p) AND (q) — ClickHouse evaluates
    PREWHERE before reading remaining columns; Catalyst pushes every
    conjunct to the scan, so the fold is semantics-preserving. BOTH
    predicates are parenthesized: 'PREWHERE p WHERE a OR b' must become
    'WHERE (p) AND (a OR b)', not '(p AND a) OR b'."""
    m = re.search(r"(?i)\bprewhere\b", text)
    if not m:
        return text
    rest = text[m.end():]
    cut = _clause_end(rest)
    pred, tail = rest[:cut].strip(), rest[cut:]
    mw = re.match(r"(?is)^where\b", tail)
    if mw:
        body = tail[mw.end():]
        cut2 = _clause_end(body, keywords=_CLAUSE_KW[1:])
        q = body[:cut2].strip()
        return (
            text[: m.start()]
            + f"WHERE ({pred}) AND ({q}) "
            + _fold_prewhere(body[cut2:])
        )
    return text[: m.start()] + f"WHERE ({pred}) " + _fold_prewhere(tail)


_CAST_CALL = re.compile(r"(?i)\bcast\s*\(")
_TOP_AS = re.compile(r"(?is)\s+as\s+")


def _rewrite_cast_types(text: str) -> str:
    """ClickHouse type names inside CAST: ``CAST(x as DateTime)`` and the
    two-argument form ``CAST(x, 'Nullable(Int64)')`` (test_common.py::
    test_cast, test_join_and_in.py) → Spark DDL types. Unknown type
    tokens pass through untouched (they're already Spark types)."""
    m = _CAST_CALL.search(text)
    if not m:
        return text
    open_idx = text.index("(", m.end() - 1)
    args, end = _split_call_args(text, open_idx)
    rep = None
    if len(args) == 2:
        t = args[1].strip()
        if len(t) >= 2 and t[0] in "'\"" and t[-1] == t[0]:
            try:
                ddl = _ch_type_to_ddl(t[1:-1])
            except ValueError:
                ddl = None
            if ddl is not None:
                rep = f"CAST({_rewrite_cast_types(args[0].strip())} AS {ddl})"
    elif len(args) == 1:
        # split the LAST top-level ' as ' (the cast target)
        body = args[0]
        split_at = None
        depth = 0
        for am in _TOP_AS.finditer(body):
            d = (body[: am.start()].count("(")
                 - body[: am.start()].count(")"))
            if d == 0:
                split_at = am
        if split_at is not None:
            expr, t = body[: split_at.start()], body[split_at.end():]
            try:
                ddl = _ch_type_to_ddl(t.strip())
            except ValueError:
                ddl = None
            if ddl is not None:
                rep = f"CAST({_rewrite_cast_types(expr.strip())} AS {ddl})"
    if rep is None:
        inner = _rewrite_cast_types(text[open_idx + 1:end - 1])
        rep = f"CAST({inner})"
    return text[: m.start()] + rep + _rewrite_cast_types(text[end:])


# ClickHouse allows a bare column list after USING; Spark requires parens
_USING_BARE = re.compile(
    r"(?is)\busing\s+(?!\()([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)"
)


def _rewrite_bracket_arrays(text: str) -> str:
    """ClickHouse bracket array literals ``[1, 2, 3]`` → ``array(1, 2,
    3)``. A ``[`` directly after an identifier / ``)`` / ``]`` is a
    SUBSCRIPT and passes through (note: bare subscripts keep Spark's
    0-based array indexing — use arrayElement for CH's 1-based access)."""
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            j = i + 1
            while j < n and text[j] != "'":
                j += 1
            out.append(text[i:j + 1])
            i = j + 1
            continue
        # subscripts are ADJACENT to their base (arr[1]); a '[' after
        # whitespace / an operator / a comma opens an array literal
        prev = out[-1][-1] if out and out[-1] else ""
        if c == "[" and not (prev.isalnum() or prev in tuple(")]_'\"")):
            depth, j = 1, i + 1
            while j < n and depth:
                if text[j] == "'":
                    j += 1
                    while j < n and text[j] != "'":
                        j += 1
                elif text[j] == "[":
                    depth += 1
                elif text[j] == "]":
                    depth -= 1
                j += 1
            inner = _rewrite_bracket_arrays(text[i + 1:j - 1])
            out.append(f"array({inner})")
            prev = ")"
            i = j
            continue
        out.append(c)
        i += 1
    return "".join(out)


# ClickHouse's standalone ARRAY JOIN clause (FROM t [LEFT] ARRAY JOIN
# arr AS x, arr2 AS y ...): expands one row per array element, parallel
# arrays zip positionally (test_join_and_in.py:746, test_composite.py:
# 230). Spark form: LATERAL VIEW [pos]explode[_outer]; extra parallel
# arrays index by the shared position (single-element explode keeps the
# whole rewrite inside the FROM clause).
_ARRAY_JOIN_CLAUSE = re.compile(r"(?is)\b(left\s+)?array\s+join\s+")
_AJ_KW = ("prewhere",) + _CLAUSE_KW


def _rewrite_array_join(text: str) -> str:
    m = _ARRAY_JOIN_CLAUSE.search(text)
    if not m:
        return text
    left = bool(m.group(1))
    rest = text[m.end():]
    cut = _clause_end(rest, keywords=_AJ_KW)
    body, tail = rest[:cut], rest[cut:]
    items: list[tuple[str, str]] = []
    args, _ = _split_call_args("(" + body + ")", 0)
    for item in args:
        item = item.strip()
        split_at = None
        for am in re.finditer(r"(?is)\s+as\s+", item):
            d = (item[: am.start()].count("(")
                 - item[: am.start()].count(")"))
            if d == 0:
                split_at = am
        if split_at is not None:
            expr = item[: split_at.start()].strip()
            name = item[split_at.end():].strip()
        elif re.fullmatch(r"[A-Za-z_]\w*", item):
            raise ValueError(
                f"ARRAY JOIN {item}: in-place flattening shadows the "
                f"source column — alias it (ARRAY JOIN {item} AS x)"
            )
        else:
            raise ValueError(f"ARRAY JOIN item needs an alias: {item!r}")
        if not re.fullmatch(r"[A-Za-z_]\w*", name):
            raise ValueError(f"bad ARRAY JOIN alias {name!r}")
        items.append((expr, name))
    if not items:
        raise ValueError("empty ARRAY JOIN clause")
    if len(items) == 1:
        fn = "explode_outer" if left else "explode"
        rep = f"LATERAL VIEW {fn}({items[0][0]}) __aj1 AS {items[0][1]} "
    else:
        fn = "posexplode_outer" if left else "posexplode"
        rep = (f"LATERAL VIEW {fn}({items[0][0]}) __aj1 "
               f"AS __aj_pos, {items[0][1]} ")
        for k, (expr, name) in enumerate(items[1:], 2):
            rep += (f"LATERAL VIEW explode(array(element_at({expr}, "
                    f"__aj_pos + 1))) __aj{k} AS {name} ")
    return text[: m.start()] + rep + _rewrite_array_join(tail)

# ClickHouse LIMIT n BY exprs: after ORDER BY, keep the first n rows
# per distinct BY value; an outer LIMIT then applies to the kept rows.
_LIMIT_BY = re.compile(r"(?is)\blimit\s+(\d+)\s+by\s+")


def _scope_start(head: str) -> int:
    """Index just after the innermost unmatched '(' in ``head`` — the
    start of the sub-select the clause at head's end belongs to (0 when
    the clause is top-level). String literals are skipped."""
    stack: list[int] = []
    i = 0
    while i < len(head):
        c = head[i]
        if c == "'":
            i += 1
            while i < len(head) and head[i] != "'":
                i += 1
        elif c == "(":
            stack.append(i + 1)
        elif c == ")" and stack:
            stack.pop()
        i += 1
    return stack[-1] if stack else 0


def _same_scope_last(head: str, pattern: str):
    """The LAST match of ``pattern`` in ``head`` whose tail (text from
    match end to head's end) has balanced parens — i.e. a match in the
    SAME select scope as the clause that follows ``head``."""
    best = None
    for m in re.finditer(pattern, head):
        seg = head[m.end():]
        if seg.count("(") == seg.count(")"):
            best = m
    return best


def _select_list_span(sel: str):
    """(list_start, from_idx, is_plain) for a SELECT statement: the span
    of the top-level select list and whether injection is safe (no
    DISTINCT; no top-level GROUP BY after FROM). None if unparsable."""
    m = re.match(r"(?is)^\s*select\s+(distinct\s+)?", sel)
    if not m:
        return None
    start, i, depth = m.end(), m.end(), 0
    from_idx = None
    plain = not m.group(1)
    while i < len(sel):
        c = sel[i]
        if c == "'":
            i += 1
            while i < len(sel) and sel[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and c in "fFgG":
            prev_ok = i == 0 or not (sel[i - 1].isalnum() or sel[i - 1] == "_")
            if prev_ok and re.match(r"(?i)from\b", sel[i:i + 5]):
                if from_idx is None:
                    from_idx = i
            elif prev_ok and re.match(r"(?i)group\s+by\b", sel[i:]):
                plain = False
        i += 1
    if from_idx is None:
        return None
    return start, from_idx, plain


def _rewrite_limit_by(text: str) -> str:
    """``ORDER BY o LIMIT n BY e [LIMIT m]`` → a row_number window per e
    ordered by o, filtered to <= n (Spark's top-n-per-group shape: one
    window over the partition keys, no global sort). Scope-aware: a
    LIMIT BY inside a subquery wraps only that sub-select.

    ClickHouse resolves LIMIT BY / ORDER BY expressions against the
    SOURCE relation, so they may be absent from the select list (SELECT
    c_custkey ... ORDER BY c_acctbal LIMIT 2 BY c_nationkey). When the
    base select is a plain projection we inject those expressions as
    ``__lb_c{i}`` helper columns, window over the helpers, and drop them
    in the outer SELECT — matching CH without widening the result."""
    m = _LIMIT_BY.search(text)
    if not m:
        return text
    n = m.group(1)
    head = text[: m.start()]
    rest = text[m.end():]
    cut = _clause_end(rest, keywords=("limit", "settings", "union"))
    exprs = rest[:cut].strip()
    if exprs.startswith("(") and exprs.endswith(")"):
        exprs = exprs[1:-1]
    tail = rest[cut:]
    s0 = _scope_start(head)
    scope = head[s0:]
    om = _same_scope_last(scope, r"(?is)\border\s+by\s+")
    if om is None:
        raise ValueError(
            "LIMIT BY without ORDER BY selects arbitrary rows per group "
            "— add an ORDER BY for deterministic results"
        )
    order = scope[om.end():].strip()
    base = scope[: om.start()].strip()

    # Which partition / order expressions are NOT produced by the base
    # select list? Inject those into the inner projection as aliases.
    span = _select_list_span(base)
    part_items = [e.strip() for e in _split_top_commas(exprs)]
    order_items = [o.strip() for o in _split_top_commas(order)]
    drop = ["__lb_rn"]
    if span is not None:
        lst_start, from_idx, plain = span
        sel_items = [s.strip() for s in
                     _split_top_commas(base[lst_start:from_idx])]
        has_star = any(s == "*" or s.endswith(".*") for s in sel_items)
        avail = set()
        for s in sel_items:
            am = re.search(r"(?is)\s+as\s+([A-Za-z_]\w*)\s*$", s)
            avail.add(am.group(1) if am else s.split(".")[-1])
        inject: list[str] = []

        def _resolve(expr: str, keep_dir: bool = False) -> str:
            core, suffix = expr, ""
            if keep_dir:
                dm = re.search(r"(?is)\s+nulls\s+(?:first|last)\s*$", core)
                if dm:
                    suffix, core = core[dm.start():].rstrip(), \
                        core[: dm.start()]
                dm = re.search(r"(?is)\s+(?:asc|desc)\s*$", core)
                if dm:
                    suffix = core[dm.start():].rstrip() + suffix
                    core = core[: dm.start()]
                core = core.strip()
            bare = re.fullmatch(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?", core)
            if has_star or (bare and core.split(".")[-1] in avail):
                return expr
            alias = f"__lb_c{len(inject)}"
            inject.append(f"{core} AS {alias}")
            drop.append(alias)
            return alias + suffix

        part_items = [_resolve(e) for e in part_items]
        order_items = [_resolve(o, keep_dir=True) for o in order_items]
        if inject and not plain:
            raise ValueError(
                "LIMIT BY / ORDER BY expressions must appear in the "
                "select list when the query uses DISTINCT or GROUP BY"
            )
        if inject:
            base = (base[:from_idx].rstrip() + ", " + ", ".join(inject)
                    + " " + base[from_idx:])
    exprs = ", ".join(part_items)
    order = ", ".join(order_items)
    wrapped = (
        f"SELECT * EXCEPT ({', '.join(drop)}) FROM (SELECT *, "
        f"row_number() OVER "
        f"(PARTITION BY {exprs} ORDER BY {order}) AS __lb_rn "
        f"FROM ({base})) WHERE __lb_rn <= {n} ORDER BY {order} "
    )
    return _rewrite_limit_by(head[:s0] + wrapped + tail)


# GROUP BY ... WITH TOTALS: ClickHouse appends a totals row (key columns
# at their defaults/NULL) computed over all rows. GROUPING SETS ((keys),
# ()) is the exact relational form — the () set is the totals row.
_WITH_TOTALS = re.compile(r"(?is)\bwith\s+totals\b")


def _rewrite_with_totals(text: str) -> str:
    m = _WITH_TOTALS.search(text)
    if not m:
        return text
    head = text[: m.start()]
    s0 = _scope_start(head)
    gm = _same_scope_last(head[s0:], r"(?is)\bgroup\s+by\s+")
    if gm is None:
        raise ValueError("WITH TOTALS without GROUP BY")
    keys = head[s0 + gm.end():].strip().rstrip(",")
    rewritten = (
        head[: s0 + gm.start()]
        + f"GROUP BY GROUPING SETS (({keys}), ())"
        + text[m.end():]
    )
    return _rewrite_with_totals(rewritten)


_SAMPLE = re.compile(r"(?is)\bsample\s+(0?\.\d+|1\.0|[0-9]+)\b")


def _rewrite_sample(text: str) -> str:
    """ClickHouse ``SAMPLE 0.1`` (fraction) / ``SAMPLE n`` (approx row
    count — unsupported: needs table stats) → Spark ``TABLESAMPLE``."""

    def sub(m: re.Match) -> str:
        v = m.group(1)
        if "." in v:
            return f"TABLESAMPLE ({float(v) * 100:g} PERCENT)"
        raise ValueError(
            "SAMPLE <rows> needs table statistics; use a fraction "
            "(SAMPLE 0.1) — Spark TABLESAMPLE is fraction/percent based"
        )

    return _SAMPLE.sub(sub, text)


# --- YSON / YPath function family (functions/chyt_yson.py UDFs) -------------
# CHYT spelling -> (registered udf, arg style). Reference spec:
# test_yson_functions.py (YPath*), test_common.py::test_yson_extract.

_YSON_KEYED = {
    # name -> registered udf taking (payload, keys-json)
    "ysonhas": "chyt_yson_has",
    "ysonlength": "chyt_yson_length",
    "ysonkey": "chyt_yson_key",
    "ysontype": "chyt_yson_type",
    "ysonextractint": "chyt_yson_extract_int",
    "ysonextractuint": "chyt_yson_extract_uint",
    "ysonextractfloat": "chyt_yson_extract_float",
    "ysonextractbool": "chyt_yson_extract_bool",
    "ysonextractstring": "chyt_yson_extract_string",
    "ysonextractraw": "chyt_yson_extract_raw",
    "ysonextractarrayraw": "chyt_yson_extract_array_raw",
    "ysonextractkeysandvaluesraw": "chyt_yson_extract_kv_raw",
}
_YPATH_SCALAR = {
    "ypathint64": "chyt_ypath_int64",
    "ypathuint64": "chyt_ypath_uint64",
    "ypathdouble": "chyt_ypath_double",
    "ypathboolean": "chyt_ypath_boolean",
    "ypathstring": "chyt_ypath_string",
    "ypatharrayint64": "chyt_ypath_array_int64",
    "ypatharrayuint64": "chyt_ypath_array_uint64",
    "ypatharraydouble": "chyt_ypath_array_double",
    "ypatharrayboolean": "chyt_ypath_array_boolean",
}

# ClickHouse type name -> Spark DDL (for YSONExtract/YPathExtract targets)
_CH_TO_SPARK_DDL = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "uint8": "smallint", "uint16": "int", "uint32": "bigint",
    "uint64": "decimal(20,0)", "float32": "float", "float64": "double",
    "double": "double", "string": "string", "bool": "boolean",
    "boolean": "boolean", "date": "date", "datetime": "timestamp",
}


def _ch_type_to_ddl(t: str) -> str:
    t = t.strip().strip("'\"")
    m = re.match(r"(?is)^array\s*\((.*)\)$", t)
    if m:
        return f"array<{_ch_type_to_ddl(m.group(1))}>"
    m = re.match(r"(?is)^nullable\s*\((.*)\)$", t)
    if m:
        return _ch_type_to_ddl(m.group(1))
    # Decimal(p, s) and the sized spellings Decimal32/64/128(s)
    # (Spark's ceiling is precision 38 — Decimal256 has no lowering)
    m = re.match(r"(?is)^decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", t)
    if m and int(m.group(1)) <= 38:
        return f"decimal({m.group(1)},{m.group(2)})"
    m = re.match(r"(?is)^decimal(32|64|128)\s*\(\s*(\d+)\s*\)$", t)
    if m:
        prec = {"32": 9, "64": 18, "128": 38}[m.group(1)]
        return f"decimal({prec},{m.group(2)})"
    key = t.lower()
    if key in _CH_TO_SPARK_DDL:
        return _CH_TO_SPARK_DDL[key]
    raise ValueError(f"unsupported ClickHouse type {t!r}")


def _keys_json_literal(args: list[str]) -> str:
    """Encode trailing indices_or_keys arguments (must be literals: a
    quoted string key or an integer index) as a JSON SQL string literal."""
    import json as _json

    keys: list = []
    for a in args:
        a = a.strip()
        if re.fullmatch(r"-?\d+", a):
            keys.append(int(a))
        elif len(a) >= 2 and a[0] == "'" and a[-1] == "'":
            keys.append(a[1:-1].replace("\\'", "'"))
        else:
            raise ValueError(
                f"YSON accessor index/key must be a literal, got {a!r}"
            )
    return "'" + _json.dumps(keys).replace("'", "''") + "'"


def _rewrite_yson_funcs(text: str) -> str:
    """Translate the YPath*/YSON*/ConvertYson family onto the registered
    chyt_* UDFs (functions/chyt_yson.py)."""
    m = _CH_CALL.search(text)
    while m:
        name = m.group(1).lower()
        base = name[:-6] if name.endswith("strict") else name
        if (base in _YSON_KEYED or base in _YPATH_SCALAR
                or base in ("ysonextract", "ysonextractkeysandvalues",
                            "ypathraw", "ypathextract", "convertyson")):
            break
        m = _CH_CALL.search(text, m.end())
    if not m:
        return text
    name = m.group(1).lower()
    strict = name.endswith("strict")
    base = name[:-6] if strict else name
    open_idx = text.index("(", m.end() - 1)
    args, end = _split_call_args(text, open_idx)
    args = [_rewrite_yson_funcs(a.strip()) for a in args]

    def _typed(json_expr: str, ddl: str) -> str:
        # from_json only accepts struct/array/map schemas; scalar targets
        # cast the JSON scalar text (strings keep their own getter)
        if ddl.startswith(("array<", "map<", "struct<")):
            return f"from_json({json_expr}, '{ddl}')"
        if ddl == "string":
            raise ValueError(
                "use the String getter for string-typed extraction"
            )
        return f"CAST({json_expr} AS {ddl})"

    if base in _YSON_KEYED:
        if strict:
            raise ValueError(f"{m.group(1)}: YSON* accessors have no Strict "
                             "variants (use YPath*Strict)")
        rep = f"{_YSON_KEYED[base]}({args[0]}, {_keys_json_literal(args[1:])})"
    elif base == "ysonextract":
        ddl = _ch_type_to_ddl(args[-1])
        rep = _typed(
            f"chyt_yson_json({args[0]}, {_keys_json_literal(args[1:-1])})",
            ddl,
        )
    elif base == "ysonextractkeysandvalues":
        ddl = _ch_type_to_ddl(args[-1])
        udf = {
            "string": "chyt_yson_extract_kv_string",
            "tinyint": "chyt_yson_extract_kv_int",
            "smallint": "chyt_yson_extract_kv_int",
            "int": "chyt_yson_extract_kv_int",
            "bigint": "chyt_yson_extract_kv_int",
            "decimal(20,0)": "chyt_yson_extract_kv_uint",
            "float": "chyt_yson_extract_kv_float",
            "double": "chyt_yson_extract_kv_float",
            "boolean": "chyt_yson_extract_kv_bool",
        }.get(ddl)
        if udf is None:
            raise ValueError(
                f"YSONExtractKeysAndValues: unsupported value type {args[-1]}"
            )
        rep = f"{udf}({args[0]}, {_keys_json_literal(args[1:-1])})"
    elif base in _YPATH_SCALAR:
        sfx = "_strict" if strict else ""
        rep = f"{_YPATH_SCALAR[base]}{sfx}({args[0]}, {args[1]})"
    elif base == "ypathraw":
        fmt = args[2] if len(args) >= 3 else "'binary'"
        sfx = "_strict" if strict else ""
        rep = f"chyt_ypath_raw{sfx}({args[0]}, {args[1]}, {fmt})"
    elif base == "ypathextract":
        ddl = _ch_type_to_ddl(args[2])
        sfx = "_strict" if strict else ""
        rep = _typed(f"chyt_ypath_json{sfx}({args[0]}, {args[1]})", ddl)
    else:  # convertyson
        rep = f"chyt_convert_yson({args[0]}, {args[1]})"
    return text[: m.start()] + rep + _rewrite_yson_funcs(text[end:])


# --- GLOBAL JOIN / GLOBAL IN -------------------------------------------------
# CHYT's GLOBAL modifier (test_join_and_in.py; storage_distributor.cpp)
# evaluates the right side ONCE on the initiator and ships it to every
# worker — exactly Spark's broadcast join. Translation: strip GLOBAL and
# pin a BROADCAST hint on the right-side relation.

_GLOBAL_JOIN = re.compile(
    r"(?is)\bglobal\s+((?:any\s+|all\s+)?"
    r"(?:inner\s+|left\s+|right\s+|full\s+|cross\s+)?(?:outer\s+)?join)\s+"
)
_GLOBAL_IN = re.compile(r"(?is)\bglobal\s+(not\s+in|in)\b")


def _strip_global(text: str) -> str:
    hints: list[str] = []
    while True:
        m = _GLOBAL_JOIN.search(text)
        if not m:
            break
        text = text[: m.start()] + m.group(1) + " " + text[m.end():]
        # identify the right-side relation name/alias for the hint
        after = text[m.start() + len(m.group(1)) + 1:]
        if after.lstrip().startswith("("):
            # subquery: alias follows the closing paren — but only a real
            # alias (an unaliased subquery has no relation name to hint:
            # the bare word after it is ON/USING/..., not an alias)
            i = after.index("(")
            _, close = _split_call_args(after, i)
            am = re.match(
                r"\s*(?:as\s+([A-Za-z_]\w*)|"
                r"(?!on\b|using\b|where\b|order\b|group\b|having\b|limit\b|"
                r"union\b|settings\b|left\b|right\b|inner\b|full\b|cross\b|"
                r"join\b|global\b)([A-Za-z_]\w*))",
                after[close:], re.IGNORECASE,
            )
            if am:
                hints.append(am.group(1) or am.group(2))
        else:
            rm = re.match(
                r"\s*([A-Za-z_]\w*)(?:\s+(?:as\s+)?"
                r"(?!on\b|using\b|where\b|order\b|group\b|left\b|right\b|"
                r"inner\b|full\b|cross\b|join\b)([A-Za-z_]\w*))?",
                after, re.IGNORECASE,
            )
            if rm:
                hints.append(rm.group(2) or rm.group(1))
    text = _GLOBAL_IN.sub(lambda m: m.group(1), text)
    if hints:
        text = re.sub(
            r"(?is)^(\s*select\b)",
            lambda m: m.group(1) + " /*+ BROADCAST(" + ", ".join(hints) + ") */",
            text, count=1,
        )
    return text


# --- SQL UDFs (CREATE FUNCTION) ----------------------------------------------
# Reference: yt/chyt/tests/server/test_sql_udf.py:25-130 — ClickHouse
# lambda UDFs (`CREATE FUNCTION f AS (x, k, b) -> k*x + b`) are persisted
# to Cypress (user_defined_sql_functions/<name> holds the statement text,
# test_bad_query_in_cypress) so every instance of the clique sees them.
# Here: the statement text is stored under the client's tree and calls
# are inlined at translate time (textual beta-reduction, the same move
# yql/dialect.py:155 uses for YQL lambdas) — an inlined expression stays
# JVM-side in whole-stage codegen, unlike a Python UDF.

_CREATE_FN_RE = re.compile(
    r"(?is)^\s*create\s+(?:(or\s+replace)\s+)?function\s+"
    r"(?:(if\s+not\s+exists)\s+)?"
    r'([A-Za-z_]\w*|"[^"]*"|`[^`]*`)\s+as\s*'
    r"\(([^)]*)\)\s*->\s*(.+)$"
)
_DROP_FN_RE = re.compile(
    r'(?is)^\s*drop\s+function\s+(?:(if\s+exists)\s+)?([A-Za-z_]\w*|"[^"]*"|`[^`]*`)\s*$'
)

# the reference stores UDFs under the clique's strawberry node
# (//sys/strawberry/chyt/<alias>/user_defined_sql_functions); the client
# tree analog:
_UDF_DIR = "//sys/chyt/clique/user_defined_sql_functions"


def _fn_name(tok: str) -> str:
    """Unquote + validate a CREATE/DROP FUNCTION name. The reference
    rejects names that aren't plain identifiers ('@acl', 'some/path' —
    test_bad_udf_name) because they become Cypress node names."""
    if tok[0] in "\"`":
        tok = tok[1:-1]
    if not re.fullmatch(r"[A-Za-z_]\w*", tok):
        raise ValueError(f"invalid function name {tok!r}")
    return tok


def _parse_udf(stmt: str) -> tuple[str, list[str], str]:
    """CREATE FUNCTION statement text -> (name, params, body_expr)."""
    m = _CREATE_FN_RE.match(stmt.strip().rstrip(";"))
    if not m:
        raise ValueError(
            f"Failed to parse user defined function statement: {stmt!r}"
        )
    name = _fn_name(m.group(3))
    params = [p.strip() for p in m.group(4).split(",") if p.strip()]
    if len(set(params)) != len(params) or not all(
        re.fullmatch(r"[A-Za-z_]\w*", p) for p in params
    ):
        raise ValueError(f"invalid parameter list in function {name}")
    return name, params, m.group(5).strip()


def _load_udfs(client) -> dict[str, tuple[list[str], str]]:
    """Read every persisted UDF statement; parse errors surface on USE
    (the reference defers to call time — test_bad_query_in_cypress)."""
    if client is None or not client.exists(_UDF_DIR):
        return {}
    out = {}
    for name in client.list(_UDF_DIR):
        out[name] = client.read_file(f"{_UDF_DIR}/{name}").decode()
    return out


def _inline_udfs(text: str, udfs: dict[str, str]) -> str:
    """Beta-reduce user-function calls: f(a, b) -> (body[x:=(a), y:=(b)]).

    Parameters are substituted SIMULTANEOUSLY (one regex alternation over
    every parameter name, callable replacement) so argument text that
    happens to contain another parameter's name is never rescanned:
    linear_equation(k, 2, 1) with body 'k*x + b' must keep the column k.
    Each outer pass expands every call site present at the start of the
    pass, so the 16-pass cap measures NESTING depth, not call count — a
    flat query with hundreds of calls expands in one pass."""
    if not udfs:
        return text
    for _ in range(16):  # passes == nesting depth; cycles exceed the cap
        expanded = False
        pos = 0
        while True:
            m = _CH_CALL.search(text, pos)
            while m and m.group(1) not in udfs:
                m = _CH_CALL.search(text, m.end())
            if not m:
                break
            name, params, body = _parse_udf(udfs[m.group(1)])
            open_idx = text.index("(", m.end() - 1)
            args, end = _split_call_args(text, open_idx)
            args = [a.strip() for a in args]
            if args == [""]:  # zero-argument call: f()
                args = []
            if len(args) != len(params):
                raise ValueError(
                    f"function {name} expects {len(params)} arguments, "
                    f"got {len(args)}"
                )
            if params:
                sub = dict(zip(params, args))
                alt = re.compile(
                    r"\b(" + "|".join(re.escape(p) for p in params) + r")\b"
                )
                expr = alt.sub(lambda _m: f"({sub[_m.group(1)]})", body)
            else:
                expr = body
            repl = f"({expr})"
            text = text[: m.start()] + repl + text[end:]
            # Resume AFTER the expansion: nested calls introduced by the
            # body wait for the next pass (that's what the cap counts).
            pos = m.start() + len(repl)
            expanded = True
        if not expanded:
            return text
    raise ValueError("user function expansion exceeded depth 16 (cycle?)")


# --- YT-backed dictionaries (dictGet) -----------------------------------------
# Reference: yt/chyt/tests/server/test_yt_dictionaries.py:12-210 — a YT
# table declared as a ClickHouse external dictionary; dictGet*('name',
# 'attr', key) looks keys up, returning the structure's null_value on
# miss. Spark shape: the dict table is a registered view and dictGet
# becomes a correlated scalar subquery — Catalyst rewrites it to a LEFT
# OUTER join, and AQE broadcasts the (small) dictionary side: exactly
# ClickHouse's in-memory hash/flat layout, but declaratively. Config
# shape = the reference's clique config_patch entries, verbatim.

_DICTGET = re.compile(
    r"(?i)\bdict(Get|Has|GetOrDefault)"
    r"(String|Int64|UInt64|Int32|UInt32|Float64|Float32|Date|DateTime)?"
    r"\s*\("
)

_CH_GETTER_DDL = {
    "string": "string", "int64": "bigint", "uint64": "decimal(20,0)",
    "int32": "int", "uint32": "bigint", "float64": "double",
    "float32": "float", "date": "date", "datetime": "timestamp",
}


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def dictionary_specs(dictionaries) -> dict[str, dict]:
    """Normalize reference-shaped dictionary configs (config_patch
    ``clickhouse.dictionaries`` entries) into lookup specs."""
    specs: dict[str, dict] = {}
    for d in dictionaries or []:
        st = d["structure"]
        if "id" in st:
            keys = [st["id"]["name"]]
        else:
            keys = [a["name"] for a in st["key"]["attribute"]]
        attrs = {
            a["name"]: (a.get("type", "String"), a.get("null_value"))
            for a in st.get("attribute", [])
        }
        specs[d["name"]] = {
            "path": d["source"]["yt"]["path"],
            "keys": keys,
            "attrs": attrs,
            "view": "__chyt_dict_" + re.sub(r"\W", "_", d["name"]),
        }
    return specs


def _key_exprs(key_arg: str, n_keys: int) -> list[str]:
    """Split a dictGet key argument into per-key-column expressions:
    tuple(a, b) (the composite-key spelling) or a single expression."""
    m = re.match(r"(?is)^\s*tuple\s*\(", key_arg)
    if m:
        args, end = _split_call_args(key_arg, key_arg.index("(", m.end() - 1))
        if key_arg[end:].strip():
            raise ValueError(f"malformed dictionary key {key_arg!r}")
        exprs = [a.strip() for a in args]
    else:
        exprs = [key_arg.strip()]
    if len(exprs) != n_keys:
        raise ValueError(
            f"dictionary key arity mismatch: got {len(exprs)}, "
            f"dictionary declares {n_keys} key column(s)"
        )
    return exprs


def _rewrite_dictget(text: str, specs: dict[str, dict]) -> str:
    """dictGet*/dictHas/dictGetOrDefault -> correlated scalar subqueries
    over the registered dictionary views."""
    m = _DICTGET.search(text)
    if not m:
        return text
    kind, suffix = m.group(1).lower(), (m.group(2) or "").lower()
    open_idx = text.index("(", m.end() - 1)
    args, end = _split_call_args(text, open_idx)
    args = [_rewrite_dictget(a.strip(), specs) for a in args]
    dict_name = args[0].strip().strip("'\"")
    spec = specs.get(dict_name)
    if spec is None:
        raise ValueError(f"dictionary {dict_name!r} is not declared")
    view = spec["view"]

    # the view's columns are registered under reserved __dk_/__da_ names
    # so an outer column spelled like a dictionary column ('key = (key)')
    # can't be captured by the subquery's inner scope
    if kind == "has":
        exprs = _key_exprs(args[1], len(spec["keys"]))
        cond = " AND ".join(
            f"__dk_{i} = ({e})" for i, e in enumerate(exprs)
        )
        rep = f"((SELECT count(*) FROM {view} WHERE {cond}) > 0)"
        return text[: m.start()] + rep + _rewrite_dictget(text[end:], specs)

    attr = args[1].strip().strip("'\"")
    if attr not in spec["attrs"]:
        raise ValueError(
            f"dictionary {dict_name!r} has no attribute {attr!r}"
        )
    decl_type, null_value = spec["attrs"][attr]
    exprs = _key_exprs(args[2], len(spec["keys"]))
    cond = " AND ".join(f"__dk_{i} = ({e})" for i, e in enumerate(exprs))
    ddl = _CH_GETTER_DDL.get(suffix or decl_type.lower())
    if ddl is None:
        raise ValueError(f"unsupported dictGet type {suffix or decl_type!r}")
    sub = f"(SELECT CAST(__da_{attr} AS {ddl}) FROM {view} WHERE {cond})"
    if kind == "getordefault":
        default = f"({args[3]})"
    elif null_value is not None:
        default = f"CAST({_sql_literal(null_value)} AS {ddl})"
    else:
        # ClickHouse structure entries default null_value to the type
        # default ('' / 0 / epoch)
        default = f"CAST({_TYPE_DEFAULT.get(ddl, '0')} AS {ddl})"
    rep = f"coalesce({sub}, {default})"
    return text[: m.start()] + rep + _rewrite_dictget(text[end:], specs)


# CHYT virtual columns ($table_index/$table_path/$table_name on table
# reads, $key/$path on the ytList* table functions) -> plain identifiers;
# chyt_query materializes them on the registered views.
_VIRTUAL_COLS = {
    "$table_index": "__table_index",
    "$table_path": "__table_path",
    "$table_name": "__table_name",
    "$key": "__key",
    "$path": "__path",
}
_VIRTUAL_RE = re.compile(r"\$(table_index|table_path|table_name|key|path)\b")


def _rewrite_virtual_cols(text: str) -> str:
    return _VIRTUAL_RE.sub(lambda m: "__" + m.group(1), text)


def translate_chyt(text: str, resolve=None) -> str:
    """CHYT SQL text → Spark SQL text. ``resolve(path) -> table name``
    maps quoted cypress paths — double-quoted, backticked, or (directly
    after FROM/JOIN) single-quoted (defaults to the basename, the
    registered-view convention shared with the YQL shim)."""
    resolve = resolve or (lambda p: p.rstrip("/").rsplit("/", 1)[-1])
    text = _FORMAT_TAIL.sub("", text.strip().rstrip(";"))
    # ClickHouse count() (zero-arg row count) -> count(*)
    text = re.sub(r"(?i)\bcount\s*\(\s*\)", "count(*)", text)
    # system.one: CH's one-row dual table (column dummy UInt8 = 0)
    text = re.sub(
        r"(?i)\bsystem\.one\b",
        "(select cast(0 as smallint) as dummy) __system_one", text)
    # ClickHouse allows a TABLE as the right operand of IN:
    # ``(a, b) IN "//tmp/t"`` (test_join_and_in.py:641) — lower to the
    # subquery form before generic path substitution
    text = re.sub(
        r'(?i)\b(in\s+)("//[^"]+"|`//[^`]+`)',
        lambda m: f"{m.group(1)}(select * from {m.group(2)})", text,
    )
    text = _PATH_REF.sub(lambda m: resolve(m.group(1)), text)
    text = _PATH_REF_BT.sub(lambda m: resolve(m.group(1)), text)
    text = _PATH_REF_SQ.sub(
        lambda m: f"{m.group(1)} {resolve(m.group(2))}", text
    )
    text = _strip_global(text)
    text = _USING_BARE.sub(lambda m: "USING (" + m.group(1) + ")", text)
    text = _rewrite_bracket_arrays(text)
    text = _rewrite_array_join(text)
    text = _rewrite_limit_by(text)
    text = _rewrite_with_totals(text)
    text = _rewrite_virtual_cols(text)
    text = _fold_prewhere(text)
    text = _rewrite_sample(text)
    text = _rewrite_multiif(text)
    text = _rewrite_parametric_aggs(text)
    text = _rewrite_cast_types(text)
    text = _rewrite_yson_funcs(text)
    return _rewrite_ch_funcs(text)


def _format_datetime(a: list[str]) -> str:
    """CH formatDateTime(d, '%Y-%m') — the %-codes match strptime, reuse
    the YQL dialect's converter."""
    from ytsaurus_spark.yql.dialect import _strptime_pattern

    return f"date_format({a[0]}, {_strptime_pattern(a[1])})"


# ClickHouse PARAMETRIC aggregates: name(params)(args) — quantile(0.5)(x),
# topK(3)(x). quantile* lower to percentile (exact; CH's reservoir
# approximation converges to it); topK lowers to an exact
# count-sort-slice over the grouped values (CH topK is approximate,
# exact at test scales).
_PARAMETRIC_RE = re.compile(
    r"(?i)\b(quantile|quantileexact|quantiletdigest|median|topk)\s*\("
)


def _rewrite_parametric_aggs(text: str) -> str:
    m = _PARAMETRIC_RE.search(text)
    if not m:
        return text
    params, mid = _split_call_args(text, text.index("(", m.end() - 1))
    rest = text[mid:]
    if not rest.lstrip().startswith("("):
        # plain call (median(x)) — leave for _CH_FUNCS
        return text[:mid] + _rewrite_parametric_aggs(rest)
    args, end2 = _split_call_args(text, mid + (len(rest) - len(rest.lstrip())))
    name = m.group(1).lower()
    x = args[0].strip()
    if name == "topk":
        k = params[0].strip()
        rep = (f"slice(transform(array_sort(transform("
               f"array_distinct(collect_list({x})), __v -> named_struct("
               f"'c', -size(filter(collect_list({x}), __y -> __y <=> __v)),"
               f" 'v', __v))), __t -> __t.v), 1, {k})")
    else:
        p = params[0].strip() if params and params[0].strip() else "0.5"
        rep = f"percentile({x}, {p})"
    return text[: m.start()] + rep + _rewrite_parametric_aggs(text[end2:])


# --- table functions (table_functions_concat.cpp, storages_yt_nodes.cpp,
# table_function_yt_tables.cpp, table_function_yt_list_log_tables.cpp) -------

_TABLE_FN = re.compile(
    r"(?i)\b(concatYtTables(?:Range|Regexp|Like)?|ytTables|ytListNodes|"
    r"ytListTables|ytNodeAttributes|ytListLogTables|numbers)\s*\("
)

# the reference's fixed log-dir period layout (storages_yt_nodes.cpp:646)
_LOG_DIR_SUFFIXES = (
    ("1d", 86400), ("1h", 3600), ("30min", 1800), ("stream/5min", 300),
)


def _glob_to_regex(pattern: str) -> str:
    """Poco::Glob subset (TConcatenateTablesLike): * ? [set]."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in "[]":
            out.append(ch)
        else:
            out.append(re.escape(ch))
    return "".join(out) + r"\Z"


def _node_type(client, path: str) -> str:
    import os

    fs = client._fs(path)
    from ytsaurus_spark.sources.formats import table_attributes

    attrs = table_attributes(fs)
    if attrs.get("type") == "file":
        return "file"
    entries = os.listdir(fs)
    # data markers make it a table; a bare _yt_attrs.json does NOT — a
    # map node with attributes set (e.g. @opaque) also carries one
    if any(
        (e.startswith("_yt_") and e != "_yt_attrs.json")
        or e.endswith(".parquet") or e == "_SUCCESS"
        for e in entries
    ):
        return "table"
    if any(k in attrs for k in (
        "schema", "dynamic", "sorted_by", "key_columns", "optimize_for",
        "erasure_codec", "row_count",
    )):
        return "table"  # created-but-unwritten table node
    return "map_node"


def _node_rows(client, paths: list[str]) -> list[tuple]:
    """(__key, key, __path, path, type, dynamic, row_count) per node —
    the ytListNodes/ytListTables/ytNodeAttributes column set."""
    rows = []
    for p in paths:
        if not client.exists(p):
            raise ValueError(f"ytNodeAttributes: no such node {p}")
        t = _node_type(client, p)
        base = p.rstrip("/").rsplit("/", 1)[-1]
        dyn = None
        n = None
        if t == "table":
            attrs = client.get(p + "/@")
            dyn = bool(attrs.get("dynamic", False))
            n = attrs.get("row_count")
        rows.append((base, base, p, p, t, dyn, n))
    return rows


_NODE_SCHEMA = (
    "__key string, key string, __path string, path string, "
    "type string, dynamic boolean, row_count bigint"
)


def _parse_log_instant(s: str) -> float:
    """ISO-8601-ish instants the log-table convention uses: YYYY-MM-DD
    with optional [T ]HH:MM[:SS]."""
    import datetime as _dt

    s = s.strip().replace(" ", "T")
    for fmt in ("%Y-%m-%dT%H:%M:%S", "%Y-%m-%dT%H:%M", "%Y-%m-%d"):
        try:
            return _dt.datetime.strptime(s, fmt).timestamp()
        except ValueError:
            continue
    raise ValueError(f"unparseable log-table instant {s!r}")


def _log_table_paths(client, log_dir: str, frm: str = "", to: str = "") -> list[str]:
    """ytListLogTables: collect tables from the fixed period dirs, drop
    the ones whose interval is covered by a coarser table (scan-line over
    (start ASC, finish DESC) — storages_yt_nodes.cpp:696-731), clip to
    the [from, to) overlap window."""
    lo = _parse_log_instant(frm) if frm else None
    hi = _parse_log_instant(to) if to else None
    intervals: list[tuple[float, float, str, str]] = []
    found_any_dir = False
    for suffix, period in _LOG_DIR_SUFFIXES:
        d = f"{log_dir.rstrip('/')}/{suffix}"
        if not client.exists(d):
            continue
        found_any_dir = True
        for name in client.list(d):
            p = f"{d}/{name}"
            if _node_type(client, p) != "table":
                continue
            try:
                start = _parse_log_instant(name)
            except ValueError:
                continue
            finish = start + period
            if lo is not None and lo >= finish:
                continue
            if hi is not None and hi <= start:
                continue
            intervals.append((start, -finish, name, p))
    if not found_any_dir:
        raise ValueError(
            f"{log_dir} does not exist or is not a log directory "
            f"(no {'/'.join(s for s, _ in _LOG_DIR_SUFFIXES)} subdirs)"
        )
    intervals.sort()
    out, last_finish = [], float("-inf")
    for start, neg_finish, _name, p in intervals:
        finish = -neg_finish
        if last_finish < finish:
            if start < last_finish:
                raise ValueError(
                    "intersecting time intervals in log directory"
                )
            out.append(p)
            last_finish = finish
    return out


class _TableFunctionResolver:
    """Evaluates CHYT table-function calls driver-side (they are Cypress
    METADATA operations — the data read stays a distributed scan) and
    registers the results as temp views."""

    def __init__(self, s2, client):
        self.s2 = s2
        self.client = client
        self.n = 0
        self.union_views: dict[str, list[str]] = {}  # view -> base columns

    def _require_client(self, fn: str):
        if self.client is None:
            raise ValueError(f"{fn} needs a client to resolve")

    def _fresh(self) -> str:
        self.n += 1
        return f"__chyt_tf{self.n}"

    # -- path-list evaluation ------------------------------------------------

    def paths_of(self, arg: str) -> list[str]:
        """Evaluate one ytTables() argument into a path list: a quoted
        path, a nested listing function, or a scalar-column subquery."""
        arg = arg.strip()
        m = _TABLE_FN.match(arg)
        if m:
            name = m.group(1).lower()
            args, _ = _split_call_args(arg, arg.index("("))
            args = [a.strip() for a in args]
            if name == "ytlisttables":
                return [
                    p for _, _, _, p, t, _, _ in self.list_nodes(args)
                    if t == "table"
                ]
            if name == "ytlistnodes":
                rows = self.list_nodes(args)
                bad = [p for _, _, _, p, t, _, _ in rows if t != "table"]
                if bad:
                    raise ValueError(
                        f"ytTables: non-table nodes in listing: {bad}"
                    )
                return [p for _, _, _, p, _, _, _ in rows]
            if name == "ytlistlogtables":
                lits = [a.strip().strip("'\"`") for a in args]
                return _log_table_paths(self.client, lits[0], *lits[1:3])
            raise ValueError(f"ytTables: unsupported nested function {name}")
        if arg.startswith("("):
            # scalar subquery producing a path column
            inner = arg[1:-1] if arg.endswith(")") else arg[1:]
            df = chyt_query(self.s2, inner, client=self.client)
            if len(df.columns) != 1:
                raise ValueError("ytTables subquery must yield one column")
            return [r[0] for r in df.collect()]
        if arg and arg[0] in "'\"":
            return [arg.strip("'\"")]
        raise ValueError(f"ytTables: cannot evaluate argument {arg!r}")

    def list_nodes(self, args: list[str]) -> list[tuple]:
        self._require_client("ytListNodes")
        d = args[0].strip().strip("'\"")
        if not self.client.exists(d):
            raise ValueError(f"ytListNodes: no such directory {d}")
        paths = [f"{d.rstrip('/')}/{name}" for name in self.client.list(d)]
        return _node_rows(self.client, paths)

    # -- call dispatch ---------------------------------------------------

    def expand(self, text: str) -> str:
        """Replace every table-function call in ``text`` with a fresh
        registered temp-view name."""
        while True:
            m = _TABLE_FN.search(text)
            if not m:
                return text
            name = m.group(1).lower()
            open_idx = text.index("(", m.end() - 1)
            args, end = _split_call_args(text, open_idx)
            args = [a.strip() for a in args]
            view = self._dispatch(name, args, text)
            text = text[: m.start()] + view + text[end:]

    def _dispatch(self, name: str, args: list[str], text: str) -> str:
        from pyspark.sql import functions as F

        view = self._fresh()
        if name == "numbers":
            self.s2.range(int(args[0])).toDF("number") \
                .createOrReplaceTempView(view)
            return view
        if name in ("ytlistnodes", "ytlisttables", "ytnodeattributes"):
            self._require_client(name)
            if name == "ytnodeattributes":
                if not args or not args[0]:
                    raise ValueError("ytNodeAttributes needs path arguments")
                rows = _node_rows(
                    self.client, [a.strip().strip("'\"") for a in args]
                )
            else:
                rows = self.list_nodes(args)
                if name == "ytlisttables":
                    rows = [r for r in rows if r[4] == "table"]
                rows.sort(key=lambda r: r[0])
            self.s2.createDataFrame(rows, _NODE_SCHEMA) \
                .createOrReplaceTempView(view)
            return view
        if name in ("yttables", "ytlistlogtables"):
            self._require_client(name)
            if name == "ytlistlogtables":
                lits = [a.strip().strip("'\"`") for a in args]
                paths = _log_table_paths(self.client, lits[0], *lits[1:3])
                if not paths:
                    self.s2.createDataFrame([], _NODE_SCHEMA) \
                        .createOrReplaceTempView(view)
                    return view
                rows = _node_rows(self.client, paths)
                self.s2.createDataFrame(rows, _NODE_SCHEMA) \
                    .createOrReplaceTempView(view)
                return view
            paths = [p for a in args for p in self.paths_of(a)]
            if not paths:
                raise ValueError("ytTables needs at least one table")
            return self._register_union(view, paths, text)
        # concatYtTables family
        self._require_client(name)
        lits = [a.strip().strip("'\"`") for a in args]
        if name == "concatyttables":
            members = lits
        else:
            d = lits[0]
            names = sorted(self.client.list(d))
            if name == "concatyttablesrange" and len(lits) >= 2:
                lo, hi = lits[1], lits[2] if len(lits) >= 3 else None
                names = [t for t in names
                         if t >= lo and (hi is None or t <= hi)]
            elif name == "concatyttablesregexp":
                # unanchored search (OptimizedRegularExpression::match on
                # the basename is a partial match)
                pat = re.compile(lits[1])
                names = [t for t in names if pat.search(t)]
            elif name == "concatyttableslike":
                pat = re.compile(_glob_to_regex(lits[1]))
                names = [t for t in names if pat.match(t)]
            names = [
                t for t in names
                if _node_type(self.client, f"{d.rstrip('/')}/{t}") == "table"
            ]
            members = [f"{d.rstrip('/')}/{t}" for t in names]
        if not members:
            raise ValueError(f"{name}: no matching tables")
        return self._register_union(view, members, text)

    def _register_union(self, view: str, paths: list[str], text: str) -> str:
        """UNION ALL of member tables; when the query references the
        $table_* virtual columns, attach per-member literals (Catalyst
        constant-folds a $table_index filter into member pruning)."""
        from pyspark.sql import functions as F

        virtuals = bool(re.search(r"\$table_(index|path|name)\b", text))
        union = None
        base_cols = None
        for i, p in enumerate(paths):
            df = self.client.read_table(p)
            if base_cols is None:
                base_cols = df.columns
            if virtuals:
                base = p.rstrip("/").rsplit("/", 1)[-1]
                df = (
                    df.withColumn("__table_index", F.lit(i).cast("long"))
                    .withColumn("__table_path", F.lit(p))
                    .withColumn("__table_name", F.lit(base))
                )
            # missing_column_mode = read_as_null (the reference default,
            # test_clickhouse_schema.py:60): members with disjoint
            # columns widen by name, absent columns read NULL
            union = df if union is None else union.unionByName(
                df, allowMissingColumns=True
            )
        union.createOrReplaceTempView(view)
        if virtuals:
            self.union_views[view] = base_cols
        return view


# --- toTypeName / DESCRIBE (test_clickhouse_schema.py, test_composite.py) ---


def _spark_to_ch(dt, nullable: bool = False) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return f"Array({_spark_to_ch(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return f"Map({_spark_to_ch(dt.keyType)}, {_spark_to_ch(dt.valueType)})"
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {_spark_to_ch(f.dataType)}" for f in dt.fields
        )
        return f"Tuple({inner})"
    if isinstance(dt, T.DecimalType) and dt.precision == 20 and dt.scale == 0:
        base = "UInt64"
    elif isinstance(dt, T.DecimalType):
        base = f"Decimal({dt.precision}, {dt.scale})"
    else:
        base = {
            "bigint": "Int64", "int": "Int32", "smallint": "Int16",
            "tinyint": "Int8", "double": "Float64", "float": "Float32",
            "string": "String", "boolean": "Bool", "date": "Date",
            "timestamp": "DateTime", "binary": "String",
        }.get(dt.simpleString(), dt.simpleString())
    return f"Nullable({base})" if nullable else base


_TOTYPENAME = re.compile(r"(?i)\btoTypeName\s*\(")


def _resolve_totypename(s2, sql: str) -> str:
    """``toTypeName(expr)`` in the select list → the ClickHouse type name
    as a literal, via a lazy schema probe (plan analysis only, no
    execution)."""
    calls = []  # (call_start, call_end, arg, span_end_incl_alias)
    pos = 0
    while True:
        m = _TOTYPENAME.search(sql, pos)
        if not m:
            break
        args, end = _split_call_args(sql, sql.index("(", m.end() - 1))
        if len(args) != 1:
            raise ValueError("toTypeName takes exactly one argument")
        am = re.match(r"(?i)\s+as\s+[A-Za-z_]\w*", sql[end:])
        span_end = end + (am.end() if am else 0)
        calls.append((m.start(), end, args[0].strip(), span_end))
        pos = end
    if not calls:
        return sql
    probe = sql
    for i, (cs, _ce, arg, se) in reversed(list(enumerate(calls))):
        probe = probe[:cs] + f"({arg}) AS __ttn_{i}" + probe[se:]
    fields = {f.name: f for f in s2.sql(probe).schema.fields}
    out = sql
    for i, (cs, ce, _arg, _se) in reversed(list(enumerate(calls))):
        f = fields[f"__ttn_{i}"]
        name = _spark_to_ch(f.dataType, f.nullable)
        out = out[:cs] + "'" + name.replace("'", "''") + "'" + out[ce:]
    return out


# --- ClickHouse Bool/UInt8 arithmetic coercion --------------------------------
#
# ClickHouse treats Bool and comparison/IN results as UInt8, so ``2 * b``
# and ``5 + (a IN (...))`` are legal arithmetic (test_common.py:2035,
# test_join_and_in.py:661). Spark's type system forbids boolean in
# arithmetic, so the translation wraps boolean operands in
# ``if(b, 1, 0)``:
#   - PARENTHESIZED groups adjacent to an arithmetic operator whose
#     top level contains a comparison / IN / LIKE (syntactic — no schema
#     needed);
#   - bare (possibly alias-qualified) COLUMN references adjacent to an
#     arithmetic operator whose resolved type is BOOLEAN — resolved via
#     the session catalog, the same lazy-probe discipline as
#     chyt_if_default.

_FROM_JOIN_SRC = re.compile(
    r"(?is)\b(?:from|join)\s+([A-Za-z_]\w*)(?:\s+(?:as\s+)?"
    r"([A-Za-z_]\w*))?"
)
_SRC_ALIAS_KW = frozenset(
    "on where group order join left right inner full cross using global"
    " array limit settings union prewhere sample as having with".split()
)
_IDENT_REF = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?")
_BOOL_GROUP_OP = re.compile(
    r"(?i)(?:\s(?:in|like|not\s+in)\s)|(?:[<>!]=?|==|=|<>)"
)


def _boolean_columns(sql: str, s2) -> set[str]:
    cols: set[str] = set()
    from pyspark.sql.types import BooleanType

    for m in _FROM_JOIN_SRC.finditer(sql):
        name, alias = m.group(1), m.group(2)
        if alias is not None and alias.lower() in _SRC_ALIAS_KW:
            alias = None
        try:
            schema = s2.table(name).schema
        except Exception:
            continue
        for f in schema.fields:
            if isinstance(f.dataType, BooleanType):
                cols.add(f.name.lower())
                cols.add(f"{name}.{f.name}".lower())
                if alias is not None:
                    cols.add(f"{alias}.{f.name}".lower())
    return cols


def _prev_nonspace(s: str, i: int) -> str:
    while i > 0 and s[i - 1] in " \t\n":
        i -= 1
    return s[i - 1] if i > 0 else ""


def _next_nonspace(s: str, i: int) -> str:
    while i < len(s) and s[i] in " \t\n":
        i += 1
    return s[i] if i < len(s) else ""


def _arith_adjacent(sql: str, start: int, end: int) -> bool:
    prev, nxt = _prev_nonspace(sql, start), _next_nonspace(sql, end)
    # '*' before an operand can't be select-star here (idents filter to
    # known boolean columns; groups to boolean-op contents)
    return prev in "+-*/%" or nxt in "+-*/%"


def resolve_bool_arithmetic(sql: str, s2) -> str:
    """Wrap boolean operands of arithmetic operators in ``if(x, 1, 0)``
    — ClickHouse's implicit Bool→UInt8 coercion, made explicit for
    Spark."""
    # 1) parenthesized boolean expressions: (a IN (...)), (x = y), ...
    changed = True
    while changed:
        changed = False
        depth = _depth_map(sql)
        for i, d in enumerate(depth):
            if sql[i] != "(" or d < 0:
                continue
            args, end = _split_call_args(sql, i)
            inner = sql[i + 1: end - 1]
            if re.match(r"(?is)\s*select\b", inner):
                continue  # scalar subquery — numeric, not a boolean op
            if len(args) != 1:
                continue
            prev = _prev_nonspace(sql, i)
            if prev.isalnum() or prev == "_":
                continue  # function call argument list
            if not _arith_adjacent(sql, i, end):
                continue
            idm = [0 if dd < 0 else dd for dd in _depth_map(inner)]
            has_bool_op = any(
                idm[mm.start()] == 0
                for mm in _BOOL_GROUP_OP.finditer(inner)
            )
            if not has_bool_op:
                continue
            sql = sql[:i] + f"if({inner.strip()}, 1, 0)" + sql[end:]
            changed = True
            break
    # 2) bare boolean column references (schema-resolved)
    bool_cols = None
    pos = 0
    depth = None  # lazily (re)computed; -1 marks quoted/comment spans
    while True:
        m = _IDENT_REF.search(sql, pos)
        if m is None:
            return sql
        pos = m.end()
        if depth is None:
            depth = _depth_map(sql)
        if depth[m.start()] == -1:
            continue  # inside a string literal / comment
        if not _arith_adjacent(sql, m.start(), m.end()):
            continue
        if _next_nonspace(sql, m.end()) == "(":
            continue  # function call
        if bool_cols is None:
            bool_cols = _boolean_columns(sql, s2)
            if not bool_cols:
                return sql
        if m.group(0).lower() not in bool_cols:
            continue
        rep = f"if({m.group(0)}, 1, 0)"
        sql = sql[: m.start()] + rep + sql[m.end():]
        pos = m.start() + len(rep)
        depth = None  # sql changed — positions shifted


# --- ClickHouse unqualified ON-column left bias --------------------------------
#
# ClickHouse resolves an unqualified column that exists on BOTH sides of
# an ON-join to the LEFT side (test_join_and_in.py:81 sorted_join_simple:
# ``select key, lhs, rhs from t1 join t2 on t1.key = t2.key``); Spark
# raises AMBIGUOUS_REFERENCE. The translation qualifies such columns with
# the left relation. Scope: one top-level two-table ON-join over plain
# table refs (the CH shape); columns that are also SELECT aliases are
# left alone (both engines prefer the output alias).

_JOIN_KIND_KW = frozenset(
    "left right inner full outer global any all semi anti".split()
)


def _parse_join_source(txt: str, s2):
    """Parse ``<table|(subquery)> [AS] alias`` from source text. Returns
    (qualifier, column-name set) or None. The qualifier is the alias if
    present, else the table name; a bare subquery has no qualifier."""
    txt = txt.strip()
    if txt.startswith("("):
        try:
            _args, end = _split_call_args(txt, 0)
        except ValueError:
            return None
        src, rest = txt[:end], txt[end:].strip()
    else:
        m = re.match(r"[A-Za-z_][\w.]*", txt)
        if m is None:
            return None
        src, rest = m.group(0), txt[m.end():].strip()
    am = re.match(r"(?is)(?:as\s+)?([A-Za-z_]\w*)\s*$", rest) if rest \
        else None
    alias = am.group(1) if am else None
    if rest and am is None:
        return None  # trailing text we don't understand
    if alias is not None and alias.lower() in _SRC_ALIAS_KW:
        alias = None
    try:
        if src.startswith("("):
            schema = s2.sql(f"select * from {src} __lb_probe limit 0").schema
        else:
            schema = s2.table(src).schema
    except Exception:
        return None
    qual = alias or (None if src.startswith("(") else src)
    return qual, {f.name.lower() for f in schema.fields}


def resolve_join_left_bias(sql: str, s2) -> str:
    depth = _depth_map(sql)
    joins = [m for m in re.finditer(r"(?i)\bjoin\b", sql)
             if depth[m.start()] == 0]
    if len(joins) != 1:
        return sql
    jm = joins[0]
    fms = [m for m in re.finditer(r"(?is)\bfrom\s+", sql[: jm.start()])
           if depth[m.start()] == 0]
    if not fms:
        return sql
    left_txt = sql[fms[-1].end(): jm.start()].strip()
    # strip trailing join-kind keywords (LEFT/GLOBAL/FULL/...)
    while True:
        km = re.search(r"(?is)\s+([A-Za-z]+)\s*$", " " + left_txt)
        if km and km.group(1).lower() in _JOIN_KIND_KW:
            left_txt = left_txt[: len(left_txt) - len(km.group(0)) + 1]
            left_txt = left_txt.rstrip()
        else:
            break
    right_rest = sql[jm.end():]
    om = next((m for m in re.finditer(r"(?is)\bon\b", right_rest)
               if _depth_map(right_rest)[m.start()] == 0), None)
    if om is None:
        return sql  # USING joins dedup the column themselves
    left = _parse_join_source(left_txt, s2)
    right = _parse_join_source(right_rest[: om.start()], s2)
    if left is None or right is None or left[0] is None:
        return sql
    left_q, lcols = left
    _rq, rcols = right

    def _excluded_spans(s: str, dm) -> list:
        """Spans a rewrite must never touch: the two join-source texts
        (a subquery source's internal references resolve in its own
        scope) and every ``(select ...)`` group anywhere in the
        statement.  Quoted/comment spans are already -1 in the depth
        map and are skipped separately."""
        jm2 = next(m for m in re.finditer(r"(?i)\bjoin\b", s)
                   if dm[m.start()] == 0)
        fm2 = [m for m in re.finditer(r"(?is)\bfrom\s+", s[: jm2.start()])
               if dm[m.start()] == 0][-1]
        rr2 = s[jm2.end():]
        om2 = next(m for m in re.finditer(r"(?is)\bon\b", rr2)
                   if _depth_map(rr2)[m.start()] == 0)
        spans = [(fm2.end(), jm2.start()),
                 (jm2.end(), jm2.end() + om2.start())]
        for sm in re.finditer(r"(?is)\(\s*select\b", s):
            if dm[sm.start()] < 0:
                continue
            try:
                _a, end = _split_call_args(s, sm.start())
            except ValueError:
                continue
            spans.append((sm.start(), end))
        return spans

    spans = _excluded_spans(sql, depth)
    for col in sorted(lcols & rcols):
        alias_hit = any(
            depth[am.start()] >= 0
            for am in re.finditer(rf"(?i)\bas\s+{re.escape(col)}\b", sql)
        )
        if alias_hit:
            continue  # output alias wins on both engines
        pat = re.compile(
            rf"(?i)(?<![\w.]){re.escape(col)}(?![\w.])(?!\s*\()"
        )
        out, last = [], 0
        for m in pat.finditer(sql):
            s = m.start()
            if depth[s] < 0:  # string literal / comment
                continue
            if any(a <= s < b for a, b in spans):
                continue
            out.append(sql[last:s])
            out.append(f"{left_q}.{col}")
            last = m.end()
        if last:
            sql = "".join(out) + sql[last:]
            depth = _depth_map(sql)
            spans = _excluded_spans(sql, depth)
    return sql


# --- ClickHouse positional tuple access ---------------------------------------
#
# CH spells struct-member access by 1-based POSITION: ``a.1``
# (test_composite.py:101 — YT structs surface as named Tuples). Spark
# only has named access, so the position resolves to the field name via
# the session catalog — same lazy-probe discipline as the other
# resolvers.

_TUPLE_POS = re.compile(r"\b([A-Za-z_]\w*)\s*\.\s*(\d+)\b")


def resolve_tuple_positional(sql: str, s2) -> str:
    if not _TUPLE_POS.search(sql):
        return sql
    from pyspark.sql.types import StructType

    fields: dict[str, list[str]] = {}
    for m in _FROM_JOIN_SRC.finditer(sql):
        try:
            schema = s2.table(m.group(1)).schema
        except Exception:
            continue
        for f in schema.fields:
            if isinstance(f.dataType, StructType):
                fields[f.name.lower()] = [x.name for x in f.dataType.fields]

    def sub(m: re.Match) -> str:
        members = fields.get(m.group(1).lower())
        idx = int(m.group(2))
        if members is None or not (1 <= idx <= len(members)):
            return m.group(0)
        return f"{m.group(1)}.{members[idx - 1]}"

    return _TUPLE_POS.sub(sub, sql) if fields else sql


_LENGTH_MARK = re.compile(r"\bchyt_length\s*\(")


def resolve_length(sql: str, analyze=None) -> str:
    """CH ``length()`` works on strings AND arrays/maps; Spark splits
    that into length()/size(). The translator emits a ``chyt_length``
    marker; candidate rewrites are plan-ANALYZED (never executed) until
    one type-checks — bounded at 2^4 combinations, string-``length`` as
    the no-probe fallback."""
    calls = []
    pos = 0
    while True:
        m = _LENGTH_MARK.search(sql, pos)
        if not m:
            break
        args, end = _split_call_args(sql, sql.index("(", m.end() - 1))
        calls.append((m.start(), end, args[0].strip()))
        pos = end
    if not calls:
        return sql

    def build(fns: list[str]) -> str:
        out, last = [], 0
        for (cs, ce, inner), fn in zip(calls, fns):
            out.append(sql[last:cs])
            out.append(f"{fn}({inner})")
            last = ce
        out.append(sql[last:])
        return "".join(out)

    k = len(calls)
    if analyze is None or k > 6:
        return build(["length"] * k)
    import itertools

    for combo in itertools.product(("length", "size"), repeat=k):
        cand = build(list(combo))
        try:
            analyze(cand)
            return cand
        except Exception:
            continue
    return build(["length"] * k)


_IF_DEFAULT = re.compile(r"\bchyt_if_default\s*\(")

# Spark simple type -> ClickHouse type-default literal (*If combinators
# return the argument type's DEFAULT on an empty match set:
# 0 / '' / epoch / false — DataTypeFactory defaults).
_TYPE_DEFAULT = {
    "string": "''",
    "date": "DATE '1970-01-01'",
    "timestamp": "TIMESTAMP '1970-01-01 00:00:00'",
    "boolean": "false",
}


def resolve_if_defaults(sql: str, analyze=None) -> str:
    """Resolve ``chyt_if_default(<agg>)`` markers (emitted for minIf/
    maxIf) into ``coalesce(<agg>, <typed default>)``. ``analyze(probe_sql)
    -> {alias: spark_simple_type}`` supplies argument types via a lazy
    schema probe (plan analysis only, no execution); without it — or if
    the probe can't parse (marker outside the select list) — numeric 0 is
    assumed (the common case and the DuckDB-oracle-portable one).
    Non-defaultable types (arrays, maps, structs, binary) keep NULL
    (documented divergence, same policy as avgIf)."""
    calls = []  # (start, end, inner, span_end_incl_alias)
    pos = 0
    while True:
        m = _IF_DEFAULT.search(sql, pos)
        if not m:
            break
        args, end = _split_call_args(sql, sql.index("(", m.end() - 1))
        am = re.match(r"(?i)\s+as\s+[A-Za-z_]\w*", sql[end:])
        calls.append((m.start(), end, args[0].strip(),
                      end + (am.end() if am else 0)))
        pos = end
    if not calls:
        return sql
    types = {}
    probed = False
    if analyze is not None:
        probe = sql
        for i, (cs, _ce, inner, se) in reversed(list(enumerate(calls))):
            probe = probe[:cs] + f"({inner}) AS __ifd_{i}" + probe[se:]
        try:
            types = analyze(probe)
            probed = True
        except Exception:
            # marker outside a select-list position (HAVING, inside a
            # CAST): fall through to NULL passthrough below — a wrong
            # numeric default could be a type error, NULL never is
            pass
    out = sql
    for i, (cs, ce, inner, _se) in reversed(list(enumerate(calls))):
        if analyze is not None and not probed:
            out = out[:cs] + f"({inner})" + out[ce:]
            continue
        t = types.get(f"__ifd_{i}", "bigint")
        if t.startswith(("array", "map", "struct")) or t == "binary":
            out = out[:cs] + f"({inner})" + out[ce:]
            continue
        dflt = _TYPE_DEFAULT.get(t, "0")
        out = out[:cs] + f"coalesce({inner}, CAST({dflt} AS {t}))" + out[ce:]
    return out


def _spark_analyze(s2):
    """analyze() impl for resolve_if_defaults over a Spark session: lazy
    plan analysis only — .schema never launches a job."""

    def analyze(probe: str) -> dict[str, str]:
        return {
            f.name: f.dataType.simpleString() for f in s2.sql(probe).schema
        }

    return analyze


def _star_expand(text: str, base_cols: list[str]) -> str:
    """Expand a leading ``select *`` to the BASE columns — CHYT virtual
    columns are excluded from ``*`` (ClickHouse virtual-column rule)."""
    return re.sub(
        r"(?is)^(\s*select\s+)\*",
        lambda m: m.group(1) + ", ".join(base_cols),
        text, count=1,
    )


def _all_path_refs(text: str) -> list[str]:
    return (
        _PATH_REF.findall(text)
        + _PATH_REF_BT.findall(text)
        + [m[1] for m in _PATH_REF_SQ.findall(text)]
    )


def _view_name(path: str) -> str:
    """Basename sanitized into a Spark identifier (rich-YPath suffixes
    like [#1:#5] become part of the name)."""
    base = path.rstrip("/").rsplit("/", 1)[-1]
    return re.sub(r"\W", "_", base)


def chyt_query(spark, text: str, client=None, sf_dir: str | None = None,
               dictionaries=None):
    """Execute CHYT-style SQL and return the DataFrame. ``client`` (a
    YtClient) resolves cypress paths and the table functions
    (concatYtTables*/ytTables/ytList*/ytNodeAttributes/ytListLogTables/
    numbers) against its tree; ``sf_dir`` provides the fixture views
    (basename resolution, like yql_select). Each statement runs in an
    isolated clone of a template that registered those views and the
    YSON functions once per process and fixture listing
    (``catalog.statement_session``); a nested statement (a ``ytTables``
    subquery) shares its parent's session. The
    ``$table_index/$table_path/$table_name`` virtual columns and
    ``toTypeName``/``DESCRIBE`` introspection are supported. ``DESCRIBE``
    and the node-listing functions are driver-side metadata ops; data
    reads stay distributed parquet scans.

    ``dictionaries`` takes reference-shaped external-dictionary configs
    (clique config_patch ``clickhouse.dictionaries`` entries,
    test_yt_dictionaries.py) enabling dictGet*/dictHas/dictGetOrDefault;
    user functions persisted by ``CREATE FUNCTION`` (chyt_execute) are
    inlined at call sites."""
    if getattr(spark, "_chyt_session", False):
        s2 = spark
    else:
        from ytsaurus_spark.catalog import statement_session

        s2 = statement_session(spark, sf_dir, "chyt")
        s2._chyt_session = True

    text = text.strip().rstrip(";")
    exec_client = (
        type(client)(root=client.root, spark=s2) if client is not None else None
    )

    udfs = _load_udfs(exec_client)
    if udfs:
        text = _inline_udfs(text, udfs)
    if dictionaries:
        from pyspark.sql import functions as F

        specs = dictionary_specs(dictionaries)
        for spec in specs.values():
            p = spec["path"]
            if exec_client is not None and exec_client.exists(p):
                df = exec_client.read_table(p)
            else:
                df = s2.table(_view_name(p))
            df.select(
                *(F.col(k).alias(f"__dk_{i}")
                  for i, k in enumerate(spec["keys"])),
                *(F.col(a).alias(f"__da_{a}") for a in spec["attrs"]),
            ).createOrReplaceTempView(spec["view"])
        text = _rewrite_dictget(text, specs)
    elif _DICTGET.search(text):
        m = _DICTGET.search(text)
        args, _ = _split_call_args(text, text.index("(", m.end() - 1))
        raise ValueError(
            f"dictionary {args[0].strip().strip(chr(39))!r} is not declared"
        )

    dm = re.match(r"(?is)^describe\s+(?:table\s+)?(.+)$", text)
    if dm:
        target = dm.group(1).strip()
        tm = _TABLE_FN.match(target)
        if tm:
            resolver = _TableFunctionResolver(s2, exec_client)
            view = resolver.expand(target)
            df = s2.table(view)
        else:
            paths = _all_path_refs(target)
            if paths and exec_client is not None:
                df = exec_client.read_table(paths[0])
            else:
                df = s2.table(translate_chyt(target))
        rows = [
            (f.name, _spark_to_ch(f.dataType, f.nullable))
            for f in df.schema.fields
        ]
        return s2.createDataFrame(rows, "name string, type string")

    resolver = _TableFunctionResolver(s2, exec_client)
    text = resolver.expand(text)
    for view, base_cols in resolver.union_views.items():
        text = _star_expand(text, base_cols)

    wants_virtuals = bool(re.search(r"\$table_(index|path|name)\b", text))
    if exec_client is not None:
        from pyspark.sql import functions as F

        seen = set()
        for p in _all_path_refs(text):
            if p in seen:
                continue
            seen.add(p)
            plain = re.sub(r"^<[^>]*>", "", p).split("[")[0].split("{")[0]
            if not exec_client.exists(plain):
                continue
            df = exec_client.read_table(p)
            if wants_virtuals:
                base = plain.rstrip("/").rsplit("/", 1)[-1]
                text = _star_expand(text, df.columns)
                df = (
                    df.withColumn("__table_index", F.lit(0).cast("long"))
                    .withColumn("__table_path", F.lit(plain))
                    .withColumn("__table_name", F.lit(base))
                )
            df.createOrReplaceTempView(_view_name(p))
    return s2.sql(resolve_chyt(s2, translate_chyt(text, resolve=_view_name)))


def resolve_chyt(spark, sql: str) -> str:
    """The post-translation passes, in order, that settle what the text
    alone cannot: each asks ``spark`` for the types of the translated
    SQL (toTypeName, *If defaults, boolean arithmetic, join-side bias,
    tuple positions, length)."""
    sql = _resolve_totypename(spark, sql)
    sql = resolve_if_defaults(sql, analyze=_spark_analyze(spark))
    sql = resolve_bool_arithmetic(sql, spark)
    sql = resolve_join_left_bias(sql, spark)
    sql = resolve_tuple_positional(sql, spark)
    return resolve_length(sql, analyze=_spark_analyze(spark))


# --- write statements (CHYT mutations / DDL) ---------------------------------
# Reference: yt/chyt/tests/server/test_mutations.py — INSERT INTO
# "//path" [(cols)] VALUES ... | SELECT ..., with the rich-YPath
# <append=%false> attribute selecting overwrite; test_ddl.py — CREATE
# TABLE "//path"(col Type, ...) ENGINE YtTable(); DROP TABLE "//path".

_INSERT_RE = re.compile(
    r'(?is)^\s*insert\s+into\s+["`](<append=%(?:false|true)>)?(//[^"`]+)["`]'
    r"\s*(\(([^)]*)\))?\s*(values|select)\b(.*)$"
)
_CREATE_RE = re.compile(
    r'(?is)^\s*create\s+table\s+["`](//[^"`]+)["`]\s*\(([^)]*)\)'
    r"\s*engine\s*[= ]?\s*YtTable\s*\(\s*\)"
    r"\s*(?:order\s+by\s+(\([^)]*\)|[A-Za-z_]\w*))?\s*$"
)
_CREATE_AS_RE = re.compile(
    r'(?is)^\s*create\s+table\s+["`](//[^"`]+)["`]\s*'
    r"engine\s*[= ]?\s*YtTable\s*\(\s*\)"
    r"\s*(?:order\s+by\s+(\([^)]*\)|[A-Za-z_]\w*))?\s*as\s+(select\b.*)$"
)
_EXISTS_RE = re.compile(
    # EXISTS [TABLE] "//path" — test_ddl.py uses the bare form
    r'(?is)^\s*exists\s+(?:table\s+)?["`](//[^"`]+)["`]\s*$'
)
_SHOW_TABLES_RE = re.compile(
    r'(?is)^\s*show\s+tables(?:\s+from\s+["`](//[^"`]+)["`])?'
    r"(?:\s+like\s+'([^']*)')?\s*$"
)


def _walk_tables(client, root: str) -> list[str]:
    """Recursive table listing under ``root`` — test_common.py::
    test_show_tables: full paths, depth-first; subtrees marked @opaque
    are hidden (the reference treats them as externally-managed)."""
    out: list[str] = []
    if not client.exists(root):
        return out
    for name in client.list(root):
        # '//' root must yield '//name', not '/name' (YPath needs the
        # leading double slash — bare SHOW TABLES walks the whole tree).
        p = (root if root.endswith("/") else root + "/") + name
        t = _node_type(client, p)
        if t == "table":
            out.append(p)
        elif t == "map_node":
            try:
                if client.get(p + "/@").get("opaque"):
                    continue
            except Exception:
                pass
            out.extend(_walk_tables(client, p))
    return out


def _order_by_cols(tok: str | None) -> list[str]:
    """CREATE TABLE's ``order by (a, b)`` / ``order by a`` clause → key
    column list (test_mutations.py::test_create_table_simple: key columns
    move to the FRONT of the stored schema and become the sort key)."""
    if not tok:
        return []
    return [c.strip() for c in tok.strip("() \t\n").split(",") if c.strip()]
_DROP_RE = re.compile(
    r'(?is)^\s*drop\s+table\s+(if\s+exists\s+)?["`](//[^"`]+)["`]\s*$'
)
_TRUNCATE_RE = re.compile(
    r'(?is)^\s*truncate\s+table\s+(if\s+exists\s+)?["`](//[^"`]+)["`]\s*$'
)
# RENAME TABLE "//a" TO "//b" / EXCHANGE TABLES "//a" AND "//b"
# (test_ddl.py::test_rename_table / test_exchange_tables)
_RENAME_RE = re.compile(
    r'(?is)^\s*rename\s+table\s+["`](//[^"`]+)["`]\s+to\s+'
    r'["`](//[^"`]+)["`]\s*$'
)
_EXCHANGE_RE = re.compile(
    r'(?is)^\s*exchange\s+tables\s+["`](//[^"`]+)["`]\s+and\s+'
    r'["`](//[^"`]+)["`]\s*$'
)

# ClickHouse column type -> Spark SQL type (uint64 keeps the repo's
# DECIMAL(20,0) discipline; see yt_types.py)
_CH_TYPES = {
    "int8": "tinyint", "int16": "smallint", "int32": "int",
    "int64": "bigint", "uint8": "smallint", "uint16": "int",
    "uint32": "bigint", "uint64": "decimal(20,0)",
    "float32": "float", "float64": "double",
    "string": "string", "bool": "boolean", "boolean": "boolean",
    "date": "date", "datetime": "timestamp", "timestamp": "timestamp",
}


def chyt_execute(spark, text: str, client, sf_dir: str | None = None,
                 dictionaries=None):
    """Execute a CHYT statement including mutations: INSERT INTO (VALUES
    or SELECT source; ``<append=%false>`` overwrites), CREATE TABLE …
    ENGINE YtTable(), DROP TABLE, CREATE [OR REPLACE] FUNCTION / DROP
    FUNCTION (persisted under the client's tree — test_sql_udf.py).
    Reads fall through to :func:`chyt_query`. Returns the result
    DataFrame for reads, None for writes."""
    stmt = text.strip().rstrip(";")

    m = _CREATE_FN_RE.match(stmt)
    if m:
        name, _params, _body = _parse_udf(stmt)  # validates name + shape
        path = f"{_UDF_DIR}/{name}"
        if client.exists(path):
            if m.group(2):  # IF NOT EXISTS
                return None
            if not m.group(1):  # no OR REPLACE
                raise ValueError(f"function {name} already exists")
        client.write_file(path, stmt.encode())
        return None

    m = _DROP_FN_RE.match(stmt)
    if m:
        name = _fn_name(m.group(2))
        path = f"{_UDF_DIR}/{name}"
        if client.exists(path):
            client.remove(path)
        elif not m.group(1):  # no IF EXISTS
            raise ValueError(f"function {name} does not exist")
        return None

    m = _SHOW_TABLES_RE.match(stmt)
    if m:
        root = m.group(1) or "//"
        names = sorted(_walk_tables(client, root))
        if m.group(2) is not None:
            rx = "".join(
                ".*" if ch == "%" else "." if ch == "_" else re.escape(ch)
                for ch in m.group(2)
            )
            pat = re.compile(rx + r"\Z")
            names = [n for n in names if pat.match(n)]
        return spark.createDataFrame([(n,) for n in names], "name string")

    m = _EXISTS_RE.match(stmt)
    if m:
        # EXISTS TABLE "//p" -> one row, column `result` (test_common.py::
        # test_exists_table); a non-table node is an error
        p = m.group(1)
        if client.exists(p):
            if _node_type(client, p) != "table":
                raise ValueError(f"EXISTS TABLE: {p} is not a table")
            v = 1
        else:
            v = 0
        return spark.createDataFrame([(v,)], "result int")

    m = _CREATE_AS_RE.match(stmt)
    if m:
        # CREATE TABLE "//p" ENGINE YtTable() [ORDER BY k] AS SELECT ...
        # (test_composite.py:64, test_mutations.py:478): schema inferred
        # from the query; ORDER BY keys become the table's sort key
        df = chyt_query(spark, m.group(3), client=client, sf_dir=sf_dir)
        keys = _order_by_cols(m.group(2))
        if keys:
            df = df.select(*keys, *(c for c in df.columns if c not in keys))
            df = df.sort(*keys)
        client.write_table(m.group(1), df, append=False)
        if keys:
            client.set(m.group(1) + "/@sorted_by", keys)
        return None

    m = _CREATE_RE.match(stmt)
    if m:
        cols = []
        for item in m.group(2).split(","):
            name, ch_type = item.split()[:2]
            t = _CH_TYPES.get(ch_type.lower())
            if t is None:
                raise ValueError(f"unsupported ClickHouse type {ch_type!r}")
            cols.append((name, t))
        if client.exists(m.group(1)):
            raise ValueError(
                f"CREATE TABLE: {m.group(1)} already exists"
            )
        keys = _order_by_cols(m.group(3))
        unknown = [k for k in keys if k not in {n for n, _ in cols}]
        if unknown:
            raise ValueError(f"ORDER BY references unknown columns {unknown}")
        # key columns move to the front of the stored schema
        # (test_create_table_simple)
        cols.sort(key=lambda nt: (nt[0] not in keys,
                                  keys.index(nt[0]) if nt[0] in keys else 0))
        empty = spark.createDataFrame(
            [], ", ".join(f"{n} {t}" for n, t in cols)
        )
        client.write_table(m.group(1), empty, append=False)
        if keys:
            client.set(m.group(1) + "/@sorted_by", keys)
        return None

    m = _DROP_RE.match(stmt)
    if m:
        if client.exists(m.group(2)):
            client.remove(m.group(2), recursive=True)
        elif not m.group(1):
            raise ValueError(f"DROP TABLE: {m.group(2)} does not exist")
        return None

    m = _TRUNCATE_RE.match(stmt)
    if m:
        # TRUNCATE keeps the table and its schema, drops the rows
        # (test_mutations.py::test_truncate); dynamic tables refuse
        # (test_ddl.py::test_truncate_error — CH DDL never mutates a
        # mounted dynamic table)
        if not client.exists(m.group(2)):
            if m.group(1):
                return None
            raise ValueError(f"TRUNCATE TABLE: {m.group(2)} does not exist")
        from ytsaurus_spark.sources.formats import table_attributes

        if table_attributes(client._fs(m.group(2))).get("dynamic"):
            raise ValueError(
                f"TRUNCATE TABLE: {m.group(2)} is a dynamic table")
        empty = client.read_table(m.group(2)).limit(0)
        client.write_table(m.group(2), empty, append=False)
        return None

    m = _RENAME_RE.match(stmt)
    if m:
        # RENAME TABLE src TO dst (test_ddl.py::test_rename_table):
        # src must exist, dst must NOT — CH's RENAME never clobbers
        if not client.exists(m.group(1)):
            raise ValueError(f"RENAME TABLE: {m.group(1)} does not exist")
        if client.exists(m.group(2)):
            raise ValueError(f"RENAME TABLE: {m.group(2)} already exists")
        client.move(m.group(1), m.group(2))
        return None

    m = _EXCHANGE_RE.match(stmt)
    if m:
        # EXCHANGE TABLES a AND b (test_ddl.py::test_exchange_tables):
        # both must exist; the swap is atomic in the reference (Cypress
        # transaction), staged through a temp name here
        a, b = m.group(1), m.group(2)
        for p in (a, b):
            if not client.exists(p):
                raise ValueError(f"EXCHANGE TABLES: {p} does not exist")
        tmp = a + ".__exchange_tmp"
        client.move(a, tmp)
        client.move(b, a)
        client.move(tmp, b)
        return None

    m = _INSERT_RE.match(stmt)
    if m:
        append_attr, path, _, cols, kind, rest = m.groups()
        append = append_attr != "<append=%false>"
        if kind.lower() == "values":
            df = spark.sql(f"SELECT * FROM VALUES{rest}")
        else:
            df = chyt_query(spark, f"select{rest}", client=client,
                            sf_dir=sf_dir)
        if cols:
            names = [c.strip() for c in cols.split(",")]
            df = df.toDF(*names)
            if client.exists(path):
                # partial-column insert: missing columns go NULL, cast
                # onto the stored schema
                from pyspark.sql import functions as F

                target = client.read_table(path)
                df = df.select(
                    *(
                        (F.col(c) if c in names else F.lit(None))
                        .cast(dict(zip(target.columns,
                                       [f.dataType for f in target.schema]))[c])
                        .alias(c)
                        for c in target.columns
                    )
                )
        elif client.exists(path):
            target = client.read_table(path)
            df = df.toDF(*target.columns)
        if client.exists(path):
            from ytsaurus_spark.sources.formats import table_attributes

            if table_attributes(client._fs(path)).get("dynamic"):
                # dynamic targets take the dynamic write path: sorted
                # tables upsert by key, ordered tables append
                # (test_dynamic_tables.py::test_write_to_dynamic_table);
                # <append=%false> is refused like the reference
                if not append:
                    raise ValueError(
                        "Overriding dynamic tables is not supported")
                client.insert_rows(path, df)
                return None
        client.write_table(path, df, append=append)
        return None

    return chyt_query(spark, stmt, client=client, sf_dir=sf_dir,
                      dictionaries=dictionaries)
