"""MATCH_RECOGNIZE against one pure-Python model, on every surface.

The model is literal: it assigns each row a symbol (the first DEFINE whose
predicate is TRUE under SQL three-valued logic, '.' when none is), walks
each partition's rows in (order key, tie-breaker) order, tries a match
anchored at every row, and resumes after a match by the AFTER MATCH SKIP
policy. MEASURES and ALL ROWS PER MATCH are computed from the matched
rows. The surfaces checked against it on seeded random sequences are the
JVM count form (``match_recognize``), both Python batch forms
(``match_recognize_measures``, ``match_recognize_rows``), the YQL text
lowering, and the stream, which is fed the same micro-batch boundaries
as its model because stream emission is batch-greedy by contract.

Inputs carry NULL partition keys, one-row partitions, NULL values (so
NULL DEFINE predicates and all-NULL measure inputs), ties in the order
key (broken by the unique ``id``), optional, greedy and bounded
quantifiers, and PREV/NEXT navigation; an empty input is checked too.
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ytsaurus_spark.operators.match_recognize import (
    match_recognize,
    match_recognize_measures,
    match_recognize_rows,
    match_recognize_stream,
    with_navigation,
)
from ytsaurus_spark.yql.match_recognize_text import (
    expand_match_recognize,
    rewrite_navigation,
)

SCHEMA = "k string, o bigint, id bigint, x bigint"

# DEFINE as SQL text (engine side) ...
DEFINES = [
    ("A", "x < 2"),
    ("B", "x >= 2 AND x > PREV(x)"),
    ("C", "x = 4 OR NEXT(x) = 0"),
]


# ... and as the model's predicates over (x, PREV(x), NEXT(x)); a
# comparison with NULL is NULL, and only a TRUE predicate maps the row
def _is(a, op, b) -> bool:
    return a is not None and b is not None and op(a, b)


def _model_symbol(x, prev, nxt) -> str:
    if _is(x, int.__lt__, 2):
        return "A"
    if _is(x, int.__ge__, 2) and _is(x, int.__gt__, prev):
        return "B"
    if _is(x, int.__eq__, 4) or _is(nxt, int.__eq__, 0):
        return "C"
    return "."


# (pattern, skip) cases: greedy, optional, bounded, alternation, and each
# of the four skip policies. In the TO FIRST/LAST cases the skip symbol is
# never a match's first row (which would raise), and a new match can
# start at or after it, so the resume point decides the matches found.
CASES = [
    ("AB+", "past_last_row"),
    ("A(B|C)?C", "to_next_row"),
    ("B{2,3}", "past_last_row"),
    ("(A|B)B+", ("to_last", "B")),
    ("AB(A|B)*C?", ("to_first", "B")),
    ("(A|C)+B", "past_last_row"),
]

MEASURES = {
    "f": ("first", "x"),
    "l": ("last", "x"),
    "mn": ("min", "x"),
    "mx": ("max", "x"),
    "s": ("sum", "x"),
    "n": ("count", None),
    "av": ("avg", "x"),
    "fa": ("first", "id", "A"),
    "sb": ("sum", "x", "B"),
    "ncx": ("count", "x", "C"),
}
MEASURES_DDL = (
    "k string, match_no bigint, classifier string, f bigint, l bigint, "
    "mn bigint, mx bigint, s bigint, n bigint, av double, fa bigint, "
    "sb bigint, ncx bigint"
)
MEASURES_SQL = (
    "first(x) AS f, last(x) AS l, min(x) AS mn, max(x) AS mx, sum(x) AS s, "
    "count(*) AS n, avg(x) AS av, first(A.id) AS fa, sum(B.x) AS sb, "
    "count(C.x) AS ncx"
)
ROWS_DDL = (
    "k string, id bigint, x bigint, match_no bigint, classifier string, "
    "row_in_match bigint"
)


def _random_rows(rng: random.Random, n_keys: int = 12):
    """Rows (k, o, id, x): a NULL key, keys of one row, keys of up to 14
    rows; ``o`` ties often, ``id`` is unique; about 1 in 8 ``x`` is NULL."""
    rows, next_id = [], 0
    keys = [None] + [f"k{i}" for i in range(n_keys)]
    for key in keys:
        for _ in range(rng.choice([1, 1, 2, 3, 5, 8, 14])):
            x = None if rng.random() < 0.125 else rng.randint(0, 4)
            rows.append((key, rng.randint(0, 6), next_id, x))
            next_id += 1
    rng.shuffle(rows)
    return rows


def _partitions(rows):
    """key -> (rows in (o, id) order, symbol string)."""
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r[0], []).append(r)
    out = {}
    for key, rs in by_key.items():
        rs.sort(key=lambda r: (r[1], r[2]))
        xs = [r[3] for r in rs]
        syms = "".join(
            _model_symbol(
                xs[i],
                xs[i - 1] if i > 0 else None,
                xs[i + 1] if i + 1 < len(xs) else None,
            )
            for i in range(len(xs))
        )
        out[key] = (rs, syms)
    return out


def _model_scan(s: str, pattern: str, skip) -> list[tuple[int, int]]:
    """Try a match anchored at each row from the resume point on; the regex
    engine's preferred match at that row is the match."""
    rx = re.compile(pattern)
    spans, p = [], 0
    while p < len(s):
        m = rx.match(s, p)
        if m is None:
            p += 1
            continue
        lo, hi = m.span()
        spans.append((lo, hi))
        if skip == "past_last_row":
            p = hi
        elif skip == "to_next_row":
            p = lo + 1
        else:
            mode, sym = skip
            at = [i for i in range(lo, hi) if s[i] == sym]
            p = at[0] if mode == "to_first" else at[-1]
            assert p > lo
    return spans


def _agg(kind, vals, src):
    if kind == "count":
        return len(vals) if src is None else sum(v is not None for v in vals)
    if kind == "first":
        return vals[0] if vals else None
    if kind == "last":
        return vals[-1] if vals else None
    nn = [v for v in vals if v is not None]
    if not nn:
        return None
    return {"min": min, "max": max, "sum": sum,
            "avg": lambda v: sum(v) / len(v)}[kind](nn)


def _model(rows, pattern, skip):
    """(count form rows, ONE ROW PER MATCH rows, ALL ROWS PER MATCH rows)."""
    counts, one, alls = [], [], []
    col = {"id": 2, "x": 3}
    for key, (rs, s) in _partitions(rows).items():
        spans = _model_scan(s, pattern, skip)
        counts.append((key, len(spans), ",".join(s[lo:hi] for lo, hi in spans)))
        for no, (lo, hi) in enumerate(spans, 1):
            rec = [key, no, s[lo:hi]]
            for kind, src, *sym in MEASURES.values():
                picked = [
                    r for i, r in zip(range(lo, hi), rs[lo:hi])
                    if not sym or s[i] == sym[0]
                ]
                vals = [r[col[src]] if src else 1 for r in picked]
                rec.append(_agg(kind, vals, src))
            one.append(tuple(rec))
            for j, i in enumerate(range(lo, hi), 1):
                alls.append((key, rs[i][2], rs[i][3], no, s[i], j))
    return counts, one, alls


def _norm(rows):
    """Order-insensitive multiset; floats compared to 9 places."""
    return Counter(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in rows
    )


def _engine_frame(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    symbols, nav = [], {}
    for sym, cond in DEFINES:
        cond, needs = rewrite_navigation(cond)
        nav.update(needs)
        symbols.append((sym, F.expr(cond)))
    return with_navigation(df, ["k"], ["o", "id"], sorted(nav)), symbols


@pytest.mark.parametrize("seed", [0, 1])
def test_batch_forms_match_the_model(spark, seed):
    rng = random.Random(seed)
    rows = _random_rows(rng)
    df, symbols = _engine_frame(spark, rows)
    for pattern, skip in CASES:
        counts, one, alls = _model(rows, pattern, skip)
        got = match_recognize_measures(
            df, ["k"], ["o", "id"], symbols, pattern, MEASURES,
            MEASURES_DDL, after_match_skip=skip,
        ).collect()
        assert _norm(got) == _norm(one), (pattern, skip)
        got = match_recognize_rows(
            df, ["k"], ["o", "id"], symbols, pattern, ["id", "x"],
            ROWS_DDL, after_match_skip=skip,
        ).collect()
        assert _norm(got) == _norm(alls), (pattern, skip)
        if skip == "past_last_row":
            got = match_recognize(
                df, ["k"], ["o", "id"], symbols, pattern
            ).collect()
            assert _norm(got) == _norm(counts), pattern


def _skip_sql(skip) -> str:
    if skip == "past_last_row":
        return "AFTER MATCH SKIP PAST LAST ROW"
    if skip == "to_next_row":
        return "AFTER MATCH SKIP TO NEXT ROW"
    return f"AFTER MATCH SKIP TO {skip[0][3:].upper()} {skip[1]}"


def test_yql_text_matches_the_model(spark):
    rows = _random_rows(random.Random(2))
    s2 = spark.newSession()
    s2.createDataFrame(rows, SCHEMA).createOrReplaceTempView("mr_model_src")
    define = ", ".join(f"{s} AS {c}" for s, c in DEFINES)
    for pattern, skip in CASES[:4]:
        _counts, one, alls = _model(rows, pattern, skip)
        # spaced between terms, as YQL writes it: "A (B|C)? C"
        yql_pattern = re.sub(r"(?<=[A-C+*?)}])(?=[A-C(])", " ", pattern)
        for mode, select, want in (
            ("ONE ROW PER MATCH", f"k, match_no, classifier, {', '.join(MEASURES)}", one),
            ("ALL ROWS PER MATCH", "k, id, x, match_no, classifier, row_in_match", alls),
        ):
            text = expand_match_recognize(s2, f"""
                select {select} from mr_model_src MATCH_RECOGNIZE (
                    PARTITION BY k ORDER BY o, id
                    MEASURES {MEASURES_SQL}
                    {mode}
                    {_skip_sql(skip)}
                    PATTERN ({yql_pattern})
                    DEFINE {define}
                )
            """)
            got = s2.sql(text).collect()
            assert _norm(got) == _norm(want), (pattern, skip, mode)


def test_empty_input_matches_nothing(spark):
    df, symbols = _engine_frame(spark, [])
    pattern, skip = CASES[0]
    assert match_recognize_measures(
        df, ["k"], ["o", "id"], symbols, pattern, MEASURES, MEASURES_DDL,
        after_match_skip=skip,
    ).collect() == []
    assert match_recognize_rows(
        df, ["k"], ["o", "id"], symbols, pattern, ["id", "x"], ROWS_DDL,
    ).collect() == []
    assert match_recognize(df, ["k"], ["o", "id"], symbols, pattern).collect() == []


# The stream has no window for PREV/NEXT, so its DEFINEs do not navigate.
STREAM_DEFINES = [("A", "x < 2"), ("B", "x >= 2 AND x < 4"), ("C", "x = 4")]


def _stream_symbol(x) -> str:
    if x is None:
        return "."
    return "A" if x < 2 else "B" if x < 4 else "C" if x == 4 else "."


def _stream_model(batches, pattern, max_buffer):
    """Per key: append the batch's rows in ``id`` order to the pending
    buffer, emit every past-last-row match in it, keep the unmatched tail,
    capped at ``max_buffer``."""
    bufs: dict = {}
    out = []
    for batch in batches:
        by_key: dict = {}
        for k, _o, i, x in sorted(batch, key=lambda r: r[2]):
            by_key.setdefault(k, []).append(_stream_symbol(x))
        for k, syms in by_key.items():
            buf = bufs.get(k, "") + "".join(syms)
            spans = _model_scan(buf, pattern, "past_last_row")
            for n, (lo, hi) in enumerate(spans, 1):
                out.append((k, buf[lo:hi], n))
            bufs[k] = buf[spans[-1][1] if spans else 0:][-max_buffer:]
    return out


def test_stream_matches_the_model_batch_for_batch(spark, tmp_path):
    rng = random.Random(3)
    rows = sorted(_random_rows(rng, n_keys=40), key=lambda r: r[2])
    # three micro-batches: each key's rows (in id order) split at random
    # cut points, so matches start in one batch and end in a later one
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r[0], []).append(r)
    batches: list[list] = [[], [], []]
    for rs in by_key.values():
        cuts = sorted(rng.randint(0, len(rs)) for _ in range(2))
        for b, (lo, hi) in enumerate(zip([0, *cuts], [*cuts, len(rs)])):
            batches[b].extend(rs[lo:hi])
    # quantifier-final (emission is batch-greedy), and a pending prefix
    # A B* can outgrow the buffer cap
    pattern, max_buffer = "AB*C+", 3
    want = _stream_model(batches, pattern, max_buffer)

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    arrow_schema = pa.schema([("k", pa.string()), ("o", pa.int64()),
                              ("id", pa.int64()), ("x", pa.int64())])
    src = spark.readStream.schema(SCHEMA).parquet(src_dir)
    out = match_recognize_stream(
        src, ["k"], "id",
        [(s, F.expr(c)) for s, c in STREAM_DEFINES],
        pattern, max_buffer=max_buffer,
    )
    q = out.writeStream.format("memory").queryName("mr_model_stream").start()
    try:
        for b, batch in enumerate(batches):
            table = pa.Table.from_pylist(
                [dict(zip(arrow_schema.names, r)) for r in batch],
                schema=arrow_schema,
            )
            tmp = os.path.join(src_dir, f".b{b}.parquet")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(src_dir, f"b{b}.parquet"))
            q.processAllAvailable()
        got = spark.table("mr_model_stream").collect()
    finally:
        q.stop()
    assert _norm(got) == _norm(want)
