"""MATCH_RECOGNIZE (row pattern matching) as a Spark composition.

Reference: YQL's MATCH_RECOGNIZE (yql/essentials/sql/v1/sql_match_recognize.cpp,
exec mkql_match_recognize.cpp) — DEFINE row predicates as symbols, match a
regex-like PATTERN over the ordered row sequence per partition.

Spark lacks a native operator; SURVEY §7 flagged it as a hard part. This
implements the core subset as a composition of built-ins:

1. DEFINE    → each symbol is a Column predicate; rows encode to one char
               (first matching symbol wins, '.' when none match).
2. ORDER     → sort_array(collect_list(struct(order_keys..., char))) builds
               the per-partition symbol string in row order.
3. PATTERN   → a regular expression over symbol chars; matches counted /
               extracted with regexp_count / regexp_extract_all.

Supported: concatenation, alternation, quantifiers (* + ? {n,m}) — anything
the regex engine supports over the symbol alphabet. ``match_recognize``
returns per-key match counts/strings; ``match_recognize_measures`` adds
MEASURES over each match's row range and AFTER MATCH SKIP policies
(PAST LAST ROW / TO NEXT ROW / TO FIRST|LAST <symbol> —
sql_match_recognize.cpp skip modes, exec mkql_match_recognize.cpp).
Per-row navigation (PREV/NEXT inside DEFINE) comes from
``with_navigation`` pre-encoded lag/lead columns.

Scale: state per partition key is the encoded symbol string (1 byte/row) —
bounded by per-key sequence length, the same bound the reference's
streaming matcher carries. ``match_recognize`` is one groupBy shuffle;
``match_recognize_measures`` and ``match_recognize_rows`` run on
``map_reduce.run_reduce_batched`` (one keyed exchange, one sort, one
batched pandas pass), so millions of small keys cost one shuffle, not a
Python call per key. Each key's rows arrive whole, a NULL or NaN key
included, and a NULL partition is matched like any other, as in the
count form and the stream. Every Python form scans with ``_scan_matches``;
``_compile_pattern`` rejects a PATTERN that matches no rows, in all forms.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def encode_symbols(
    df: DataFrame,
    symbols: list[tuple[str, Column]],
    default: str = ".",
) -> Column:
    """Row → single-char symbol; first matching DEFINE predicate wins."""
    expr = F.lit(default)
    for ch, pred in reversed(symbols):
        if len(ch) != 1:
            raise ValueError(f"symbol must be one char, got {ch!r}")
        expr = F.when(pred, F.lit(ch)).otherwise(expr)
    return expr


def match_recognize(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    symbols: list[tuple[str, Column]],
    pattern: str,
) -> DataFrame:
    """Count + extract non-overlapping PATTERN matches per partition.

    Returns (partition_by..., n_matches, matches) where ``matches`` is the
    comma-joined matched symbol substrings in order — enough to measure
    match lengths and classifier sequences downstream."""
    _compile_pattern(pattern)
    sym = encode_symbols(df, symbols).alias("__sym")
    seq = (
        df.select(*partition_by, *order_by, sym)
        .groupBy(*partition_by)
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct("
                    + ", ".join(order_by)
                    + ", __sym))), x -> x.__sym)"
                ),
                "",
            ).alias("__seq")
        )
    )
    return seq.select(
        *partition_by,
        F.regexp_count("__seq", F.lit(pattern)).cast("long").alias("n_matches"),
        F.array_join(F.regexp_extract_all("__seq", F.lit(f"({pattern})"), 1), ",").alias(
            "matches"
        ),
    )


#: MEASURES aggregate kinds over a match's row range. ``first``/``last`` are
#: the row-pattern navigation functions (value at the first/last matched
#: row); the rest are plain aggregates over the matched rows.
_MEASURE_KINDS = ("first", "last", "min", "max", "sum", "count", "avg")

#: the plain aggregates as SQL computes them: NULLs skipped, and NULL (not
#: pandas' 0) for the sum of no non-NULL value
_AGGREGATES = {
    "min": pd.Series.min,
    "max": pd.Series.max,
    "sum": lambda v: v.sum(min_count=1),
    "avg": pd.Series.mean,
}


def _validate_after_match_skip(after_match_skip) -> None:
    """Reject malformed AFTER MATCH SKIP specs up front — a bad value
    reaching _scan_matches would be silently unpacked as (mode, sym) or
    raise a confusing unpack error mid-job."""
    valid_scalar = after_match_skip in ("past_last_row", "to_next_row")
    valid_to_sym = (
        isinstance(after_match_skip, tuple)
        and len(after_match_skip) == 2
        and after_match_skip[0] in ("to_first", "to_last")
        and isinstance(after_match_skip[1], str)
        and len(after_match_skip[1]) == 1
    )
    if not (valid_scalar or valid_to_sym):
        raise ValueError(f"unsupported AFTER MATCH SKIP {after_match_skip!r}")


def _compile_pattern(pattern: str) -> "re.Pattern[str]":
    """The PATTERN as a regex over symbol chars. A pattern that matches
    the empty row sequence (``a*``) is rejected: it matches zero rows
    everywhere, which no skip policy can advance past."""
    rx = re.compile(pattern)
    if rx.search("") is not None:
        raise ValueError("PATTERN must not match the empty row sequence")
    return rx


def _scan_matches(
    rx: "re.Pattern[str]", s: str, skip
) -> list[tuple[int, int]]:
    """Left-to-right match scan under an AFTER MATCH SKIP policy.

    - ``"past_last_row"``: resume after the match (non-overlapping) —
      the reference's default.
    - ``"to_next_row"``: resume at match start + 1 (overlapping matches).
    - ``("to_first", sym)`` / ``("to_last", sym)``: resume AT the row the
      first/last occurrence of ``sym`` mapped to inside the match (SQL's
      AFTER MATCH SKIP TO [FIRST|LAST] symbol). Per the standard, a skip
      that lands on the match's own first row cannot advance and is a
      runtime error, as is a symbol the match never mapped.
    """
    out: list[tuple[int, int]] = []
    pos = 0
    while pos <= len(s):
        m = rx.search(s, pos)
        if not m:
            break
        out.append((m.start(), m.end()))
        if skip == "to_next_row":
            pos = m.start() + 1
        elif skip == "past_last_row":
            pos = max(m.end(), m.start() + 1)
        else:
            mode, sym = skip
            body = s[m.start() : m.end()]
            idx = body.find(sym) if mode == "to_first" else body.rfind(sym)
            if idx < 0:
                raise ValueError(
                    f"AFTER MATCH SKIP TO {sym!r}: symbol not present in "
                    f"match {body!r}"
                )
            if idx == 0:
                raise ValueError(
                    f"AFTER MATCH SKIP TO {sym!r} does not advance past the "
                    f"match start (match {body!r}) — infinite loop"
                )
            pos = m.start() + idx
    return out


def _partition_matches(pdf: pd.DataFrame, partition_by: list[str], rx, skip):
    """(key, rows, symbol string, match spans) per partition key of a
    batch of whole, ordered partitions; a NULL key is a partition too."""
    for key, g in pdf.groupby(partition_by, sort=False, dropna=False):
        s = "".join(g["__sym"])
        yield (
            key if isinstance(key, tuple) else (key,), g, s,
            _scan_matches(rx, s, skip),
        )


def _per_partition(df, partition_by, order_by, cols, symbols, emit,
                   output_schema) -> DataFrame:
    """Run ``emit`` over each partition key's rows in ``order_by`` order,
    with their ``__sym`` column, on the sorted-key pass. The width is
    ``python_stage_width``: the pass is per-key Python, which AQE's byte
    coalescing misprices (None, a non-local source, leaves AQE sizing)."""
    from ytsaurus_spark.operators import python_stage_width
    from ytsaurus_spark.operators.map_reduce import run_reduce_batched

    arranged = df.select(
        *partition_by, *order_by, *cols, encode_symbols(df, symbols).alias("__sym")
    )
    return run_reduce_batched(
        arranged, partition_by, emit, output_schema,
        sort_by=[*partition_by, *order_by],
        num_partitions=python_stage_width(df),
    )


def match_recognize_measures(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    symbols: list[tuple[str, Column]],
    pattern: str,
    measures: dict[str, tuple[str, str | None]],
    output_schema: str,
    *,
    after_match_skip: str = "past_last_row",
) -> DataFrame:
    """MATCH_RECOGNIZE with MEASURES and AFTER MATCH SKIP.

    ``measures`` maps output column → (kind, source column) or
    (kind, source column, symbol); kinds are first/last/min/max/sum/
    count/avg. ``count`` with no source column counts rows (``count(*)``),
    with one its non-NULL values; the other aggregates skip NULLs, as in
    SQL. The 3-tuple form scopes the aggregate to the rows matched by that
    DEFINE symbol within the match — SQL-text ``LAST(A.ts)`` navigation
    (sql_match_recognize.cpp MEASURES grammar). Every match emits one row: (partition_by...,
    match_no, classifier, measures...) — ONE ROW PER MATCH semantics.
    ``output_schema`` is the DDL string for exactly those columns.

    Execution: symbols encode JVM-side; ``run_reduce_batched`` shuffles
    rows once on the partition key, sorts them by (key, order) and hands
    whole keys to a pandas pass, which regex-scans each key's symbol
    string under the skip policy and aggregates each match's row slice.
    """
    _validate_after_match_skip(after_match_skip)
    # normalize 2-tuples to (kind, src, sym=None)
    measures = {
        name: (m if len(m) == 3 else (*m, None))
        for name, m in measures.items()
    }
    for name, (kind, _src, _sym) in measures.items():
        if kind not in _MEASURE_KINDS:
            raise ValueError(f"unsupported measure {kind!r} for {name}")
    rx = _compile_pattern(pattern)
    need_cols = sorted(
        {src for (_k, src, _s) in measures.values() if src is not None}
        - set(partition_by)
        - set(order_by)
    )
    mlist = list(measures.items())
    cols = [*partition_by, "match_no", "classifier", *measures]

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for key, g, s, spans in _partition_matches(
            pdf, partition_by, rx, after_match_skip
        ):
            for match_no, (lo, hi) in enumerate(spans, 1):
                sl = g.iloc[lo:hi]
                cls = s[lo:hi]
                rec = dict(zip(partition_by, key))
                rec["match_no"] = match_no
                rec["classifier"] = cls
                for name, (kind, src, sym) in mlist:
                    sel = sl
                    if sym is not None:
                        # scope to the rows this DEFINE symbol matched
                        sel = sl[[c == sym for c in cls]]
                    if kind == "count":
                        rec[name] = len(sel) if src is None else sel[src].count()
                    elif len(sel) == 0:
                        rec[name] = None
                    elif kind == "first":
                        rec[name] = sel[src].iloc[0]
                    elif kind == "last":
                        rec[name] = sel[src].iloc[-1]
                    else:
                        rec[name] = _AGGREGATES[kind](sel[src])
                rows.append(rec)
        return pd.DataFrame(rows, columns=cols)

    return _per_partition(
        df, partition_by, order_by, need_cols, symbols, emit, output_schema
    )


def match_recognize_rows(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    symbols: list[tuple[str, Column]],
    pattern: str,
    keep_cols: list[str],
    output_schema: str,
    *,
    after_match_skip: str = "past_last_row",
) -> DataFrame:
    """ALL ROWS PER MATCH output mode: every matched input row comes back,
    annotated with ``match_no`` (1-based per partition key), ``classifier``
    (the symbol the row mapped to) and ``row_in_match`` (1-based offset) —
    the row-expansion form of sql_match_recognize.cpp's output modes,
    complementing ``match_recognize_measures``'s ONE ROW PER MATCH.

    ``output_schema`` must be the DDL for
    (partition_by..., keep_cols..., match_no, classifier, row_in_match).
    Under overlapping skip policies a source row can appear in several
    matches (once per match), exactly as the standard specifies.
    Same execution as the measures form (``run_reduce_batched``).
    """
    _validate_after_match_skip(after_match_skip)
    rx = _compile_pattern(pattern)
    out_keep = [*partition_by, *[c for c in keep_cols if c not in partition_by]]
    cols = [*out_keep, "match_no", "classifier", "row_in_match"]

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        for _key, g, s, spans in _partition_matches(
            pdf, partition_by, rx, after_match_skip
        ):
            # one gather per partition key, not per match: overlapping
            # skip policies gather a row once per match it appears in
            idx: list[int] = []
            mnos: list[int] = []
            rims: list[int] = []
            cls: list[str] = []
            for match_no, (lo, hi) in enumerate(spans, 1):
                idx.extend(range(lo, hi))
                mnos.extend([match_no] * (hi - lo))
                rims.extend(range(1, hi - lo + 1))
                cls.extend(s[lo:hi])
            if not idx:
                continue
            sl = g.iloc[idx][out_keep].copy()
            sl["match_no"] = mnos
            sl["classifier"] = cls
            sl["row_in_match"] = rims
            frames.append(sl)
        if not frames:
            return pd.DataFrame(columns=cols)
        return pd.concat(frames, ignore_index=True)[cols]

    need = [c for c in keep_cols if c not in partition_by and c not in order_by]
    return _per_partition(
        df, partition_by, order_by, need, symbols, emit, output_schema
    )


def match_recognize_stream(
    events,
    partition_by: list[str],
    order_col: str,
    symbols: list[tuple[str, Column]],
    pattern: str,
    max_buffer: int = 10_000,
    key_buckets: int | None = None,
):
    """Streaming MATCH_RECOGNIZE: pattern matching over an unbounded stream.

    The reference executes MATCH_RECOGNIZE over streams with a per-key
    state machine (mkql_match_recognize.cpp streaming mode); Spark's analog
    is ``applyInPandasWithState``. Per key, the state is the tail of the
    encoded symbol string that no completed match has consumed — 1 byte per
    pending row, capped at ``max_buffer`` (the reference bounds its pending
    window the same way). Each micro-batch appends its rows' symbols in
    ``order_col`` order, emits every completed non-overlapping match
    (AFTER MATCH SKIP PAST LAST ROW), and carries the unmatched suffix.

    Emission is batch-greedy: a quantifier-final pattern (e.g. ``ab*``)
    emits as soon as the regex completes within the buffered sequence, so
    rows of one logical match arriving in later batches start a new match —
    streaming row-pattern engines share this boundary semantics (matches
    conclude when the pattern cannot extend with known data). Within-key
    ordering across batches relies on source order (use a queue/log source
    that preserves per-key order, as the reference's ordered queues do).

    Returns a streaming DataFrame (partition_by..., match_seq, match_n)
    in append mode: one row per completed match, ``match_n`` numbering
    matches per key from 1 within each batch-emission.

    Encoding happens JVM-side before grouping; Python sees only
    (key, order, one char) rows — Arrow-batched, O(rows).

    State grouping: ``applyInPandasWithState`` pays a per-GROUP Python
    round trip (group framing + state ser/de, ~10 ms each measured), so
    grouping directly by the partition key makes millions of small keys
    cost millions of round trips. Instead the stream groups by a hash
    BUCKET of the key (``key_buckets``, default 4× the session's shuffle
    width — cluster-derived, never a local constant) and the bucket's
    state row holds a dict of per-key buffers. Each key inside a bucket
    is processed with exactly the per-key recurrence above — same
    ordering, same emission, same cap — only the state co-location
    changes. Per-bucket state is (keys/buckets)·max_buffer bytes, which
    stays bounded because buckets scale with the cluster.
    """
    import pickle

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    spark = events.sparkSession
    if key_buckets is None:
        key_buckets = int(spark.conf.get("spark.sql.shuffle.partitions")) * 4

    sym = encode_symbols(events, symbols).alias("__sym")
    enc = events.select(
        *partition_by, F.col(order_col).alias("__ord"), sym
    ).withColumn(
        "__bucket", F.pmod(F.xxhash64(*partition_by), F.lit(key_buckets))
    )
    key_fields = [events.schema[c] for c in partition_by]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("match_seq", T.StringType()),
            T.StructField("match_n", T.IntegerType()),
        ]
    )
    state_schema = T.StructType([T.StructField("bufs", T.BinaryType())])
    rx = _compile_pattern(pattern)
    out_cols = [*partition_by, "match_seq", "match_n"]

    def _norm(v):
        # stable dict key across batches: pandas renders SQL NULL as
        # NaN/NaT, and NaN != NaN would fork the state entry per batch
        return None if pd.isna(v) else v

    def fn(key, pdfs, state):
        bufs = pickle.loads(state.get[0]) if state.exists else {}
        chunks = list(pdfs)
        rows = pd.concat(chunks, ignore_index=True) if chunks else None
        keys_out: list[tuple] = []
        seqs: list[str] = []
        ns: list[int] = []
        if rows is not None and len(rows):
            order = rows["__ord"].to_numpy().argsort(kind="stable")
            rows = rows.iloc[order]
            # groupby keeps each key's rows in __ord order; only __sym is
            # sliced per key and ONE frame is built per bucket call (a
            # frame per key dominated the state function: 0.46 → 0.06 s
            # per 100k-row batch)
            for ukey, syms in rows.groupby(
                partition_by, sort=False, dropna=False
            )["__sym"]:
                ukey = ukey if isinstance(ukey, tuple) else (ukey,)
                ukey = tuple(_norm(v) for v in ukey)
                buf = bufs.get(ukey, "") + "".join(syms)
                spans = _scan_matches(rx, buf, "past_last_row")
                matches = [buf[lo:hi] for lo, hi in spans]
                bufs[ukey] = buf[spans[-1][1] if spans else 0:][-max_buffer:]
                if matches:
                    keys_out.extend([ukey] * len(matches))
                    seqs.extend(matches)
                    ns.extend(range(1, len(matches) + 1))
        state.update((pickle.dumps(bufs),))
        if seqs:
            out = pd.DataFrame(
                dict(zip(partition_by, map(list, zip(*keys_out))))
            )
            out["match_seq"] = seqs
            out["match_n"] = ns
            yield out[out_cols]

    return enc.groupBy("__bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def with_navigation(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    cols: list[str],
    depth: int = 1,
) -> DataFrame:
    """PREV/NEXT navigation columns for DEFINE predicates.

    The reference's row-pattern DEFINE clauses may reference PREV(col) /
    NEXT(col) (sql_match_recognize.cpp navigation functions). Spark's
    equivalent is lag/lead over the match ordering — this helper
    materializes ``__prev_<col>[_k]`` / ``__next_<col>[_k]`` (k up to
    ``depth``; the _1 suffix is omitted) so symbol predicates passed to
    :func:`encode_symbols` / :func:`match_recognize` can use row-relative
    conditions, e.g.::

        with_navigation(df, ["user_id"], ["ts"], ["value"])
        symbols=[("r", F.col("value") > F.col("__prev_value"))]  # rising

    One window shuffle on (partition_by, order_by) — the same shuffle the
    match aggregation needs, so Catalyst reuses the partitioning.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(*partition_by).orderBy(*order_by)
    out = df
    for c in cols:
        for k in range(1, depth + 1):
            suffix = f"_{k}" if k > 1 else ""
            out = out.withColumn(f"__prev_{c}{suffix}", F.lag(c, k).over(w))
            out = out.withColumn(f"__next_{c}{suffix}", F.lead(c, k).over(w))
    return out
