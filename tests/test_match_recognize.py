"""MATCH_RECOGNIZE engine semantics on micro-fixtures: MEASURES over the
matched row range and AFTER MATCH SKIP policies (the reference's
sql_match_recognize.cpp subset)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ytsaurus_spark.operators.match_recognize import (
    match_recognize,
    match_recognize_measures,
)

def SYMBOLS():
    return [
        ("c", F.col("t") == "click"),
        ("v", F.col("t") == "view"),
        ("p", F.col("t") == "purchase"),
    ]


@pytest.fixture()
def seq_df(spark):
    # user 1: c v v p  c p      -> two cv*p matches
    # user 2: v v v             -> view run of 3, no funnel
    rows = [
        (1, 1, "click", 10.0),
        (1, 2, "view", 1.0),
        (1, 3, "view", 2.0),
        (1, 4, "purchase", 100.0),
        (1, 5, "click", 20.0),
        (1, 6, "purchase", 200.0),
        (2, 1, "view", 1.0),
        (2, 2, "view", 1.0),
        (2, 3, "view", 1.0),
    ]
    return spark.createDataFrame(rows, "uid bigint, seq bigint, t string, v double")


def _measures(df, pattern, skip="past_last_row"):
    return match_recognize_measures(
        df,
        partition_by=["uid"],
        order_by=["seq"],
        symbols=SYMBOLS(),
        pattern=pattern,
        measures={
            "first_seq": ("first", "seq"),
            "last_seq": ("last", "seq"),
            "n_rows": ("count", None),
            "sum_v": ("sum", "v"),
            "max_v": ("max", "v"),
        },
        output_schema=(
            "uid bigint, match_no bigint, classifier string, "
            "first_seq bigint, last_seq bigint, n_rows bigint, "
            "sum_v double, max_v double"
        ),
        after_match_skip=skip,
    )


def test_measures_per_match(spark, seq_df):
    got = {
        (r.uid, r.match_no): (r.classifier, r.first_seq, r.last_seq, r.n_rows, r.sum_v, r.max_v)
        for r in _measures(seq_df, "cv*p").collect()
    }
    assert got == {
        (1, 1): ("cvvp", 1, 4, 4, 113.0, 100.0),
        (1, 2): ("cp", 5, 6, 2, 220.0, 200.0),
    }


def test_skip_policies_differ_on_runs(spark, seq_df):
    # 'vv' over user 2's run of 3 views: overlapping scan -> 2 matches at
    # seq 1-2 and 2-3; non-overlapping -> 1 match.
    nxt = _measures(seq_df, "vv", skip="to_next_row").filter("uid = 2").collect()
    past = _measures(seq_df, "vv", skip="past_last_row").filter("uid = 2").collect()
    assert [(r.first_seq, r.last_seq) for r in sorted(nxt, key=lambda r: r.match_no)] == [
        (1, 2),
        (2, 3),
    ]
    assert [(r.first_seq, r.last_seq) for r in past] == [(1, 2)]


def test_measures_agree_with_core_counts(spark, seq_df):
    core = {
        r.uid: r.n_matches
        for r in match_recognize(
            seq_df, ["uid"], ["seq"], SYMBOLS(), "cv*p"
        ).collect()
    }
    meas = (
        _measures(seq_df, "cv*p")
        .groupBy("uid")
        .count()
        .collect()
    )
    assert {r.uid: r["count"] for r in meas} == {
        u: n for u, n in core.items() if n > 0
    }


def test_rejects_bad_inputs(spark, seq_df):
    with pytest.raises(ValueError, match="empty"):
        _measures(seq_df, "v*")
    with pytest.raises(ValueError, match="SKIP"):
        _measures(seq_df, "vv", skip="to_last_symbol")
    with pytest.raises(ValueError, match="measure"):
        match_recognize_measures(
            seq_df, ["uid"], ["seq"], SYMBOLS(), "vv",
            measures={"x": ("median", "v")}, output_schema="uid bigint",
        )


def test_skip_to_symbol_scan():
    import re

    from ytsaurus_spark.operators.match_recognize import _scan_matches

    rx = re.compile("cv+")
    # c at 0, views 1-3; to_last v resumes AT index 3 -> no second c-match
    assert _scan_matches(rx, "cvvvp", ("to_last", "v")) == [(0, 4)]
    # two anchors: cvv starting at 0, resume at 2 (last v), next c at 3
    assert _scan_matches(rx, "cvvcv", ("to_last", "v")) == [(0, 3), (3, 5)]
    # to_first v of "cv+" resumes at the first v (index 1 of match)
    assert _scan_matches(rx, "cvvcv", ("to_first", "v")) == [(0, 3), (3, 5)]
    # vv overlapping via to_last
    assert _scan_matches(re.compile("vv"), "vvvv", ("to_last", "v")) == [
        (0, 2), (1, 3), (2, 4),
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not advance"):
        _scan_matches(re.compile("vv"), "vvv", ("to_first", "v"))
    with _pytest.raises(ValueError, match="not present"):
        _scan_matches(re.compile("c"), "cv", ("to_last", "v"))


def test_skip_to_symbol_validation(spark):
    from ytsaurus_spark.operators.match_recognize import match_recognize_measures

    df = spark.createDataFrame([(1, 1, "a")], "k bigint, o bigint, t string")
    with pytest.raises(ValueError, match="unsupported AFTER MATCH SKIP"):
        match_recognize_measures(
            df, ["k"], ["o"], [("a", F.col("t") == "a")], "a",
            {"n": ("count", None)}, "k bigint, match_no bigint, classifier string, n bigint",
            after_match_skip=("to_somewhere", "a"),
        )


def test_all_rows_per_match(spark):
    from ytsaurus_spark.operators.match_recognize import match_recognize_rows

    df = spark.createDataFrame(
        [(1, 1, "c"), (1, 2, "p"), (1, 3, "c"), (1, 4, "c"), (1, 5, "p"),
         (2, 1, "p"), (2, 2, "c")],
        "k bigint, o bigint, t string",
    )
    out = match_recognize_rows(
        df, ["k"], ["o"],
        [("c", F.col("t") == "c"), ("p", F.col("t") == "p")],
        "cp", keep_cols=["o"],
        output_schema="k bigint, o bigint, match_no bigint, classifier string, row_in_match bigint",
    ).collect()
    got = {(r.k, r.o): (r.match_no, r.classifier, r.row_in_match) for r in out}
    assert got[(1, 1)] == (1, "c", 1)
    assert got[(1, 2)] == (1, "p", 2)
    assert got[(1, 4)] == (2, "c", 1)
    assert got[(1, 5)] == (2, "p", 2)
    assert (1, 3) not in got and len(out) == 4  # key 2 has no match


@pytest.fixture()
def null_part_df(spark):
    # the same "ab" sequence in the NULL partition and in partition 'u'
    return spark.createDataFrame(
        [(None, 1, "a"), (None, 2, "b"), ("u", 1, "a"), ("u", 2, "b")],
        "u string, o bigint, t string",
    )


def AB():
    return [("a", F.col("t") == "a"), ("b", F.col("t") == "b")]


def test_measures_keep_the_null_partition(spark, null_part_df):
    out = match_recognize_measures(
        null_part_df, ["u"], ["o"], AB(), "ab",
        {"n": ("count", None), "lo": ("first", "o")},
        "u string, match_no bigint, classifier string, n bigint, lo bigint",
    )
    assert sorted(map(tuple, out.collect()), key=repr) == [
        ("u", 1, "ab", 2, 1), (None, 1, "ab", 2, 1),
    ]


def test_all_rows_keep_the_null_partition(spark, null_part_df):
    from ytsaurus_spark.operators.match_recognize import match_recognize_rows

    out = match_recognize_rows(
        null_part_df, ["u"], ["o"], AB(), "ab", ["o"],
        "u string, o bigint, match_no bigint, classifier string, "
        "row_in_match bigint",
    )
    assert sorted(map(tuple, out.collect()), key=repr) == [
        ("u", 1, 1, "a", 1), ("u", 2, 1, "b", 2),
        (None, 1, 1, "a", 1), (None, 2, 1, "b", 2),
    ]


def test_yql_text_keeps_the_null_partition(spark, null_part_df):
    from ytsaurus_spark.yql.match_recognize_text import expand_match_recognize

    s2 = spark.newSession()
    s2.createDataFrame(null_part_df.rdd, null_part_df.schema) \
        .createOrReplaceTempView("mr_null_src")
    for mode, cols in (("ONE ROW PER MATCH", "n"),
                       ("ALL ROWS PER MATCH", "row_in_match")):
        text = expand_match_recognize(s2, f"""
            select u, {cols} from mr_null_src MATCH_RECOGNIZE (
                PARTITION BY u ORDER BY o
                MEASURES count(*) AS n
                {mode}
                PATTERN (A B)
                DEFINE A AS t = 'a', B AS t = 'b'
            )
        """)
        got = {r.u for r in s2.sql(text).collect()}
        assert got == {None, "u"}, (mode, got)


def test_yql_execute_runs_match_recognize(spark, sf_dir):
    # both YQL entry points share one pre-translation expansion
    from ytsaurus_spark.queries.yql_q import _MR_TEXT
    from ytsaurus_spark.yql import yql_execute, yql_select

    want = yql_select(spark, _MR_TEXT, sf_dir=sf_dir, star=False).collect()
    got = yql_execute(spark, _MR_TEXT, sf_dir=sf_dir).collect()
    assert want and sorted(map(tuple, got), key=repr) == sorted(map(tuple, want), key=repr)


def test_stream_rejects_an_empty_matching_pattern(spark):
    from ytsaurus_spark.operators.match_recognize import match_recognize_stream

    src = spark.readStream.format("rate").load().select(
        (F.col("value") % 3).alias("k"), F.col("value").alias("o")
    )
    with pytest.raises(ValueError, match="empty"):
        match_recognize_stream(
            src, ["k"], "o", [("a", F.col("o") % 2 == 0)], "a*"
        )


def test_measure_aggregates_follow_sql(spark):
    """avg runs (it raised AttributeError: pandas has no Series.avg), a
    sum over only NULLs is NULL (pandas gives 0), and count(col) counts
    non-NULL values while count(*) counts rows."""
    df = spark.createDataFrame(
        [(1, 1, "a", None), (1, 2, "b", None), (1, 3, "b", 4)],
        "k bigint, o bigint, t string, v bigint",
    )
    out = match_recognize_measures(
        df, ["k"], ["o"], AB(), "ab+",
        {
            "av": ("avg", "v"),
            "sa": ("sum", "v", "a"),
            "sb": ("sum", "v", "b"),
            "nv": ("count", "v"),
            "n": ("count", None),
        },
        "k bigint, match_no bigint, classifier string, av double, "
        "sa bigint, sb bigint, nv bigint, n bigint",
    ).collect()
    assert [tuple(r) for r in out] == [(1, 1, "abb", 4.0, None, 4, 1, 3)]
