"""Query Tracker lifecycle tests (query_tracker_client.h:169-198): async
submission, state machine, result persistence, abort via job-group
cancellation, draft queries, and list filters."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from ytsaurus_spark.query_tracker import (
    QueryNotFoundError,
    QueryStateMismatchError,
    QueryTracker,
)


@pytest.fixture()
def qt(spark, tmp_path):
    return QueryTracker(spark, str(tmp_path / "qt"))


def test_sql_query_lifecycle(spark, qt):
    spark.range(100).createOrReplaceTempView("qt_nums")
    qid = qt.start_query(
        "sql", "SELECT id % 3 AS g, count(*) AS n FROM qt_nums GROUP BY 1"
    )
    rec = qt.wait(qid)
    assert rec["state"] == "completed"
    assert rec["finish_time"] is not None and rec["error"] is None

    meta = qt.get_query_result(qid)
    assert meta["row_count"] == 3
    assert [f["name"] for f in meta["schema"]["fields"]] == ["g", "n"]

    rows = {r["g"]: r["n"] for r in qt.read_query_result(qid).collect()}
    assert rows == {0: 34, 1: 33, 2: 33}


def test_ql_engine_and_mock(spark, qt, sf_dir):
    from ytsaurus_spark.catalog import load_tables

    load_tables(spark, sf_dir).register_all()
    qid = qt.start_query(
        "ql", "n_name, n_regionkey FROM [//home/nation] WHERE n_regionkey = 1"
    )
    assert qt.wait(qid)["state"] == "completed"
    got = qt.read_query_result(qid)
    assert got.columns == ["n_name", "n_regionkey"]
    assert got.count() == 5

    mid = qt.start_query("mock", "ping")
    qt.wait(mid)
    assert qt.read_query_result(mid).first()["echo"] == "ping"


def test_failed_query_records_error(spark, qt):
    qid = qt.start_query("sql", "SELECT * FROM no_such_table_anywhere")
    rec = qt.wait(qid)
    assert rec["state"] == "failed"
    assert "no_such_table_anywhere" in rec["error"]
    with pytest.raises(QueryStateMismatchError):
        qt.get_query_result(qid)


def test_draft_and_abort_draft(spark, qt):
    qid = qt.start_query("sql", "SELECT 1", draft=True)
    assert qt.get_query(qid)["state"] == "draft"
    qt.abort_query(qid)
    assert qt.get_query(qid)["state"] == "aborted"


def test_abort_running_query(spark, qt):
    # A deliberately slow query: per-row Python sleep across 32 partitions.
    slow = F.udf(lambda x: (time.sleep(2), x)[1], "long")
    spark.range(64).repartition(32).select(
        slow(F.col("id")).alias("v")
    ).createOrReplaceTempView("qt_slow")
    qid = qt.start_query("sql", "SELECT sum(v) FROM qt_slow")
    # let it enter the running state, then cancel mid-flight
    deadline = time.time() + 10
    while qt.get_query(qid)["state"] == "pending" and time.time() < deadline:
        time.sleep(0.05)
    qt.abort_query(qid)
    rec = qt.get_query(qid)
    assert rec["state"] == "aborted"
    with pytest.raises(QueryStateMismatchError):
        qt.read_query_result(qid)
    # a terminal query cannot be aborted again
    with pytest.raises(QueryStateMismatchError):
        qt.abort_query(qid)


def test_list_queries_filters(spark, qt):
    spark.range(5).createOrReplaceTempView("qt_five")
    a = qt.start_query("sql", "SELECT count(*) AS n FROM qt_five")
    b = qt.start_query("sql", "SELECT max(id) AS m FROM qt_five")
    d = qt.start_query("mock", "draft body", draft=True)
    qt.wait(a), qt.wait(b)

    assert {r["id"] for r in qt.list_queries()} == {a, b, d}
    assert [r["id"] for r in qt.list_queries(state="draft")] == [d]
    assert {r["id"] for r in qt.list_queries(engine="sql")} == {a, b}
    assert [r["id"] for r in qt.list_queries(substr="max(id)")] == [b]
    assert len(qt.list_queries(limit=1)) == 1

    qt.alter_query(a, {"owner": "tests"})
    assert qt.get_query(a)["annotations"] == {"owner": "tests"}
    with pytest.raises(QueryNotFoundError):
        qt.get_query("nope")


def test_yql_engine_lifecycle(spark, qt, sf_dir):
    from ytsaurus_spark.catalog import load_tables

    load_tables(spark, sf_dir)
    qid = qt.start_query(
        "yql",
        "$n = 2;"
        "select c_custkey from `//home/tpch/customer`"
        " order by c_custkey limit $n;",
    )
    rec = qt.wait(qid)
    assert rec["state"] == "completed"
    rows = qt.read_query_result(qid).collect()
    assert [r.c_custkey for r in rows] == [0, 1]


def test_chyt_engine_runs_the_whole_resolve_chain(spark, qt):
    # the tracker's CHYT engine settles toTypeName and boolean arithmetic
    # the way chyt_query does
    spark.createDataFrame([(1, True), (None, False)], "a bigint, b boolean") \
        .createOrReplaceTempView("qt_chyt_v")
    for q, want in (
        ("select a, toTypeName(a) as t from qt_chyt_v",
         {(1, "Nullable(Int64)"), (None, "Nullable(Int64)")}),
        ("select a, 2 * b as x from qt_chyt_v", {(1, 2), (None, 0)}),
    ):
        rec = qt.wait(qt.start_query("chyt", q))
        assert rec["state"] == "completed", rec["error"]
        assert {tuple(r) for r in qt.read_query_result(rec["id"]).collect()} == want


def test_yql_explain(spark, sf_dir):
    from ytsaurus_spark.yql import yql_explain

    plan = yql_explain(
        spark,
        "$lim = 3; select doc_id from `//x/documents`"
        " where lang = 'en' order by doc_id limit $lim;",
        sf_dir=sf_dir,
    )
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort
    assert "PushedFilters" in plan  # lang predicate reaches the scan
