"""MERGE INTO semantics (operators/merge.py): SQL:2003 14.9 multi-clause
merge — clause order, conditional actions, BY SOURCE clauses, cardinality
violation, schema preservation, and the classify audit."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import rows_set
from ytsaurus_spark.operators.merge import (
    MergeCardinalityError,
    delete,
    insert,
    merge_classify,
    merge_into,
    update,
)


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", -5.0), (4, "d", 40.0)],
        "k bigint, name string, bal double",
    )


@pytest.fixture()
def source(spark):
    # k=1 matched (big), k=2 matched (small), k=5 unmatched, k=6 unmatched
    return spark.createDataFrame(
        [(1, 100.0), (2, 1.0), (5, 50.0), (6, 0.5)],
        "k bigint, amt double",
    )


def test_update_insert_delete_clause_order(target, source):
    out = merge_into(
        target,
        source,
        on=["k"],
        matched=[
            update({"bal": "t.bal + s.amt"}, condition="s.amt >= 10"),
            delete(),  # matched, small amt -> drop
        ],
        not_matched=[
            insert({"k": "s.k", "name": F.lit("new"), "bal": "s.amt"},
                   condition="s.amt >= 1"),
        ],
        not_matched_by_source=[
            delete(condition="t.bal < 0"),
        ],
    )
    assert rows_set(out) == {
        (1, "a", 110.0),   # matched, amt>=10 -> update (first clause wins)
        (5, "new", 50.0),  # unmatched source, amt>=1 -> insert
        (4, "d", 40.0),    # unmatched target, bal>=0 -> kept
        # k=2 deleted (matched, amt<10); k=3 deleted (by-source, bal<0)
        # k=6 dropped (insert condition false)
    }
    # schema preserved exactly
    assert out.columns == target.columns
    assert [f.dataType for f in out.schema.fields] == [
        f.dataType for f in target.schema.fields
    ]


def test_update_all_and_insert_star(spark):
    t = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, bal double")
    s = spark.createDataFrame([(2, 99.0), (3, 30.0)], "k bigint, bal double")
    out = merge_into(t, s, on=["k"], matched=[update()], not_matched=[insert()])
    assert rows_set(out) == {(1, 10.0), (2, 99.0), (3, 30.0)}


def test_insert_defaults_missing_to_null(spark):
    t = spark.createDataFrame([(1, "x", 1.0)], "k bigint, name string, bal double")
    s = spark.createDataFrame([(2, 5.0)], "k bigint, bal double")
    out = merge_into(t, s, on=["k"], not_matched=[insert()])
    assert rows_set(out) == {(1, "x", 1.0), (2, None, 5.0)}


def test_keep_when_no_clause_fires(target, source):
    out = merge_into(
        target, source, on=["k"],
        matched=[update({"bal": "s.amt"}, condition="s.amt > 1000")],
    )
    # no clause fires anywhere: matched rows kept, unmatched source dropped
    assert rows_set(out) == rows_set(target)


def test_by_source_update(spark):
    t = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, bal double")
    s = spark.createDataFrame([(1, 9.0)], "k bigint, amt double")
    out = merge_into(
        t, s, on=["k"],
        not_matched_by_source=[update({"bal": "t.bal * -1.0"})],
    )
    assert rows_set(out) == {(1, 1.0), (2, -2.0)}


def test_cardinality_violation_raises(spark, target):
    dup = spark.createDataFrame(
        [(1, 5.0), (1, 6.0)], "k bigint, amt double"
    )
    with pytest.raises(MergeCardinalityError):
        merge_into(target, dup, on=["k"], matched=[update({"bal": "s.amt"})])
    # pre-deduped contract: check disabled -> one output row per match pair
    out = merge_into(
        target, dup, on=["k"], matched=[update({"bal": "s.amt"})],
        check_cardinality=False,
    )
    assert out.filter("k = 1").count() == 2


def test_non_equi_on_condition(spark):
    t = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, bal double")
    s = spark.createDataFrame([(1, 1.0)], "sk bigint, amt double")
    out = merge_into(
        t, s, on="t.k = s.sk",
        matched=[update({"bal": "t.bal + s.amt"})],
    )
    assert rows_set(out) == {(1, 11.0), (2, 20.0)}


def test_clause_validation():
    with pytest.raises(ValueError, match="at least one WHEN"):
        merge_into(None, None, on=["k"])
    with pytest.raises(ValueError, match="WHEN MATCHED supports"):
        merge_into(None, None, on=["k"], matched=[insert()])
    with pytest.raises(ValueError, match="WHEN NOT MATCHED supports"):
        merge_into(None, None, on=["k"], not_matched=[delete()])
    with pytest.raises(ValueError, match="LAST clause"):
        merge_into(
            None, None, on=["k"],
            matched=[update({"x": "1"}), delete()],  # unconditional first
        )


def test_merge_classify_counts(target, source):
    stats = merge_classify(
        target, source, on=["k"],
        matched=[
            update({"bal": "t.bal + s.amt"}, condition="s.amt >= 10"),
            delete(),
        ],
        not_matched=[insert(condition="s.amt >= 1")],
        not_matched_by_source=[delete(condition="t.bal < 0")],
    )
    got = {r["action"]: r["n_rows"] for r in stats.collect()}
    assert got == {"update": 1, "delete": 2, "insert": 1, "keep": 1, "drop": 1}


def test_single_join_plan(target, source):
    out = merge_into(
        target, source, on=["k"],
        matched=[update()], not_matched=[insert()],
        check_cardinality=False,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") == 1  # one full-outer join, nothing else


def test_keyed_table_merge_rows(spark):
    from ytsaurus_spark.operators.keyed_tables import KeyedTable

    t = KeyedTable(
        df=spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, v double"),
        key_cols=["k"],
    )
    s = spark.createDataFrame([(2, 2.0), (3, 3.0)], "k bigint, v double")
    t2 = t.merge_rows(s, matched=[update()], not_matched=[insert()])
    assert rows_set(t2.df) == {(1, 10.0), (2, 2.0), (3, 3.0)}
    # history advanced: prior snapshot still readable
    assert rows_set(t2.read(0)) == {(1, 10.0), (2, 20.0)}


def test_tx_table_merge_rows(spark, tmp_path):
    from ytsaurus_spark.sources.tx_table import LogTxTable

    t = LogTxTable(spark, str(tmp_path / "m"), key_cols=["k"])
    t.init(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, v double"))
    s = spark.createDataFrame([(1, -1.0), (3, 3.0)], "k bigint, v double")
    v = t.merge_rows(
        s,
        matched=[delete(condition="s.v < 0")],
        not_matched=[insert()],
    )
    assert rows_set(t.read(v)) == {(2, 20.0), (3, 3.0)}
    # durable time travel: the pre-merge version is intact
    assert rows_set(t.read(v - 1)) == {(1, 10.0), (2, 20.0)}


def test_null_condition_skips_to_next_clause(spark):
    # SQL:2003 14.9 GR6: a clause whose condition is not True (including
    # NULL) is SKIPPED and the NEXT clause considered — a NULL condition
    # must not poison the rest of the chain via prior & ~NULL = NULL
    tgt = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k bigint, bal double"
    )
    # s.flag is NULL for k=1: first clause's condition evaluates NULL
    src = spark.createDataFrame(
        [(1, None, 5.0), (2, True, 7.0)],
        "k bigint, flag boolean, amt double",
    )
    out = merge_into(
        tgt,
        src,
        on=["k"],
        matched=[
            update({"bal": "t.bal + 100"}, condition="s.flag"),
            update({"bal": "t.bal + s.amt"}),  # must fire for k=1
        ],
    )
    assert rows_set(out) == {(1, 15.0), (2, 120.0)}
    # classify agrees: both rows land on an update arm, none keep
    audit = {
        r.action: r.n_rows
        for r in merge_classify(
            tgt, src, on=["k"],
            matched=[
                update({"bal": "t.bal + 100"}, condition="s.flag"),
                update({"bal": "t.bal + s.amt"}),
            ],
        ).collect()
    }
    assert audit.get("keep") is None or audit["keep"] == 0
