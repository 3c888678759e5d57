"""``operators.iterate``: the one driver-side loop. A round that reads
its state more than once is cut (``localCheckpoint``) and the previous
cut released; a round that reads it once stays lazy; ``until`` stops at
the first converged round and raises at the cap."""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from ytsaurus_spark.operators import iterate
from ytsaurus_spark.queries import all_queries


def _persistent_rdds(spark) -> set:
    """Ids of the persisted RDDs (compared as sets: Spark's ContextCleaner
    may drop unrelated ones at any time)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _is_cut(df) -> bool:
    return df._jdf.logicalPlan().getClass().getSimpleName() == "LogicalRDD"


def _halve(state):
    return state.select("k", F.floor(F.col("v") / 2).cast("long").alias("v"))


def _unchanged(new, old):
    return new.join(old.withColumnRenamed("v", "old"), "k").filter(
        F.col("v") != F.col("old")
    ).count() == 0


def _counted(step):
    calls = []

    def wrapped(state):
        calls.append(1)
        return step(state)

    return wrapped, calls


def test_until_stops_at_the_first_unchanged_round(spark):
    start = spark.createDataFrame([(0, 8), (1, 3)], "k long, v long")
    step, calls = _counted(_halve)
    out = iterate(start, step, 10, until=_unchanged)
    # 8 -> 4 -> 2 -> 1 -> 0 -> 0: the fifth round changes nothing
    assert len(calls) == 5
    assert sorted(tuple(r) for r in out.collect()) == [(0, 0), (1, 0)]


def test_until_raises_at_the_cap(spark):
    start = spark.createDataFrame([(0, 8)], "k long, v long")
    step, calls = _counted(_halve)
    with pytest.raises(RuntimeError, match="no convergence within 3 rounds"):
        iterate(start, step, 3, until=_unchanged)
    assert len(calls) == 3


def test_a_step_returning_its_input_ends_the_loop(spark):
    start = spark.createDataFrame([(0, 1)], "k long, v long")
    step, calls = _counted(lambda s: s)
    assert iterate(start, step, 5) is start
    assert len(calls) == 1


def test_two_read_step_is_cut_and_one_read_step_is_not(spark):
    start = spark.createDataFrame([(i, i * 3) for i in range(6)], "k long, v long")

    def two_reads(s):
        return s.union(_halve(s)).groupBy("k").agg(F.min("v").alias("v"))

    cut = iterate(start, two_reads, 3)
    lazy = iterate(start, _halve, 3)
    assert _is_cut(cut)
    assert not _is_cut(lazy)
    want = sorted((i, (i * 3) // 8) for i in range(6))
    assert sorted(tuple(r) for r in cut.collect()) == want
    assert sorted(tuple(r) for r in lazy.collect()) == want


def test_each_new_cut_releases_the_previous_one(spark):
    start = spark.createDataFrame([(i, i) for i in range(20)], "k long, v long")

    def two_reads(s):
        return s.union(_halve(s)).groupBy("k").agg(F.min("v").alias("v"))

    before = _persistent_rdds(spark)
    out = iterate(start, two_reads, 4)
    # four rounds were cut; only the last one's RDD is still persisted
    assert len(_persistent_rdds(spark) - before) == 1
    assert out.count() == 20


# the loop queries whose rounds read their state twice, so they are cut
@pytest.mark.parametrize("name", [
    "graph_pagerank", "graph_connected_components", "graph_bfs_layers",
    "graph_sssp_weighted", "graph_kcore", "dedup_clusters",
    "text_textrank_keywords",
])
def test_loop_query_leaves_at_most_its_last_round(spark, sf_dir, name):
    fn = all_queries()[name]
    gc.collect()
    before = _persistent_rdds(spark)
    df = fn(spark, sf_dir)
    df.collect()
    del df
    gc.collect()
    assert len(_persistent_rdds(spark) - before) <= 1
