"""Eager-job gate: work that runs Spark jobs while a query is still being
built (before its action) is counted here, the way test_plan_audit.py
gates plan shapes. Each isolated YQL/CHYT statement runs in a clone of a
template that registered the fixture views (and the YSON UDFs) once
(``catalog.statement_session``): a warm statement registers nothing, and
a template (re)build reads each fixture schema from the process memo
with no Spark job.

A build's count is every job the scheduler started while it ran, on any
thread, and each of those jobs must carry the caller's job group: work a
build hands to a thread pool runs under ``inheritable_thread_target``, so
a traced run attributes it to the query."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql.udf import UDFRegistration

from tests.conftest import jobs_started
from ytsaurus_spark.catalog import Catalog, load_tables
from ytsaurus_spark.queries import all_queries

# query -> Spark jobs its build may run, on all threads, once the schema
# memo and the statement templates are warm
BUILD_JOB_BUDGET = {
    "chyt_agg_report": 0,
    "yql_text_reduce": 0,
    "pipeline_cdc_replica": 15,
    "dyn_changes_between": 7,
    "dyn_mvcc_timestamped_read": 5,
    "stream_producer_exactly_once": 6,
    "stream_queue_export": 10,
    # loops whose rounds read their state twice run one cut per round;
    # AQE's job count for the first three varies by up to 3 between warm
    # builds in one process, so each budget is the highest count seen
    "graph_pagerank": 44,
    "graph_kcore": 26,
    "text_textrank_keywords": 53,
    "graph_connected_components": 18,
    "dedup_clusters": 16,
    "text_bpe_merges": 9,
}


def _count_jobs(spark, fn) -> int:
    """Jobs started while ``fn`` ran; fails if one of them ran outside
    the job group set around it."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        started = jobs_started(spark, fn)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    grouped = len(sc.statusTracker().getJobIdsForGroup(group))
    assert grouped == started, (
        f"{started - grouped} of {started} jobs ran outside the caller's "
        "job group"
    )
    return started


def test_child_session_load_runs_no_jobs(spark, sf_dir):
    load_tables(spark.newSession(), sf_dir)
    assert _count_jobs(spark, lambda: load_tables(spark.newSession(), sf_dir)) == 0


@pytest.mark.parametrize("name", sorted(BUILD_JOB_BUDGET))
def test_statement_build_job_budget(spark, sf_dir, name):
    fn = all_queries()[name]
    fn(spark, sf_dir)
    jobs = _count_jobs(spark, lambda: fn(spark, sf_dir))
    assert jobs <= BUILD_JOB_BUDGET[name], (
        f"{name} ran {jobs} Spark jobs before its action "
        f"(budget {BUILD_JOB_BUDGET[name]})"
    )


@pytest.mark.parametrize("name", ["chyt_agg_report", "yql_text_reduce"])
def test_warm_statement_registers_nothing(spark, sf_dir, name, monkeypatch):
    fn = all_queries()[name]
    fn(spark, sf_dir)
    calls = {"udf": 0, "views": 0}

    def counted(key, orig):
        def wrapper(*args, **kwargs):
            calls[key] += 1
            return orig(*args, **kwargs)
        return wrapper

    monkeypatch.setattr(UDFRegistration, "register",
                        counted("udf", UDFRegistration.register))
    monkeypatch.setattr(Catalog, "register_all",
                        counted("views", Catalog.register_all))
    fn(spark, sf_dir)
    assert calls == {"udf": 0, "views": 0}
