"""Eager-job gate: work that runs Spark jobs while a query is still being
built (before its action) is counted here, the way test_plan_audit.py
gates plan shapes. Each isolated YQL/CHYT statement registers the fixture
views in its own child session; once the process has seen those tables,
that registration must not run Spark's schema-inference job again."""

from __future__ import annotations

import uuid

import pytest

from ytsaurus_spark.catalog import load_tables
from ytsaurus_spark.queries import all_queries

# query -> Spark jobs its build may run once the schema memo is warm
BUILD_JOB_BUDGET = {
    "chyt_agg_report": 0,
    "yql_text_reduce": 0,
}


def _count_jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


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
