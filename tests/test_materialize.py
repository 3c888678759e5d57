"""Cache ownership: every engine cache goes through
``operators.materialize``, and a registry query owns what its build
materialized (``operators.owned``) — the caches live exactly as long as
the returned frame. Counts are CacheManager entries
(``numCachedEntries``), the unit an uncache removes.

Scratch storage has the other lifetime: every engine directory comes
from ``operators.scratch_dir``, under one root per process that is
removed when the process exits, so a frame derived from a released
result still finds its files."""

from __future__ import annotations

import ast
import gc
import os
import re
import subprocess
import sys
import tempfile
import textwrap

import pytest
from pyspark.sql import functions as F

from ytsaurus_spark.operators import materialize, owned
from ytsaurus_spark.queries import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, "ytsaurus_spark")


def _entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _cached(df) -> bool:
    cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
    return cache.lookupCachedData(df._jdf).isDefined()


def _dropped(spark, before: int) -> bool:
    gc.collect()
    return _entries(spark) == before


def test_returned_frame_is_materialized_and_released_on_drop(spark):
    before = _entries(spark)

    def build(spark):
        base = materialize(spark.range(200).selectExpr("id % 7 AS k", "id AS v"))
        return materialize(base.groupBy("k").agg(F.sum("v").alias("s")))

    out = owned(build, spark)
    assert _cached(out)
    assert _entries(spark) == before + 2
    assert len(out.collect()) == 7
    del out
    assert _dropped(spark, before)


@pytest.mark.parametrize("name", ["graph_bfs_layers", "graph_label_propagation"])
def test_registry_query_releases_on_drop(spark, sf_dir, name):
    # both cache their adjacency and round-0 state; their rounds belong to
    # operators.iterate, so the returned frame is no owner's cache entry
    before = _entries(spark)
    df = all_queries()[name](spark, sf_dir)
    assert not _cached(df)
    assert _entries(spark) > before
    df.collect()
    del df
    assert _dropped(spark, before)


def test_nested_operator_call_is_owned_by_the_outer_query(spark):
    before = _entries(spark)
    seen = {}

    def inner(spark):
        return materialize(spark.range(60).selectExpr("id AS v", "id % 5 AS g"))

    def outer(spark):
        rows = owned(inner, spark)
        out = materialize(rows.groupBy("g").agg(F.count("v").alias("n")))
        del rows  # the inner frame goes; its cache belongs to the outer scope
        gc.collect()
        seen["inside"] = _entries(spark)
        return out

    out = owned(outer, spark)
    assert seen["inside"] == before + 2
    assert _entries(spark) == before + 2
    assert sorted(r.n for r in out.collect()) == [12] * 5
    del out
    assert _dropped(spark, before)


def test_exception_mid_build_releases_what_was_materialized(spark):
    before = _entries(spark)

    def build(spark):
        a = materialize(spark.range(40).selectExpr("id * 2 AS x"))
        materialize(a.selectExpr("x + 1 AS y"))
        assert _entries(spark) == before + 2
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        owned(build, spark)
    assert _entries(spark) == before


def test_existing_identical_entry_keeps_its_owner(spark):
    mine = spark.range(30).selectExpr("id * 11 AS z").persist()
    try:
        before = _entries(spark)

        def build(spark):
            same = materialize(spark.range(30).selectExpr("id * 11 AS z"))
            return same.selectExpr("z + 1 AS w")

        out = owned(build, spark)
        assert _entries(spark) == before
        del out
        assert _dropped(spark, before)
        assert _cached(mine)
    finally:
        mine.unpersist()


# the last two read their tables' files lazily from scratch dirs
@pytest.mark.parametrize(
    "name",
    ["graph_label_propagation", "dyn_changes_between", "pipeline_cdc_replica"],
)
def test_derived_frame_outliving_the_result_keeps_its_rows(spark, sf_dir, name):
    before = _entries(spark)
    res = all_queries()[name](spark, sf_dir)
    derived = res.filter(F.col(res.columns[0]).isNotNull())
    expected = sorted(res.collect())
    del res
    assert _dropped(spark, before)
    assert sorted(derived.collect()) == expected
    assert _entries(spark) == before


def test_outside_a_scope_materialize_is_a_plain_persist(spark):
    df = materialize(spark.range(25).selectExpr("id - 3 AS q"))
    try:
        gc.collect()
        assert _cached(df)
    finally:
        df.unpersist()


def _offenders(pattern, allowed, root=ROOT, scope=None):
    """``file:line`` of every engine source line under ``root`` matching
    ``pattern``, outside the files in ``allowed``; with ``scope``, only
    the lines in ``scope(source)`` count."""
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path in allowed:
                continue
            with open(path, encoding="utf-8") as fh:
                source = fh.read()
            lines = None if scope is None else scope(source)
            for i, line in enumerate(source.splitlines(), 1):
                if pattern.search(line) and (lines is None or i in lines):
                    offenders.append(f"{os.path.relpath(path, ROOT)}:{i}")
    return offenders


def test_every_engine_cache_goes_through_materialize():
    call = re.compile(r"\.(persist\(|cache\(\))")
    allowed = {
        os.path.join(ROOT, "operators", "__init__.py"),  # the helper itself
        # the star-template views belong to catalog.statement_session
        os.path.join(ROOT, "yql", "tpcds_star.py"),
    }
    offenders = _offenders(call, allowed)
    assert not offenders, offenders


def _loop_lines(source) -> set:
    """Lines of every ``for``/``while`` statement, except those of the
    helpers that own a loop: ``iterate`` (rounds) and ``_release`` (an
    owner scope's entries)."""
    lines = set()

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, (ast.For, ast.While)) and fn not in (
                "iterate", "_release"
            ):
                lines.update(range(child.lineno, child.end_lineno + 1))
            visit(child, fn)

    visit(ast.parse(source), None)
    return lines


def test_every_driver_side_loop_runs_through_iterate():
    cut = re.compile(r"\b(localCheckpoint|checkpoint|unpersist|materialize)\b")
    offenders = _offenders(
        cut, set(), root=os.path.join(ROOT, "operators"), scope=_loop_lines
    )
    assert not offenders, offenders


def test_every_engine_scratch_dir_goes_through_scratch_dir():
    helper = os.path.join(ROOT, "operators", "__init__.py")
    offenders = _offenders(re.compile(r"mkdtemp\("), {helper})
    assert not offenders, offenders


_EXIT_SCRIPT = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {repo!r})
    from ytsaurus_spark import operators
    from ytsaurus_spark.queries import all_queries
    from ytsaurus_spark.session import get_spark

    spark = get_spark("scratch-exit", master="local[2]", shuffle_partitions=2)
    df = all_queries()["dyn_changes_between"](spark, {sf_dir!r})
    rows = df.collect()
    root = operators._SCRATCH_ROOT
    print("SCRATCH", root, len(os.listdir(root)), len(rows), flush=True)
    """
)


def test_scratch_root_is_removed_at_exit(sf_dir):
    proc = subprocess.run(
        [sys.executable, "-c", _EXIT_SCRIPT.format(repo=REPO, sf_dir=sf_dir)],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    line = next(
        (ln for ln in proc.stdout.splitlines() if ln.startswith("SCRATCH ")), None
    )
    assert line is not None and proc.returncode == 0, (
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-2000:]}"
    )
    _, root, n_dirs, n_rows = line.split()
    assert os.path.dirname(root) == tempfile.gettempdir()
    assert int(n_dirs) == 1 and int(n_rows) > 0
    assert not os.path.exists(root)
