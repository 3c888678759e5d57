"""Whole-registry plan-shape gate: every registered query's physical plan
must be free of unpartitioned windows (single-task sort of the whole
input) and CartesianProduct operators — the two anti-patterns that pass
small-SF correctness but collapse at cluster scale. This is
tools/audit_plans.py wired into pytest (VERDICT r6 task 1): a red audit
now fails the suite instead of waiting for someone to run the tool.

Two allowlists, each scoped to ONE finding kind:
plans.ALLOWED_GLOBAL_WINDOWS for queries whose window input is dim-sized
by construction, and plans.ALLOWED_CARTESIAN for verbatim reference bench
text whose cross-join sides are dim-bounded at runtime but invisible to
pre-AQE size estimation (yql_q77). Engine-authored queries must never
need the cartesian list. Queries that execute work at plan-build time
(streaming drains, durable-commit pipelines) run sf0.001-sized work —
the sweep stays test-budget-sized.

The same loop is the registry's cache-leak gate: once a query's frame is
dropped, the CacheManager must hold exactly the entries it held before
the query was built (``operators.owned`` releases what the build
materialized). The persisted star-view templates belong to the catalog
(``catalog.statement_session``), so they are built before the loop.

It is also the scratch-storage leak gate: a query makes its directories
with ``operators.scratch_dir``, under the process's one scratch root, so
no build may leave a new engine directory directly in the temp dir.
"""

from __future__ import annotations

import gc
import os
import re
import tempfile

from ytsaurus_spark import operators
from ytsaurus_spark.catalog import statement_session
from ytsaurus_spark.plans import (
    ALLOWED_CARTESIAN,
    ALLOWED_GLOBAL_WINDOWS,
    plan_audit_findings,
)
from ytsaurus_spark.queries import all_queries

ENGINE_DIR = re.compile(r"(ytspark|yql|chyt)_")


def _engine_dirs() -> set[str]:
    return {e for e in os.listdir(tempfile.gettempdir()) if ENGINE_DIR.match(e)}


def test_registry_plan_audit(spark, sf_dir):
    cache = spark._jsparkSession.sharedState().cacheManager()
    for flavour in ("star", "star_wide"):
        statement_session(spark, sf_dir, flavour)
    failures = []
    for name, fn in sorted(all_queries().items()):
        before = cache.numCachedEntries()
        dirs_before = _engine_dirs()
        try:
            df = fn(spark, sf_dir)
            findings = plan_audit_findings(
                df,
                allow_global=name in ALLOWED_GLOBAL_WINDOWS,
                allow_cartesian=name in ALLOWED_CARTESIAN,
            )
        except Exception as e:  # noqa: BLE001 - collect, report all at once
            failures.append(f"{name}: ERROR {type(e).__name__}: {e}")
            continue
        if findings:
            failures.append(f"{name}: {'; '.join(findings)}")
        del df
        if cache.numCachedEntries() != before:
            gc.collect()  # a frame held only by a reference cycle
        leaked = cache.numCachedEntries() - before
        if leaked:
            failures.append(f"{name}: {leaked} cache entries outlive the frame")
        root = os.path.basename(operators._SCRATCH_ROOT or "")
        stray = _engine_dirs() - dirs_before - {root}
        if stray:
            failures.append(f"{name}: dirs outside the scratch root: {sorted(stray)}")
    assert not failures, (
        "plan audit flagged queries (fix the plan or, for a dim-sized "
        "global window, add to plans.ALLOWED_GLOBAL_WINDOWS with the "
        "bounded-input contract; release every cache the build "
        "creates; make every directory with operators.scratch_dir):\n"
        + "\n".join(failures)
    )
