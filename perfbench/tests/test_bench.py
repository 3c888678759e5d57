"""Self-tests of the benchmark's own code (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import decimal
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog, host, stats, trace  # noqa: E402
from perfbench.fixture import TABLES, build_tables  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- order statistics -------------------------------------------------------

def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0.5) == 3.0
    assert stats.percentile(xs, 0.75) == 4.0
    assert stats.percentile(xs, 1.0) == 5.0
    assert stats.percentile(xs, 0.0) == 1.0
    assert stats.percentile([7.0], 0.5) == 7.0


def test_samples_beyond_percentile():
    assert stats.beyond(20, 0.5) == 10
    assert stats.beyond(40, 0.75) == 10
    assert stats.beyond(39, 0.75) == 9
    xs = list(range(1, 41))
    p75 = stats.percentile(xs, 0.75)
    assert sum(x > p75 for x in xs) == stats.beyond(len(xs), 0.75)


def test_geomean_and_median():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    assert stats.median([3.0, 1.0, 2.0, 10.0]) == 2.5
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_steal_share():
    # 3 s busy and 1 s stolen: a quarter of the wanted CPU time went elsewhere
    assert host.steal_share((10.0, 1.0), (13.0, 2.0)) == 0.25
    assert host.steal_share((5.0, 1.0), (5.0, 1.0)) == 0.0
    busy, steal = host.cpu_times()
    assert busy > 0 and steal >= 0


def test_set_up_steal_leaves_out_harness_intervals(monkeypatch):
    from perfbench.run import Run
    from perfbench.workloads import WORKLOADS

    run = Run(WORKLOADS["driver_rw"], 1, 16.0, traced=False)
    readings = iter([(10.0, 1.0), (14.0, 3.0), (20.0, 3.0), (21.0, 3.5)])
    monkeypatch.setattr(host, "cpu_times", lambda: next(readings))
    with run._excluded():
        pass
    with run._excluded():
        pass
    # busy and stolen CPU seconds of both intervals, to subtract from the set-up's
    assert run.excluded_cpu == (5.0, 2.5)


# -- oracle check -------------------------------------------------------------

def test_oracle_accepts_equal_results_in_any_order():
    from perfbench.oracle import mismatch

    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    assert mismatch(["k", "s", "x"], rows[::-1], ["k", "s", "x"], rows) is None


def test_oracle_catches_a_planted_wrong_row():
    from perfbench.oracle import mismatch

    oracle = [(1, "a", 0.5), (2, "b", 1.25), (3, "c", 2.0)]
    spark = [(1, "a", 0.5), (2, "b", 1.2500001), (3, "c", 2.0)]
    why = mismatch(["k", "s", "x"], spark, ["k", "s", "x"], oracle)
    assert why is not None and why.startswith("value mismatch")
    assert "row count" in mismatch(["k"], [(1,)], ["k"], [(1,), (2,)])
    assert "column" in mismatch(["k"], [(1,)], ["key"], [(1,)])


def test_oracle_catches_decimal_vs_double_split():
    from perfbench.oracle import mismatch

    spark = [(1, decimal.Decimal("0.5"))]
    oracle = [(1, 0.5)]
    # the values print the same, the output types differ
    assert str(spark[0][1]) == str(oracle[0][1])
    why = mismatch(["k", "x"], spark, ["k", "x"], oracle)
    assert why == "DECIMAL-vs-DOUBLE split in columns [1]"


# -- event log ------------------------------------------------------------------

# captured once from a real run by data/capture_eventlog.py
SAMPLE_LOG = os.path.join(DATA, "eventlog_sample.jsonl")


def _sample_phases():
    events = list(eventlog.read_events(SAMPLE_LOG))
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    build = next(e for e in starts if e["Properties"]["spark.jobGroup.id"] == "pb:0.0:build")
    other = next(e for e in starts if e["Properties"]["spark.jobGroup.id"] == "stream-run")
    at = lambda e: e["Submission Time"] / 1000  # noqa: E731
    return events, [
        ("0.0", "build", at(build) - 0.001, at(build) + 0.001),
        # a job under a group the benchmark did not set (as one submitted
        # from a query's own thread): the build window of execution 1.0
        # covers its submission time
        ("1.0", "build", at(other) - 0.001, at(other) + 0.001),
        # no job was submitted in this window: exec jobs match by group only
        ("1.0", "exec", at(build) - 10.0, at(build) - 5.0),
    ]


def test_eventlog_attributes_jobs_by_group_and_by_time():
    events, phases = _sample_phases()
    counters = eventlog.attribute(events, phases)
    assert counters[("0.0", "build")].jobs == 1
    assert counters[("1.0", "build")].jobs == 1
    assert counters[("1.0", "exec")].jobs >= 1


def test_eventlog_task_counters():
    events, phases = _sample_phases()
    c = eventlog.attribute(events, phases)[("1.0", "exec")]
    assert c.tasks == 4 and c.failed_tasks == 0
    assert len(c.stages) == 2
    assert c.python_s > 0
    assert c.cpu_s > 0
    assert c.shuffle_write_bytes > 0 and c.shuffle_read_bytes == c.shuffle_write_bytes


def test_eventlog_ignores_jobs_outside_every_phase():
    events, _ = _sample_phases()
    assert eventlog.attribute(events, []) == {}


# -- span wrapper -------------------------------------------------------------------

FAKE_LAYER = """
def outer(n):
    return inner(n) + 1


def inner(n):
    return n * 2


def _private():
    return 0


class Table:
    def commit(self):
        return inner(1)
"""


@pytest.fixture
def fake_engine():
    """Two throwaway engine modules: one defines a layer, one bound it by name."""
    layer = types.ModuleType("ytsaurus_spark.fake_layer")
    exec(FAKE_LAYER, layer.__dict__)
    user = types.ModuleType("ytsaurus_spark.fake_user")
    user.outer = layer.outer  # as `from ytsaurus_spark.fake_layer import outer` does
    sys.modules[layer.__name__] = layer
    sys.modules[user.__name__] = user
    try:
        yield layer, user
    finally:
        del sys.modules[layer.__name__], sys.modules[user.__name__]


def test_span_wrapper_counts_calls_and_rebinds(fake_engine):
    layer, user = fake_engine
    t = trace.Tracer()
    t.install({
        "fake.outer": [(layer.__name__, "outer")],
        "fake.commit": [(layer.__name__, "Table.commit")],
    })
    t.exec_id = "1.0"
    assert user.outer(3) == 7  # the by-name binding was rebound
    assert layer.outer(1) == 3
    layer.Table().commit()
    totals = trace.layer_totals(t.spans, lambda s: True)
    assert totals["fake.outer"][1] == 2
    assert totals["fake.commit"][1] == 1
    assert all(s.exec_id == "1.0" for s in t.spans)


def test_span_wrapper_star_patches_public_functions(fake_engine):
    layer, _ = fake_engine
    t = trace.Tracer()
    t.install({"fake": [(layer.__name__, "*")]})
    layer.outer(2)  # outer calls the module's inner, which is wrapped too
    totals = trace.layer_totals(t.spans, lambda s: True)
    assert totals["fake"][1] == 2
    outer_span, inner_span = t.spans
    assert inner_span.parent == 0 and outer_span.parent is None


def test_self_time_subtracts_children():
    spans = [
        trace.Span("phase", 0.0, 10.0, None, "1.0", 1),
        trace.Span("a", 1.0, 4.0, 0, "1.0", 1),
        trace.Span("b", 2.0, 3.0, 1, "1.0", 1),
        # two children on other threads that overlap each other
        trace.Span("c", 5.0, 8.0, 0, "1.0", 2),
        trace.Span("c", 6.0, 9.0, 0, "1.0", 3),
    ]
    assert trace.self_times(spans) == [pytest.approx(x) for x in (3.0, 2.0, 1.0, 3.0, 3.0)]
    totals = trace.layer_totals(spans, lambda s: s.name != "b")
    assert totals["c"] == (pytest.approx(6.0), 2)
    assert "b" not in totals


def test_phase_parent_for_spans_on_other_threads():
    import threading

    t = trace.Tracer()
    with t.span("queries.build", phase=True):
        th = threading.Thread(target=lambda: t.wrap("cb", lambda: None)())
        th.start()
        th.join(timeout=10)
    assert not th.is_alive()
    assert [s.name for s in t.spans] == ["queries.build", "cb"]
    assert t.spans[1].parent == 0


# -- fixture ----------------------------------------------------------------------------

def test_fixture_is_seeded_and_complete():
    a = build_tables(7, 0.001)
    b = build_tables(7, 0.001)
    c = build_tables(8, 0.001)
    assert set(a) == set(TABLES)
    assert all(a[t].equals(b[t]) for t in TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500
    # every fact key resolves against its dimension
    li = a["lineitem"]
    assert max(li["l_orderkey"].to_pylist()) < a["orders"].num_rows
    assert max(li["l_partkey"].to_pylist()) < a["part"].num_rows
    assert max(li["l_suppkey"].to_pylist()) < a["supplier"].num_rows


def test_fixture_documents_match_the_measured_shape():
    docs = build_tables(3, 0.1)["documents"]["text"].to_pylist()
    assert len(docs) == 5000
    assert sum(t.endswith(" dup") for t in docs) == 250  # exactly 5%
    originals = [t.split() for t in docs if not t.endswith(" dup")]
    assert min(map(len, originals)) == 10 and max(map(len, originals)) == 99
