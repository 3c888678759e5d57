"""Spans around calls into the engine's layers, kept in memory.

Only a traced run (``--trace 1``) installs a ``Tracer``. It replaces a
fixed set of public engine functions with wrappers that record one span
per call. Each wrapper is written into the function's defining module (or
class) and into every already-loaded ``ytsaurus_spark`` module that bound
the function by name, so ``from x import f`` call sites are traced too.

Span file format (one JSON object per line, written at the end of a run,
see ``write_jsonl``):

- ``name``: layer name, e.g. ``chyt.translate`` or ``queries.build``;
- ``start`` / ``end``: wall-clock seconds since the epoch (``time.time``);
- ``parent``: 0-based line number of the enclosing span, or null;
- ``exec_id``: the query execution the span belongs to, ``<pass>.<query>``
  (pass 0 is the warm-up pass; ``2.5`` is the query run 6th in the second
  timed pass), or null outside executions;
- ``thread``: ``threading.get_ident()`` of the caller.

A span's parent is the innermost open span of the same thread; a span
opened on another thread takes the benchmark phase that is open at that
moment. ``pipeline_cdc_replica`` needs this: it runs its two
``LogTxTable.init`` calls on a thread pool, and the two spans overlap.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

# layer name -> (module, attribute) pairs; "Class.method" patches the class,
# "*" means every public function defined in that module
LAYERS: dict[str, list[tuple[str, str]]] = {
    "catalog.load_tables": [("ytsaurus_spark.catalog", "load_tables")],
    "yql.translate": [
        ("ytsaurus_spark.yql.dialect", "translate_yql"),
        ("ytsaurus_spark.yql.dialect", "translate_yql_script"),
    ],
    "chyt.translate": [("ytsaurus_spark.chyt", "translate_chyt")],
    "chyt.query": [
        ("ytsaurus_spark.chyt", "chyt_query"),
        ("ytsaurus_spark.chyt", "chyt_execute"),
    ],
    "sources.tx_table.commit": [
        ("ytsaurus_spark.sources.tx_table", "LogTxTable.init"),
        ("ytsaurus_spark.sources.tx_table", "LogTxTable.insert_rows"),
        ("ytsaurus_spark.sources.tx_table", "LogTxTable.delete_rows"),
        ("ytsaurus_spark.sources.tx_table", "LogTxTable.commit_many"),
    ],
    "sources.tx_table.read": [
        ("ytsaurus_spark.sources.tx_table", "LogTxTable.read"),
        ("ytsaurus_spark.sources.tx_table", "LogTxTable.lookup_rows"),
        ("ytsaurus_spark.sources.tx_table", "LogTxTable.changes_between"),
    ],
    "operators.keyed_tables.insert": [
        ("ytsaurus_spark.operators.keyed_tables", "KeyedTable.insert_rows"),
    ],
    "streaming.queues.publish": [("ytsaurus_spark.streaming.queues", "publish_changes")],
    "streaming.queues.pull": [("ytsaurus_spark.streaming.queues", "pull_and_advance")],
    "operators.similarity": [("ytsaurus_spark.operators.similarity", "*")],
    "operators.map_reduce": [("ytsaurus_spark.operators.map_reduce", "*")],
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    exec_id: str | None
    thread: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.exec_id: str | None = None
        self._local = threading.local()
        self._phase: int | None = None
        self._lock = threading.Lock()
        self._wrappers: dict[int, object] = {}

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, phase: bool = False):
        """Record one span. ``phase=True`` marks a benchmark phase, which
        spans on threads without an open span of their own attach to."""
        stack = self._stack()
        parent = stack[-1] if stack else self._phase
        s = Span(name, time.time(), 0.0, parent, self.exec_id, threading.get_ident())
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        if phase:
            self._phase = idx
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if phase:
                self._phase = parent

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, layers: dict[str, list[tuple[str, str]]] = LAYERS) -> None:
        """Patch every target of ``layers``, then rebind the engine modules
        already loaded; call before the query modules are imported."""
        for name, targets in layers.items():
            for mod_name, attr in targets:
                mod = importlib.import_module(mod_name)
                if attr == "*":
                    attrs = [
                        a for a, v in vars(mod).items()
                        if not a.startswith("_") and inspect.isfunction(v)
                        and v.__module__ == mod_name
                    ]
                    for a in attrs:
                        self._patch(mod, a, name)
                elif "." in attr:
                    cls_name, meth = attr.split(".")
                    self._patch(getattr(mod, cls_name), meth, name)
                else:
                    self._patch(mod, attr, name)
        self.rebind()

    def _patch(self, owner, attr: str, layer: str) -> None:
        original = getattr(owner, attr)
        wrapper = self.wrap(layer, original)
        setattr(owner, attr, wrapper)
        self._wrappers[id(original)] = wrapper

    def rebind(self) -> None:
        """Point every loaded engine module's by-name binding of a patched
        function at its wrapper."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("ytsaurus_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                wrapper = self._wrappers.get(id(value))
                if wrapper is not None:
                    setattr(mod, attr, wrapper)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover
    (children on other threads may overlap each other, so take the union:
    the two pooled ``LogTxTable.init`` calls of ``pipeline_cdc_replica``)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, reach), min(hi, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out.append(s.end - s.start - covered)
    return out


def layer_totals(spans: list[Span], include) -> dict[str, tuple[float, int]]:
    """Per span name: summed self time and number of calls, over the spans
    for which ``include(span)`` is true."""
    out: dict[str, tuple[float, int]] = {}
    for s, own in zip(spans, self_times(spans)):
        if include(s):
            total, calls = out.get(s.name, (0.0, 0))
            out[s.name] = (total + own, calls + 1)
    return out
