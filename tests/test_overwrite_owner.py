"""One owner for table overwrites: ``sources/formats.write_table`` writes
every overwrite into a hidden sibling directory and swaps it into place,
so an overwrite may read the table it replaces. These source scans keep
the engine's table writers from growing their own DataFrame writer or
their own stage-and-swap again. No Spark session needed."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "ytsaurus_spark")

# modules that replace tables only through formats.write_table (directly or
# through YtClient.write_table / Catalog.create_table)
CALLERS = ("client.py", "catalog.py", "chyt.py", "yql",
           os.path.join("streaming", "consumer_registry.py"))

_REMOVES = {"rmtree", "remove", "unlink"}
_MOVES = {"move", "replace", "rename"}


def _sources(rels=("",)):
    """(path relative to the package, source text) of every .py file under
    the package-relative files or directories ``rels``."""
    for rel in rels:
        top = os.path.join(ROOT, rel)
        walk = [(os.path.dirname(top), [], [os.path.basename(top)])] \
            if os.path.isfile(top) else os.walk(top)
        for dirpath, _dirs, files in walk:
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    with open(path, encoding="utf-8") as fh:
                        yield os.path.relpath(path, ROOT), fh.read()


def _calls(stmts):
    """Calls in ``stmts`` outside any nested block (a nested if/for/with/
    try/def body is a block of its own)."""
    for stmt in stmts:
        if hasattr(stmt, "body"):
            continue
        for node in ast.walk(stmt):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                yield node


def _swaps(tree, rel):
    """(file, enclosing function, path) of every block that removes a path
    and moves another path onto it: a hand-rolled stage-and-swap."""
    func = {}
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(fn):
                func.setdefault(id(node), fn.name)
    for block in ast.walk(tree):
        for stmts in (getattr(block, "body", None), getattr(block, "orelse", None)):
            if not isinstance(stmts, list):
                continue
            removed, onto = set(), set()
            for call in _calls(stmts):
                if call.func.attr in _REMOVES and call.args:
                    removed.add(ast.unparse(call.args[0]))
                elif call.func.attr in _MOVES and len(call.args) >= 2:
                    onto.add(ast.unparse(call.args[1]))
            for path in sorted(removed & onto):
                yield rel, func.get(id(block), "<module>"), path


def test_callers_hold_no_dataframe_writer():
    chain = re.compile(r"\.write\.")
    found = [(rel, line.strip()) for rel, src in _sources(CALLERS)
             for line in src.splitlines()
             if chain.search(line) and not line.strip().startswith("#")]
    assert found == []


def test_one_directory_swap_for_table_overwrites():
    swaps = sorted(s for rel, src in _sources() for s in _swaps(ast.parse(src), rel))
    assert swaps == sorted([
        (os.path.join("sources", "formats.py"), "_swap_into_place", "old"),
        # publishes into fresh directories, not table overwrites: a queue
        # segment and RemoteCopy's checksummed chunk staging
        (os.path.join("streaming", "queues.py"), "push_batch", "seg_path"),
        (os.path.join("sources", "remote_copy_job.py"), "_remote_copy_erasure", "dst_dir"),
        (os.path.join("sources", "remote_copy_job.py"), "run_remote_copy", "dst_dir"),
    ])


def test_no_hand_rolled_staging_names():
    names = re.compile(r"\.rewrite_tmp|__chyt_staging|__alter_staging|\.compact\.tmp")
    assert [rel for rel, src in _sources() if names.search(src)] == []
