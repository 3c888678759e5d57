"""One write path for on-disk metadata: every JSON document goes through
``jsonio.publish_json`` (mkstemp in the target's directory, then
``os.replace``), and only ``sources/tx_table.py`` knows a log table's
manifest and segment directories. The two source scans keep it that way;
the rest checks the helper itself. No Spark session needed."""

from __future__ import annotations

import os
import re

import pytest

from ytsaurus_spark.jsonio import load_json, publish_json

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "ytsaurus_spark")


def _matches(pattern: re.Pattern, skip: set[str]) -> list[tuple[str, str]]:
    """(path relative to the package, stripped line) of every match
    outside the files in ``skip``."""
    out = []
    for dirpath, _dirs, files in os.walk(ROOT):
        for f in files:
            rel = os.path.relpath(os.path.join(dirpath, f), ROOT)
            if not f.endswith(".py") or rel in skip:
                continue
            with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                out += [(rel, line.strip()) for line in fh if pattern.search(line)]
    return out


def test_json_documents_go_through_one_publish():
    assert _matches(re.compile(r"\bjson\.dump\("), {"jsonio.py"}) == []
    # the only other replaces: directory swaps and a byte payload
    allowed = [
        ("client.py", 'os.replace(tmp, os.path.join(p, "_yt_file_data"))'),
        (os.path.join("sources", "remote_copy_job.py"), "os.replace(staging, dst_dir)"),
        (os.path.join("sources", "remote_copy_job.py"), "os.replace(staging, dst_dir)"),
    ]
    found = _matches(re.compile(r"\bos\.replace\("), {"jsonio.py"})
    assert sorted(found) == sorted(allowed)


def test_log_table_format_has_one_owner():
    owner = {os.path.join("sources", "tx_table.py")}
    fmt = re.compile(r"_log\.json|_yt_state\.json|f[\"']s\{")
    assert _matches(fmt, owner) == []


def test_publish_json_replaces_whole_document(tmp_path):
    path = str(tmp_path / "_doc.json")
    assert load_json(path, {"segments": []}) == {"segments": []}
    with pytest.raises(FileNotFoundError):
        load_json(path)
    publish_json(path, {"v": 1})
    publish_json(path, {"v": 2, "more": [1, 2]})
    assert load_json(path) == {"v": 2, "more": [1, 2]}
    assert os.listdir(tmp_path) == ["_doc.json"]  # no temp file left


def test_failed_publish_keeps_old_document(tmp_path):
    path = str(tmp_path / "_doc.json")
    publish_json(path, {"v": 1})
    with pytest.raises(TypeError):
        publish_json(path, {"v": object()})  # not serializable mid-write
    assert load_json(path) == {"v": 1}
    assert os.listdir(tmp_path) == ["_doc.json"]


def test_concurrent_publishes_never_tear_or_share_a_temp_file(tmp_path):
    # Writers racing on one document (the chaos card's old fixed ".tmp"
    # name let two writers clobber one temp file): every read sees one
    # whole document, and no temp file outlives the race.
    import sys
    import threading

    path = str(tmp_path / "_card.json")
    publish_json(path, {"w": -1, "i": -1, "pad": []})
    errors: list[BaseException] = []
    done = threading.Event()

    def write(w: int) -> None:
        try:
            for i in range(40):
                publish_json(path, {"w": w, "i": i, "pad": list(range(200))})
        except BaseException as e:  # surfaced by the assertion below
            errors.append(e)

    def read() -> None:
        try:
            while not done.is_set():
                doc = load_json(path)
                assert set(doc) == {"w", "i", "pad"}
        except BaseException as e:
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        writers = [threading.Thread(target=write, args=(w,)) for w in range(8)]
        reader = threading.Thread(target=read)
        reader.start()
        for t in writers:
            t.start()
        for t in writers:
            t.join(timeout=60)
        done.set()
        reader.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in writers + [reader])
    assert errors == []
    assert load_json(path)["i"] == 39
    assert os.listdir(tmp_path) == ["_card.json"]
