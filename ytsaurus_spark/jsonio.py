"""JSON metadata files: one read and one atomic publish for every manifest,
attribute, card, lock and sidecar document the engine keeps on disk.

``publish_json`` writes the document to a fresh ``mkstemp`` file in the
target's directory and ``os.replace``-s it over the target, so a reader
sees the old document or the new one, never a torn one, and concurrent
writers never share a temp file. The temp name starts with ``.`` so
Spark's file listing skips it inside a parquet table directory. There is
no fsync: a crash may lose the last publish, never corrupt it.
"""

from __future__ import annotations

import json
import os
import tempfile

_REQUIRED = object()


def load_json(path: str, default=_REQUIRED):
    """The document at ``path``; ``default`` when the file does not exist
    (without a default a missing file raises FileNotFoundError)."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        if default is _REQUIRED:
            raise
        return default


def publish_json(path: str, obj) -> None:
    """Atomically replace the document at ``path`` with ``obj``."""
    d, name = os.path.split(path)
    fd, tmp = tempfile.mkstemp(dir=d or ".", prefix=f".{name}.", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
