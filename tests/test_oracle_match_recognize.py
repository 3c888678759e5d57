"""The strict DuckDB oracle on every MATCH_RECOGNIZE query, in tier-1.

The 50-query oracle gate samples no MATCH_RECOGNIZE query, so this runs
``tools/check_oracle.py`` (strict mode) on the suite's fixture for the
batch forms, the YQL text lowering and the stream. It runs in its own
process because the tool stops its session when it ends, and under its
own temp dir so the child's scratch root cannot mix with this process's.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATTERNS = ["match_recognize_*", "yql_text_match_recognize*", "stream_match_recognize"]


def test_match_recognize_queries_pass_the_strict_oracle(sf_dir, tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         sf_dir, *PATTERNS],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    tail = proc.stdout[-4000:] + proc.stderr[-2000:]
    m = re.search(r"(\d+) passed, (\d+) failed, (\d+) type-warned, mode=strict",
                  proc.stdout)
    assert proc.returncode == 0 and m, tail
    assert int(m.group(1)) >= 9 and m.group(2) == "0" and m.group(3) == "0", tail
