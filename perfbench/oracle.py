"""DuckDB oracle results and the strict comparison used by the repo's
correctness gate (``tools/check_oracle.py``: exact ``str`` of every value,
plus the DECIMAL-vs-DOUBLE column audit)."""

from __future__ import annotations

import os
import sys

import duckdb

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

from check_oracle import canonical_rows, strict_normalize, type_split  # noqa: E402


def oracle_results(sf_dir: str, sql: dict[str, str], tables) -> dict[str, tuple]:
    """``{name: (columns, rows)}`` for every oracle statement in ``sql``."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
        out = {}
        for name, stmt in sql.items():
            cur = con.execute(stmt)
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def mismatch(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """None when the Spark result equals the oracle's strictly; else why not."""
    s_rows = [tuple(r) for r in s_rows]
    if len(s_rows) == len(d_rows):
        split = type_split(s_rows, d_rows)
        if split:
            return f"DECIMAL-vs-DOUBLE split in columns {split}"
    sc, sr = canonical_rows(list(s_cols), s_rows, strict_normalize)
    dc, dr = canonical_rows(list(d_cols), d_rows, strict_normalize)
    if sc != dc:
        return f"column mismatch: spark={sc} oracle={dc}"
    if len(sr) != len(dr):
        return f"row count mismatch: spark={len(sr)} oracle={len(dr)}"
    if sr != dr:
        diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
        return f"value mismatch ({len(sr)} rows), first diffs: {diffs}"
    return None
