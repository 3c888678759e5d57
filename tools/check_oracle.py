"""Local replica of the driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle, compare row count, column names, and
an order-insensitive value hash.

DEFAULT MODE IS STRICT (driver-faithful): values compare by exact string
repr with NO normalization — no float rounding, no Decimal→float
conversion. The round-5 driver red (tpch_q8/q9) was a DecimalType-vs-
DOUBLE output split with numerically identical values; the old lenient
normalization (round(v, 9) + Decimal→float) erased exactly that
divergence, so the local gate "passed" a query the driver failed.
Evidence for str() being driver-faithful: Decimal('0.023321000') vs
0.023321 fails the driver (differing strs) while fn_uint64's
DECIMAL(20,0) vs DuckDB HUGEINT passes it (str(Decimal('123')) ==
str(123)).

``--lenient`` restores the old tolerant comparison for triaging whether a
strict failure is type-level (lenient passes) or value-level (both fail).

The strict pass also audits output types: a Spark Decimal paired with a
DuckDB float is reported even if some rows happen to str-match.

``--repeat`` runs every selected query twice in one process, in an order
shuffled with a fixed seed, so the oracle also checks state one statement
leaves for the next: statement-session templates, persisted star views,
pragmas. A second execution reports as ``name#2``.

Usage: python tools/check_oracle.py [--lenient] [--vanilla] [--repeat] [sf_dir] [query|pattern ...]

Queries are names or fnmatch patterns (``'sim_*'``); a pattern that
matches no registered query is an error.
"""

from __future__ import annotations

import decimal
import fnmatch
import math
import os
import random
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from ytsaurus_spark.catalog import TABLE_NAMES
from ytsaurus_spark.queries import all_oracles, all_queries
from ytsaurus_spark.session import get_spark

REPEAT_SEED = 0  # the --repeat order; fixed, so a failing order reruns as is


def lenient_normalize(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return "-0.0" if math.copysign(1.0, v) < 0 else "0.0"
        return round(v, 9)
    if isinstance(v, bool):
        return bool(v)
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(lenient_normalize(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, lenient_normalize(x)) for k, x in v.items()))
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def strict_normalize(v):
    """Exact-str normalization — the driver-faithful comparison. str()
    distinguishes Decimal scale (``0.023321000`` vs ``0.023321``) and the
    sign of zero, equates DECIMAL(20,0) with int, and makes NaN compare
    equal to itself (tuple equality over floats would not)."""
    if v is None:
        return None
    if isinstance(v, (list, tuple)):
        return tuple(strict_normalize(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, strict_normalize(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canonical_rows(cols, rows, norm):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def type_split(s_rows, d_rows):
    """Column indices where Spark emits Decimal while DuckDB emits float
    (or vice versa) — the r05 bug class, reported even on a value match."""
    splits = set()
    for sr, dr in zip(s_rows[:50], d_rows[:50]):
        for i, (a, b) in enumerate(zip(sr, dr)):
            if (isinstance(a, decimal.Decimal) and isinstance(b, float)) or (
                isinstance(a, float) and isinstance(b, decimal.Decimal)
            ):
                splits.add(i)
    return sorted(splits)


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    lenient = "--lenient" in args
    repeat = "--repeat" in args
    args = [a for a in args if a not in ("--vanilla", "--lenient", "--repeat")]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    patterns = args[1:] if args and os.path.isdir(args[0]) else args
    norm = lenient_normalize if lenient else strict_normalize
    queries, oracles = all_queries(), all_oracles()
    only = set()
    for pat in patterns:
        matched = fnmatch.filter(queries, pat)
        if not matched:
            raise SystemExit(f"no registered query matches {pat!r}")
        only.update(matched)
    names = [n for n in queries if not only or n in only]
    runs = [(n, n) for n in names]
    if repeat:
        runs += [(n, f"{n}#2") for n in names]
        random.Random(REPEAT_SEED).shuffle(runs)

    if vanilla:
        # The driver-harness condition: a FOREIGN session with none of our
        # confs — the registry bootstrap (ensure_runtime_confs) must make
        # every query work on it. This mode is what would have caught
        # round 1's 0/50 (catalog assumed a pre-configured session).
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(
                f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
            )
            .appName("check_oracle_vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    passed, failed, warned = [], [], []
    for name, label in runs:
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir)
            s_cols = sdf.columns
            s_raw = [tuple(r) for r in sdf.collect()]
        except Exception:
            failed.append((label, "SPARK ERROR:\n" + traceback.format_exc()))
            continue
        if name not in oracles:
            passed.append((label, f"rows-only: {len(s_raw)} rows", time.time() - t0))
            continue
        try:
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_raw = cur.fetchall()
        except Exception:
            failed.append((label, "DUCKDB ERROR:\n" + traceback.format_exc()))
            continue
        sc, sr = canonical_rows(s_cols, s_raw, norm)
        dc, dr = canonical_rows(d_cols, d_raw, norm)
        if not lenient and len(s_raw) == len(d_raw):
            ts = type_split(s_raw, d_raw)
            if ts:
                warned.append(
                    (label, f"DECIMAL-vs-DOUBLE split in columns {ts} "
                     f"(driver hash hazard even if strs match)")
                )
        if sc != dc:
            failed.append((label, f"column mismatch: spark={sc} duck={dc}"))
        elif len(sr) != len(dr):
            failed.append(
                (label, f"row count mismatch: spark={len(sr)} duck={len(dr)}")
            )
        elif sr != dr:
            diffs = [
                (a, b) for a, b in zip(sr, dr) if a != b
            ][:3]
            extra = f" first diffs: {diffs}" if diffs else " (ordering-level diff)"
            failed.append((label, f"value mismatch ({len(sr)} rows).{extra}"))
        else:
            passed.append((label, f"{len(sr)} rows", time.time() - t0))

    for name, info, dt in passed:
        print(f"PASS {name:32s} {info} [{dt:.1f}s]")
    for name, info in warned:
        print(f"WARN {name:32s} {info}")
    for name, info in failed:
        print(f"FAIL {name:32s} {info}")
    mode = "lenient" if lenient else "strict"
    if repeat:
        mode += f", repeat seed={REPEAT_SEED}"
    print(
        f"\n{len(passed)} passed, {len(failed)} failed, "
        f"{len(warned)} type-warned, mode={mode}, sf_dir={sf_dir}"
    )
    spark.stop()
    return 1 if (failed or warned) else 0


if __name__ == "__main__":
    raise SystemExit(main())
