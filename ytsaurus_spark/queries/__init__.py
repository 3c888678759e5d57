"""Query registry: every implemented operator from SURVEY.md §2 shows up here
as a named (spark_fn, oracle_sql) pair.

- ``spark_fn(spark, sf_dir) -> DataFrame`` — the engine-side implementation.
- ``oracle_sql`` — equivalent ANSI SQL for DuckDB over the same parquet
  tables (views pre-registered by the driver), or ``None`` for ops that
  aren't SQL-expressible (the driver then records a rows-only check).

Conventions that keep Spark and DuckDB hash-identical:
- alias every computed column identically on both sides;
- NEVER finish a double aggregate with ``round(x, N)`` — Spark rounds the
  shortest decimal repr while DuckDB rounds the binary value, so a ratio
  landing on x.xxx5 is a cross-engine coin flip. Instead scale to an exact
  integer PER ELEMENT and cast before summing — ``sum(CAST(round(x * 100)
  AS BIGINT))`` in SQL, ``F.sum(F.round(c * 100).cast("long"))`` in the
  DataFrame API — so the sum is an exact, order-independent integer at any
  scale factor; then finish ratios/averages with a half-up floor over
  explicit DOUBLE math: ``CAST(floor(CAST(num AS DOUBLE) * 1eN / den + 0.5)
  AS BIGINT) / 1eN``;
- ``spark.sql`` bodies must divide by ``1eN``-notation literals, never
  ``100.0``-style: Spark parses ``100.0`` as DECIMAL (DuckDB as DOUBLE),
  and the driver hashes exact reprs, so a DecimalType output column fails
  every row (the round-5 q8/q9 regression). ``1eN`` is DOUBLE in both.
  DataFrame-API bodies are safe (Python floats are DoubleType);
- cast DuckDB integer ``sum()`` to BIGINT when the sum itself is an output
  column (DuckDB widens to HUGEINT);
- project timestamps through a shared string format.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[SparkQuery, str | None]] = {}


def local_result(spark: SparkSession, rows, schema) -> DataFrame:
    """DataFrame over already-collected lifecycle-scenario rows.

    ``createDataFrame(list)`` parallelizes into ``defaultParallelism``
    slices — 32 task launches per downstream action for a 41-row result.
    The rows are driver-local by construction (the scenario collected
    them), so slice by SIZE, not cluster width: one slice per 64k rows.
    Values, order and schema are untouched."""
    slices = max(1, -(-len(rows) // 65536))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema=schema
    )


def register(name: str, oracle: str | None):
    """Decorator: add a query to the registry."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name}")
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def _with_session_bootstrap(fn: SparkQuery) -> SparkQuery:
    """Wrap a query so a caller-provided session is self-configured first
    (nanosAsLong / UTC / Arrow confs) — see session.ensure_runtime_confs.
    Catalog.__post_init__ does the same; this covers queries that build
    inputs without going through the catalog.

    The wrapper also owns the query's caches (``operators.owned``): every
    frame the build materializes is released once the caller drops the
    returned frame, so no cached block outlives its query."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ytsaurus_spark.operators import owned
        from ytsaurus_spark.session import ensure_runtime_confs

        ensure_runtime_confs(spark)
        return owned(fn, spark, sf_dir)

    return wrapped


def all_queries() -> dict[str, SparkQuery]:
    _load()
    return {k: _with_session_bootstrap(v[0]) for k, v in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load()
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


_LOADED = False


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    # import for side effect: modules call register() at import time
    from ytsaurus_spark.queries import (  # noqa: F401
        aggregates,
        analytics_q,
        chyt_q,
        curation_q,
        dynamic_q,
        formats_q,
        llm,
        mapreduce,
        ql,
        streaming_q,
        surface_q,
        tpcds2_q,
        tpcds_q,
        windows,
        yql_opt_q,
        yql_q,
    )

    _LOADED = True
