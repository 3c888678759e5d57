"""SparkSession factory tuned for the engine's execution profile.

The reference achieves scale via tablet/chunk parallelism plus LLVM codegen
(yt/yt/library/query/engine/evaluator.cpp, cg_fragment_compiler.cpp); on Spark
the equivalents are whole-stage codegen, AQE runtime re-planning, and the
vectorized parquet reader — all enabled here. At 100 TB on a real cluster the
same confs apply; only `master` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ytsaurus_spark.sources import part_files

# Confs chosen for scale-readiness, not just the local test rig:
# - AQE coalescing replaces the reference's auto-merge of small chunks
#   (yt/yt/server/controller_agent/auto_merge_task.cpp).
# - AQE skew-join replaces manual salting for hot keys.
# - Arrow execution makes every Pandas-UDF boundary a columnar batch hop.
# - 128 MB maxPartitionBytes ≈ the reference's 64M data_size_per_partition
#   pragma doubled for parquet compression (yt/benchmarks/run/public_pragmas).
_BASE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bigger Arrow batches amortize the Python-call overhead of
    # mapInPandas/applyInPandas user code (default 10k rows is tuned for
    # latency, not batch throughput).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Parquet TIMESTAMP(NANOS) columns (events.ts in earlier fixture
    # generations) are not a Spark timestamp type; read them as long and let
    # the catalog convert ns → µs explicitly (truncation matches DuckDB's
    # ns→µs cast). Harmless when the fixtures carry µs timestamps.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamps without isAdjustedToUTC read as TIMESTAMP (LTZ,
    # rendered in the UTC session zone) rather than TIMESTAMP_NTZ: NTZ
    # forbids numeric casts (epoch arithmetic) and DuckDB renders its naive
    # TIMESTAMP identically to LTZ-in-UTC, so LTZ keeps oracle hash parity.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.ui.enabled": "false",
    # keep managed-table storage (bucketed tables) out of the repo tree
    "spark.sql.warehouse.dir": "/tmp/ytsaurus_spark_warehouse",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


# Confs that can be applied at runtime to a session we did NOT build —
# everything the engine's correctness depends on (nanos parquet reads,
# UTC timestamp rendering for oracle parity, Arrow-batched pandas ops).
# Static-only confs (warehouse dir, driver memory, UI) are excluded: they
# can only be set at build time and don't affect correctness.
_RUNTIME_CONFS: dict[str, str] = {
    k: v
    for k, v in _BASE_CONFS.items()
    if k.startswith("spark.sql.") and k != "spark.sql.warehouse.dir"
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Self-configure a *caller-provided* SparkSession.

    The reference's readers are self-contained — a client never has to
    pre-configure connection state to read a table
    (yt/yt/client/api/table_client.h:350-354). Spark sessions, by contrast,
    carry reader-critical confs (``spark.sql.legacy.parquet.nanosAsLong``
    for the fixtures' TIMESTAMP(NANOS) columns, session time zone, Arrow
    execution). Any entry point that receives a foreign session — the
    driver harness passes its own — must call this before reading parquet.
    All of these are runtime-settable SQL confs; failures on a restricted
    session are tolerated per-conf rather than aborting. The session also
    gets the part-file formats (``sources.part_files.register``).
    """
    confs = dict(_RUNTIME_CONFS)
    # A foreign session defaults to 200 shuffle partitions — far too many
    # for local[N]; size to the core budget (cluster deployments should
    # instead set 2-3× total cores, see get_spark docstring).
    confs["spark.sql.shuffle.partitions"] = os.environ.get("SPARK_GRAFT_CPUS", "32")
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    part_files.register(spark)
    return spark


def get_spark(
    app_name: str = "ytsaurus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster this should be ~2-3× total executor cores instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    confs = dict(_BASE_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    part_files.register(spark)
    return spark
