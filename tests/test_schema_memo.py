"""The process-wide parquet schema memo (catalog.read_parquet): a hit must
plan exactly the relation plain inference plans, writer-seeded entries
must equal what inference would return, and any change to the files or
to a schema-relevant session conf must miss."""

from __future__ import annotations

import datetime
import decimal
import os
import re
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ytsaurus_spark.catalog import (
    TABLE_NAMES,
    Catalog,
    _local_listing,
    _memo_get,
    _schema_keys,
    read_parquet,
    record_parquet_schema,
)
from ytsaurus_spark.plans import formatted_plan


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` ran) via a private job group."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _memo_entry(spark, path):
    keys = _schema_keys(spark, (path,))
    return None if keys is None else _memo_get(keys[0])


def _normalised_plan(df) -> str:
    return re.sub(r"#\d+L?", "#", formatted_plan(df))


def test_fixture_tables_hit_equals_inference(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    for name in TABLE_NAMES:
        path = cat.table_path(name)
        if not os.path.exists(path):
            continue
        read_parquet(spark, path)  # make sure the entry exists
        memo, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == 0, name
        plain = spark.read.parquet(path)
        assert memo.schema == plain.schema, name
        assert _normalised_plan(memo) == _normalised_plan(plain), name
        # a pruned, filtered read plans identically too
        col = plain.columns[0]
        assert _normalised_plan(memo.select(col).filter(F.col(col).isNotNull())) \
            == _normalised_plan(plain.select(col).filter(F.col(col).isNotNull())), name


def _typed_frame(spark):
    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("dec", T.DecimalType(18, 4)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("arr", T.ArrayType(T.IntegerType(), False)),
        T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("st", T.StructType([
            T.StructField("a", T.StringType(), False),
            T.StructField("b", T.ArrayType(T.StructType([
                T.StructField("x", T.LongType())]))),
        ])),
        T.StructField("all_null", T.StringType()),
        T.StructField("all_null_dec", T.DecimalType(10, 2)),
    ])
    rows = [
        (i, decimal.Decimal(f"{i}.1250"),
         datetime.datetime(2024, 1, 1, 12, i), datetime.datetime(2024, 2, 1, i),
         [i, i + 1], {"a": i * 0.5}, (f"s{i}", [(i,)]), None, None)
        for i in range(3)
    ]
    return spark.createDataFrame(rows, schema).withColumn(
        "tagged", F.col("k").alias("tagged", metadata={"comment": "kept"}))


def test_writer_seeded_entries_equal_inference(spark, tmp_path):
    from ytsaurus_spark.sources.tx_table import LogTxTable
    from ytsaurus_spark.streaming.queues import DurableQueue

    df = _typed_frame(spark)
    written = []

    log = LogTxTable(spark, str(tmp_path / "log"), key_cols=["k"])
    log.init(df)
    written.append(str(tmp_path / "log" / "s0"))

    q = DurableQueue(spark, str(tmp_path / "q"))
    q.create_session("p").push_batch(df)
    written += [os.path.join(q.path, s["dir"]) for s in q._state()["segments"]]

    cat = Catalog(spark, str(tmp_path / "cat"))
    os.makedirs(cat.root)
    cat.create_table("typed", df)
    written.append(cat.table_path("typed"))

    for path in written:
        memo = _memo_entry(spark, path)
        assert memo is not None, path
        assert memo == spark.read.parquet(path).schema, path

    # the routed reads plan without inference and return the rows
    for read in (log.read, q.read, lambda: cat.read("typed")):
        out, jobs = _jobs(spark, read)
        assert jobs == 0
        assert out.count() == 3


def test_rewrite_misses(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.range(3).write.parquet(d)
    assert read_parquet(spark, d).columns == ["id"]
    # rewritten behind the memo's back (no recording writer)
    spark.range(3).select(F.col("id").cast("string").alias("s")).write \
        .mode("overwrite").parquet(d)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, d))
    assert df.columns == ["s"] and jobs > 0

    f = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), f)
    assert read_parquet(spark, f).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), f)
    assert read_parquet(spark, f).columns == ["b", "c"]


def test_multi_path_read(spark, tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    for p in (a, b):
        spark.range(2).write.parquet(p)
        record_parquet_schema(spark, p, spark.range(2).schema)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, a, b))
    assert jobs == 0 and df.count() == 4
    # per-path entries that disagree fall back to inference
    spark.range(2).select(F.col("id").alias("other")).write.parquet(c)
    read_parquet(spark, c)
    df = read_parquet(spark, a, c)
    assert df.schema == spark.read.parquet(a, c).schema


def test_conf_change_misses(spark, tmp_path):
    f = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"t": ts}), f)

    s_true = spark.newSession()
    s_true.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert read_parquet(s_true, f).schema["t"].dataType == T.LongType()

    s_false = spark.newSession()
    s_false.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        plain = s_false.read.parquet(f).schema
    except Exception as e:  # noqa: BLE001 - Spark refuses NANOS without the legacy conf
        with pytest.raises(type(e)):
            read_parquet(s_false, f)
    else:
        assert read_parquet(s_false, f).schema == plain
        assert plain["t"].dataType != T.LongType()

    u = str(tmp_path / "ntz.parquet")
    pq.write_table(pa.table({"t": pa.array([0], pa.timestamp("us"))}), u)
    for flag, want in (("true", T.TimestampNTZType()), ("false", T.TimestampType())):
        s = spark.newSession()
        s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", flag)
        assert read_parquet(s, u).schema["t"].dataType == want


def test_non_local_paths_keep_inference(spark, tmp_path):
    assert _local_listing("s3a://bucket/table") is None
    assert _local_listing("hdfs://nn:8020/t") is None
    assert _local_listing(str(tmp_path / "missing")) is None
    assert _local_listing(str(tmp_path / "*.parquet")) is None
    d = str(tmp_path / "t")
    spark.range(2).write.parquet(d)
    assert _local_listing("file://" + d) == _local_listing(d)
    assert read_parquet(spark, "file://" + d).count() == 2


def test_concurrent_seed_and_read(spark, tmp_path):
    dirs = [str(tmp_path / f"d{i}") for i in range(4)]
    for d in dirs:
        spark.range(2).write.parquet(d)

    def work(d):
        record_parquet_schema(spark, d, spark.range(2).schema)
        return read_parquet(spark, d).schema

    with ThreadPoolExecutor(max_workers=4) as pool:
        schemas = list(pool.map(work, dirs * 4))
    assert all(s == spark.read.parquet(dirs[0]).schema for s in schemas)
