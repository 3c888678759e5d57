"""The one part-file DataSource behind skiff, ytproto and ytarrow
(``sources/part_files.py``): table layout, append schema check and
registration, each checked for all three formats."""

from __future__ import annotations

import os
import re

import pytest

from tests.conftest import rows_set
from ytsaurus_spark.sources import part_files
from ytsaurus_spark.sources.arrow import read_arrow, write_arrow
from ytsaurus_spark.sources.protobuf import read_proto, write_proto
from ytsaurus_spark.sources.skiff import (
    read_skiff,
    read_skiff_multi,
    write_skiff,
    write_skiff_multi,
)

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "ytsaurus_spark")

# format name → (write, read, part-file suffix)
FORMATS = {
    "skiff": (write_skiff, read_skiff, ".skiff"),
    "ytproto": (write_proto, read_proto, ".pb"),
    "ytarrow": (write_arrow, read_arrow, ".arrow"),
}
SCHEMA = "id bigint, s string, tags array<string>"


def _frame(spark, n: int = 5):
    return spark.createDataFrame(
        [(i, None if i % 3 == 0 else f"s{i}", [f"t{i}"] * (i % 2)) for i in range(n)],
        SCHEMA,
    )


def _parts(path: str, suffix: str) -> list[str]:
    return sorted(f for f in os.listdir(path) if f.endswith(suffix))


def _rows(df):
    return sorted((r.id, r.s, tuple(r.tags or ())) for r in df.collect())


@pytest.mark.parametrize("fmt", FORMATS)
def test_empty_frame_roundtrips(spark, tmp_path, fmt):
    write, read, _ = FORMATS[fmt]
    empty = spark.createDataFrame([], SCHEMA)
    path = str(tmp_path / "t")
    write(empty, path)
    back = read(spark, path)
    assert back.schema == empty.schema
    assert back.collect() == []


@pytest.mark.parametrize("fmt", FORMATS)
def test_more_partitions_than_rows(spark, tmp_path, fmt):
    write, read, suffix = FORMATS[fmt]
    df = _frame(spark, 3).repartition(8)
    path = str(tmp_path / "t")
    write(df, path)
    assert len(_parts(path, suffix)) == 8  # an empty partition writes its file
    back = read(spark, path)
    assert back.schema == df.schema
    assert _rows(back) == _rows(df)


@pytest.mark.parametrize("fmt", FORMATS)
def test_part_file_path_reads_like_its_directory(spark, tmp_path, fmt):
    write, read, suffix = FORMATS[fmt]
    path = str(tmp_path / "t")
    write(_frame(spark).coalesce(1), path)
    (part,) = _parts(path, suffix)
    one = read(spark, os.path.join(path, part))
    whole = read(spark, path)
    assert one.schema == whole.schema
    assert _rows(one) == _rows(whole)


@pytest.mark.parametrize("fmt", FORMATS)
def test_stray_files_are_ignored(spark, tmp_path, fmt):
    write, read, suffix = FORMATS[fmt]
    df = _frame(spark)
    path = str(tmp_path / "t")
    write(df, path)
    for stray in ("_SUCCESS", f"_stray{suffix}", f".part-0{suffix}.x.tmp",
                  "._schema.json.x.tmp"):
        with open(os.path.join(path, stray), "wb") as fh:
            fh.write(b"\x07garbage")
    assert _rows(read(spark, path)) == _rows(df)


@pytest.mark.parametrize("fmt", FORMATS)
def test_append_checks_the_recorded_schema(spark, tmp_path, fmt):
    write, read, _ = FORMATS[fmt]
    df = _frame(spark)
    path = str(tmp_path / "t")
    write(df, path)
    # same columns, field metadata aside: rows add up
    write(df.withMetadata("s", {"comment": "c"}), path, mode="append")
    assert len(read(spark, path).collect()) == 2 * df.count()
    before = sorted(os.listdir(path))
    other = spark.createDataFrame([(1, 2)], "id bigint, s bigint")
    with pytest.raises(Exception, match="cannot append") as err:
        write(other, path, mode="append")
    assert "s:string" in str(err.value) and "s:bigint" in str(err.value)
    assert sorted(os.listdir(path)) == before  # nothing written
    assert _rows(read(spark, path)) == sorted(_rows(df) * 2)


def test_multi_table_appends_keep_working(spark, tmp_path):
    a = _frame(spark)
    b = spark.createDataFrame([(1.5, True)], "v double, flag boolean")
    path = str(tmp_path / "m")
    write_skiff_multi([a, b], path)  # one append per table tag
    assert _rows(read_skiff_multi(spark, path, 0)) == _rows(a)
    assert rows_set(read_skiff_multi(spark, path, 1)) == rows_set(b)


def test_formats_found_on_a_statement_clone_left_active(spark, sf_dir, tmp_path):
    # Spark looks a Python data source up on the JVM's active session,
    # which a statement clone can be when the caller's write runs.
    from ytsaurus_spark.catalog import statement_session

    jclass = getattr(spark._jvm, "org.apache.spark.sql.classic.SparkSession")
    # createDataFrame makes its session active: build the frames first
    a = _frame(spark)
    b = spark.createDataFrame([(2.5,)], "v double")
    clone = statement_session(spark, sf_dir, "chyt")
    jclass.setActiveSession(clone._jsparkSession)
    try:
        path = str(tmp_path / "m")
        write_skiff_multi([a, b], path)
        assert _rows(read_skiff_multi(spark, path, 0)) == _rows(a)
        assert rows_set(read_skiff_multi(spark, path, 1)) == rows_set(b)
    finally:
        jclass.setActiveSession(spark._jsparkSession)


def test_register_skips_a_registered_session(spark, monkeypatch):
    from pyspark.sql.datasource import DataSourceRegistration

    calls = []
    monkeypatch.setattr(DataSourceRegistration, "register",
                        lambda self, cls: calls.append(cls.name()))
    part_files.register(spark)
    assert calls == []
    fresh = spark.newSession()
    part_files.register(fresh)
    assert calls == ["skiff", "ytproto", "ytarrow"]


def _matches(pattern: re.Pattern) -> list[tuple[str, str]]:
    out = []
    for dirpath, _dirs, files in os.walk(ROOT):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f), ROOT)
                with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                    out += [(rel, line.strip()) for line in fh if pattern.search(line)]
    return out


def test_one_part_file_plumbing():
    shared = os.path.join("sources", "part_files.py")
    registers = _matches(re.compile(r"dataSource\.register\("))
    assert [rel for rel, _ in registers] == [shared]
    base = re.compile(r"class \w+\((?:\w+\.)*(DataSource|InputPartition|DataSourceReader"
                      r"|DataSourceArrowWriter|WriterCommitMessage)\)")
    assert {rel for rel, _ in _matches(base)} == {shared}
