"""YtClient facade: reference call sites against the cypress namespace."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from ytsaurus_spark.client import YPathError, YtClient


@pytest.fixture()
def client(spark, tmp_path):
    return YtClient(root=str(tmp_path / "cluster"), spark=spark)


def test_node_lifecycle(client, spark):
    client.create("map_node", "//home/analytics")
    assert client.exists("//home/analytics")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string")
    client.write_table("//home/analytics/t", df)
    assert client.list("//home/analytics") == ["t"]
    assert client.row_count("//home/analytics/t") == 2
    client.copy("//home/analytics/t", "//home/analytics/t2")
    client.move("//home/analytics/t2", "//home/analytics/t3")
    assert sorted(client.list("//home/analytics")) == ["t", "t3"]
    client.remove("//home/analytics/t3", recursive=True)
    assert not client.exists("//home/analytics/t3")
    with pytest.raises(YPathError):
        client.create("map_node", "//home/analytics")  # already exists


def test_rich_path_reads_and_attributes(client, spark):
    df = spark.createDataFrame([(i, f"s{i}") for i in range(10)], "k bigint, s string")
    client.write_table("//t", df)
    assert client.read_table("//t{k}").columns == ["k"]
    assert client.read_table("//t[#2:#5]").count() == 3
    client.set("//t/@owner", "etl")
    assert client.get("//t/@owner") == "etl"
    assert client.get("//t/@row_count") == 10


def test_append_write(client, spark):
    df = spark.createDataFrame([(1,)], "k bigint")
    client.write_table("//a", df)
    client.write_table("//a", df, append=True)
    assert client.row_count("//a") == 2


def test_dynamic_table_roundtrip(client, spark):
    schema = [{"name": "k", "type": "int64", "sort_order": "ascending"},
              {"name": "v", "type": "int64"}]
    client.create("table", "//dyn", attributes={"dynamic": True, "schema": schema})
    client.insert_rows("//dyn", spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint"))
    client.insert_rows("//dyn", spark.createDataFrame([(2, 21), (3, 30)], "k bigint, v bigint"))
    got = {r.k: r.v for r in client.read_table("//dyn").collect()}
    assert got == {1: 10, 2: 21, 3: 30}
    client.delete_rows("//dyn", spark.createDataFrame([(1,)], "k bigint"))
    keys = spark.createDataFrame([(2,), (9,)], "k bigint")
    assert {r.k for r in client.lookup_rows("//dyn", keys).collect()} == {2}
    client.freeze_table("//dyn")
    from ytsaurus_spark.sources.tx_table import FrozenTabletError

    with pytest.raises(FrozenTabletError):
        client.insert_rows("//dyn", spark.createDataFrame([(5, 50)], "k bigint, v bigint"))
    client.unfreeze_table("//dyn")


def test_select_rows_over_paths(client, spark):
    df = spark.createDataFrame([(1, 5), (1, 7), (2, 9)], "u bigint, v bigint")
    client.write_table("//home/ev", df)
    out = client.select_rows("u, sum(v) AS s FROM [//home/ev] GROUP BY u")
    assert {(r.u, r.s) for r in out.collect()} == {(1, 12), (2, 9)}


def test_run_sort_merge_erase_and_operation(client, spark):
    a = spark.createDataFrame([(3, "c"), (1, "a")], "k bigint, s string")
    b = spark.createDataFrame([(2, "b")], "k bigint, s string")
    client.write_table("//ta", a)
    client.write_table("//tb", b)
    client.run_sort("//ta", sort_by=["k"])
    assert client.get("//ta/@sorted_by") == ["k"]
    client.run_merge(["//ta", "//tb"], "//merged")
    assert client.row_count("//merged") == 3
    client.run_erase("//merged", "k = 2")
    assert client.row_count("//merged") == 2
    client.run_operation(
        {
            "operation_type": "map",
            "input_table_paths": ["//ta"],
            "output_table_path": "//mapped",
            "mapper": {
                # mapInPandas runner contract: iterator of batches in/out
                "command": lambda batches: (
                    pdf.assign(k2=pdf["k"] * 2)[["k2"]] for pdf in batches
                ),
                "output_schema": "k2 bigint",
            },
        }
    )
    assert {r.k2 for r in client.read_table("//mapped").collect()} == {2, 6}
    client.concatenate(["//ta", "//tb"], "//linked")
    from ytsaurus_spark.sources.formats import read_concatenated

    assert read_concatenated(spark, client._fs("//linked")).count() == 3


def test_overwrite_may_read_its_own_table(client, spark):
    # the frame's scan runs during the write: an overwrite in place must
    # not delete the files it is still reading, and keeps the attributes
    client.write_table("//t", spark.range(10).toDF("k"))
    client.set("//t/@owner", "etl")
    client.write_table("//t", client.read_table("//t").filter(F.col("k") < 5))
    assert sorted(r.k for r in client.read_table("//t").collect()) == [0, 1, 2, 3, 4]
    assert client.get("//t/@owner") == "etl"
    assert os.listdir(client.root) == ["t"]  # no staged copy left behind


def test_merge_and_map_into_their_own_input(client, spark):
    client.write_table("//m", spark.createDataFrame([(1,), (2,)], "k bigint"))
    client.run_merge(["//m"], "//m")
    assert sorted(r.k for r in client.read_table("//m").collect()) == [1, 2]
    client.run_merge(["//m", "//m"], "//m")
    assert client.row_count("//m") == 4
    client.run_operation({
        "operation_type": "map",
        "input_table_paths": ["//m"],
        "output_table_path": "//m",
        "mapper": {
            "command": lambda batches: (
                pdf.assign(k=pdf["k"] * 10) for pdf in batches),
            "output_schema": "k bigint",
        },
    })
    assert sorted(r.k for r in client.read_table("//m").collect()) == [10, 10, 20, 20]


def test_erase_keeps_rows_whose_predicate_is_null(client, spark):
    client.write_table("//e", spark.createDataFrame([(1,), (5,), (None,)], "k bigint"))
    client.run_erase("//e", "k < 3")
    got = [r.k for r in client.read_table("//e").collect()]
    assert sorted(got, key=lambda k: (k is None, k)) == [5, None]


def test_check_permission_acl_walk(client, spark):
    client.create("map_node", "//home/secure")
    df = spark.createDataFrame([(1,)], "k bigint")
    client.write_table("//home/secure/t", df)
    # allow at the parent, inherited by the table
    client.set("//home/secure/@acl", [
        {"subjects": ["alice"], "permissions": ["read"], "action": "allow"}
    ])
    assert client.check_permission("alice", "read", "//home/secure/t") == "allow"
    assert client.check_permission("bob", "read", "//home/secure/t") == "deny"
    assert client.check_permission("alice", "write", "//home/secure/t") == "deny"
    # node-level deny beats inherited allow
    client.set("//home/secure/t/@acl", [
        {"subjects": ["alice"], "permissions": ["read"], "action": "deny"}
    ])
    assert client.check_permission("alice", "read", "//home/secure/t") == "deny"
    # inherit_acl=false cuts the walk
    client.set("//home/secure/t/@acl", [])
    client.set("//home/secure/t/@inherit_acl", False)
    assert client.check_permission("alice", "read", "//home/secure/t") == "deny"


def test_file_nodes(client, spark):
    """write_file/read_file roundtrip (the reference's Cypress file nodes —
    job attachments, UDF-registry blobs); type checks and attribute
    visibility included."""
    client.write_file("//files/blob.bin", b"\x00\x01udf-bitcode\xff")
    assert client.read_file("//files/blob.bin") == b"\x00\x01udf-bitcode\xff"
    # overwrite is atomic and replaces content
    client.write_file("//files/blob.bin", b"v2")
    assert client.read_file("//files/blob.bin") == b"v2"
    assert client.exists("//files/blob.bin")
    assert client.get("//files/blob.bin/@type") == "file"
    # a table is not a file node
    client.write_table("//files/t", spark.range(3).toDF("x"))
    with pytest.raises(YPathError):
        client.read_file("//files/t")


def test_ordered_dynamic_table(spark, tmp_path):
    """Ordered (keyless) dynamic tables are append logs: insert order is
    the read order via a persisted $row_index, and rich-YPath
    ``<ranges=[{lower_limit={tablet_index=0; row_index=N}; ...}]>``
    prefixes bound reads by row index (reference:
    test_dynamic_tables.py:96 simple_ordered_table; single-tablet
    model — tablet_index > 0 addresses past the end)."""
    from ytsaurus_spark.client import YtClient

    c = YtClient(root=str(tmp_path), spark=spark)
    c.create("table", "//q/dt", attributes={
        "dynamic": True, "schema": [{"name": "data", "type": "string"}],
    })
    data = [(f"foo{i}",) for i in range(10)]
    for lo, hi in [(0, 2), (2, 5), (5, 10)]:
        c.insert_rows(
            "//q/dt", spark.createDataFrame(data[lo:hi], "data string"))

    got = [r.data for r in c.read_table("//q/dt").collect()]
    assert got == [f"foo{i}" for i in range(10)]  # insertion order

    rng = ("<ranges=[{lower_limit={tablet_index=0; row_index=3};"
           "upper_limit={tablet_index=0; row_index=8}}]>//q/dt")
    got = [r.data for r in c.read_table(rng).collect()]
    assert got == [f"foo{i}" for i in range(3, 8)]

    # a lower bound on tablet 1 is past the single tablet's data
    rng2 = ("<ranges=[{lower_limit={tablet_index=1; row_index=0};"
            "upper_limit={tablet_index=1; row_index=5}}]>//q/dt")
    assert c.read_table(rng2).count() == 0

    # empty ordered table reads as empty with the declared schema
    c.create("table", "//q/empty", attributes={
        "dynamic": True, "schema": [{"name": "x", "type": "int64"}],
    })
    df = c.read_table("//q/empty")
    assert df.count() == 0 and df.columns == ["x"]
