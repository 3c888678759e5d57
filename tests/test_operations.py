"""Operation-layer unit tests: Map/Reduce/Sort/Merge/Erase semantics on
micro-fixtures, mirroring the reference's controller integration tests
(yt/yt/tests/integration/controller/) at unit scale.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import rows_set
from ytsaurus_spark.operators import map_reduce as mr


@pytest.fixture()
def grp(spark):
    return spark.createDataFrame(
        [(1, 30, "x"), (1, 10, "y"), (2, 5, "x"), (2, 7, "z"), (3, 1, "q")],
        "a bigint, b bigint, s string",
    )


def test_run_map(spark, grp):
    def mapper(batches):
        for pdf in batches:
            yield pd.DataFrame({"a": pdf["a"], "b2": pdf["b"] * 2})

    out = mr.run_map(grp, mapper, "a bigint, b2 bigint")
    assert rows_set(out) == {(1, 60), (1, 20), (2, 10), (2, 14), (3, 2)}


def test_run_map_ordered(spark, tmp_path):
    # ordered=True must return output in the input DataFrame's own order
    # (partition id + position), surviving multi-file scans whose partition
    # packing does not follow file order.
    path = str(tmp_path / "m.parquet")
    spark.range(200).select(F.col("id").alias("v")).repartition(7).write.parquet(path)
    df = spark.read.parquet(path)
    expected = [r.v * 3 for r in df.collect()]

    def mapper(batches):
        for pdf in batches:
            yield pd.DataFrame({"t": pdf["v"] * 3})

    out = mr.run_map(df, mapper, "t bigint", ordered=True)
    assert [r.t for r in out.collect()] == expected
    assert out.columns == ["t"]


def test_run_reduce_key_guarantee(spark, grp):
    seen_keys = []

    def reducer(pdf):
        # key guarantee: exactly one distinct key per call
        keys = pdf["a"].unique()
        assert len(keys) == 1
        return pd.DataFrame({"a": [keys[0]], "n": [len(pdf)], "sb": [pdf["b"].sum()]})

    out = mr.run_reduce(grp, ["a"], reducer, "a bigint, n bigint, sb bigint")
    assert rows_set(out) == {(1, 2, 40), (2, 2, 12), (3, 1, 1)}
    del seen_keys


def test_run_reduce_secondary_sort(spark, grp):
    def reducer(pdf):
        # secondary sort: rows arrive ordered by b within the key
        assert list(pdf["b"]) == sorted(pdf["b"])
        return pd.DataFrame({"a": [pdf["a"].iloc[0]], "first_s": [pdf["s"].iloc[0]]})

    out = mr.run_reduce(
        grp, ["a"], reducer, "a bigint, first_s string", sort_by=["a", "b"]
    )
    assert rows_set(out) == {(1, "y"), (2, "x"), (3, "q")}


def _small_batches(spark):
    """A clone of the test session whose Arrow batches hold two rows, so a
    key group of three rows straddles a batch boundary."""
    from pyspark.sql import SparkSession

    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    clone.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    return clone


NAN = float("nan")


@pytest.mark.parametrize(
    "ddl, keys, want",
    [
        ("k bigint", [1, 1, None, None, None, 2], {1: 2, None: 3, 2: 1}),
        # pandas -> Arrow turns the reducer's NaN key into NULL on the way
        # out (from_pandas), so the whole NaN group reads back as k=None
        ("k double", [1.0, 1.0, NAN, NAN, NAN, 2.0], {1.0: 2, None: 3, 2.0: 1}),
        ("k string", ["a", "a", None, None, None, "b"], {"a": 2, None: 3, "b": 1}),
    ],
    ids=["null_bigint", "nan_double", "null_string"],
)
def test_null_and_nan_keys_reach_the_reducer_whole(spark, ddl, keys, want):
    """NULL equals NULL and NaN equals NaN in the carry's key test, as in
    Spark's grouping: a three-row NULL/NaN group split over two-row Arrow
    batches is reduced once, whole (pandas ``==`` reduced it twice)."""
    df = _small_batches(spark).createDataFrame(
        [(k, i) for i, k in enumerate(keys)], f"{ddl}, v bigint"
    )
    schema = f"{ddl}, n bigint"

    def reducer(g: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k": [g["k"].iloc[0]], "n": [len(g)]})

    def batch_reducer(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.groupby("k", sort=False, dropna=False).size().rename(
            "n").reset_index()

    for out in (
        mr.run_reduce(df, ["k"], reducer, schema, num_partitions=1),
        mr.run_reduce_batched(df, ["k"], batch_reducer, schema,
                              num_partitions=1),
    ):
        got = [tuple(r) for r in out.collect()]
        assert len(got) == len(want) and dict(got) == want, got


def test_run_reduce_sort_by_must_extend_reduce_by(spark, grp):
    with pytest.raises(ValueError):
        mr.run_reduce(grp, ["a"], lambda p: p, "a bigint", sort_by=["b"])


def test_run_sort_global_order(spark, grp):
    out = mr.run_sort(grp, ["b"], num_partitions=2)
    # partitions are range-ordered; reading in partition order = total order
    vals = [r.b for r in out.collect()]
    assert vals == sorted(vals)


def test_run_merge_modes(spark):
    a = spark.createDataFrame([(1,), (3,)], "k bigint")
    b = spark.createDataFrame([(2,), (4,)], "k bigint")
    assert rows_set(mr.run_merge([a, b])) == {(1,), (2,), (3,), (4,)}
    merged = mr.run_merge([a, b], mode="sorted", merge_by=["k"])
    assert [r.k for r in merged.collect()] == [1, 2, 3, 4]
    with pytest.raises(ValueError):
        mr.run_merge([a, b], mode="sorted")
    with pytest.raises(ValueError):
        mr.run_merge([])


def test_run_erase(spark, grp):
    out = mr.run_erase(grp, F.col("a") == 2)
    assert rows_set(out.select("a")) == {(1,), (3,)}


def test_run_erase_keeps_rows_whose_predicate_is_null(spark):
    df = spark.createDataFrame([(1,), (5,), (None,)], "k bigint")
    assert rows_set(mr.run_erase(df, F.col("k") < 3)) == {(5,), (None,)}


def test_input_query_pushdown(spark, grp):
    out = mr.apply_input_query(grp, "SELECT a, b FROM __input WHERE b > 6")
    assert rows_set(out) == {(1, 30), (1, 10), (2, 7)}


def test_join_reduce(spark, grp):
    foreign = spark.createDataFrame([(1, "one"), (2, "two")], "a bigint, name string")

    def reducer(pdf):
        return pd.DataFrame(
            {
                "a": [pdf["a"].iloc[0]],
                "n": [len(pdf)],
                "name": [pdf["name"].iloc[0]],
            }
        )

    out = mr.run_join_reduce(
        grp, foreign, ["a"], reducer, "a bigint, n bigint, name string"
    )
    got = rows_set(out)
    assert (1, 2, "one") in got and (2, 2, "two") in got
    # key 3 has no foreign row -> left-join null name
    assert (3, 1, None) in got


def test_sample_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "k bigint")
    out = mr.sample_rows_deterministic(df, "k", 10)
    assert rows_set(out) == {(i,) for i in range(0, 100, 10)}


def test_run_sort_descending_key(spark, grp):
    out = mr.run_sort(grp, ["b desc"], num_partitions=2)
    vals = [r.b for r in out.collect()]
    assert vals == sorted(vals, reverse=True)


def test_run_sort_mixed_order(spark, grp):
    out = mr.run_sort(grp, ["a", "b desc"], num_partitions=2)
    rows = [(r.a, r.b) for r in out.collect()]
    assert rows == sorted(rows, key=lambda x: (x[0], -x[1]))


def test_run_vanilla_two_tasks(spark):
    import pandas as pd

    def producer(job_index: int) -> pd.DataFrame:
        return pd.DataFrame({"job": [job_index] * 3, "v": list(range(3))})

    def singleton(job_index: int) -> pd.DataFrame:
        return pd.DataFrame({"msg": [f"job-{job_index}"]})

    out = mr.run_vanilla(
        spark,
        {
            "produce": (4, producer, "job bigint, v bigint"),
            "one": (1, singleton, "msg string"),
        },
    )
    produce = out["produce"].collect()
    assert len(produce) == 12  # 4 jobs x 3 rows
    assert {r.job for r in produce} == {0, 1, 2, 3}  # every job ran exactly once
    assert rows_set(out["one"]) == {("job-0",)}


def test_run_vanilla_one_spark_task_per_job(spark):
    import pandas as pd
    from pyspark import TaskContext

    def report(job_index: int) -> pd.DataFrame:
        return pd.DataFrame({"job": [job_index], "pid": [TaskContext.get().partitionId()]})

    out = mr.run_vanilla(spark, {"t": (6, report, "job bigint, pid int")})["t"].collect()
    # each job landed in its own Spark task/partition
    assert len({r.pid for r in out}) == 6


def test_run_operation_spec_map_reduce(spark, sf_dir, tmp_path):
    # The yt.wrapper-style spec dict drives the same operators end to end,
    # including input_query pushdown and an output-table commit.
    from ytsaurus_spark.catalog import load_tables

    cat = load_tables(spark, sf_dir)

    def mapper(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"k": pdf["o_custkey"] % 10, "price": pdf["o_totalprice"]}
            )

    def reducer(pdf):
        return pd.DataFrame(
            {"k": [pdf["k"].iloc[0]], "total": [float(pdf["price"].sum())]}
        )

    out = mr.run_operation(
        cat,
        {
            "operation_type": "map_reduce",
            "input_table_paths": ["orders"],
            "input_query": "SELECT * FROM __input WHERE o_orderkey % 2 = 0",
            "mapper": {"command": mapper, "output_schema": "k bigint, price double"},
            "reducer": {"command": reducer, "output_schema": "k bigint, total double"},
            "reduce_by": ["k"],
        },
    )
    rows = {r.k: round(r.total, 2) for r in out.collect()}
    assert set(rows) == set(range(10))
    # cross-check one bucket against a direct aggregate
    expect = (
        cat.read("orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .filter(F.col("o_custkey") % 10 == 3)
        .agg(F.sum("o_totalprice"))
        .collect()[0][0]
    )
    assert rows[3] == round(expect, 2)


def test_run_operation_spec_sort_erase_merge(spark, sf_dir):
    from ytsaurus_spark.catalog import load_tables

    cat = load_tables(spark, sf_dir)
    s = mr.run_operation(
        cat,
        {"operation_type": "sort", "input_table_paths": ["nation"],
         "sort_by": ["n_name"]},
    )
    names = [r.n_name for r in s.collect()]
    assert names == sorted(names)
    e = mr.run_operation(
        cat,
        {"operation_type": "erase", "input_table_paths": ["nation"],
         "erase_predicate": F.col("n_regionkey") == 0},
    )
    assert e.filter(F.col("n_regionkey") == 0).count() == 0
    # the documented spec key also takes SQL text
    e = mr.run_operation(
        cat,
        {"operation_type": "erase", "input_table_paths": ["nation"],
         "erase_predicate": "n_regionkey = 0"},
    )
    assert e.filter(F.col("n_regionkey") == 0).count() == 0
    assert e.count() == cat.read("nation").count() - 5
    m = mr.run_operation(
        cat,
        {"operation_type": "merge", "input_table_paths": ["nation", "nation"]},
    )
    assert m.count() == 2 * cat.read("nation").count()


def test_run_operation_maps_a_catalog_table_in_place(spark, tmp_path):
    import glob

    from ytsaurus_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    cat.create_table("t", spark.createDataFrame([(1,), (2,)], "k bigint"))
    out = mr.run_operation(cat, {
        "operation_type": "map",
        "input_table_paths": ["t"],
        "output_table_path": "t",
        "mapper": {
            "command": lambda batches: (
                pdf.assign(k=pdf["k"] * 10) for pdf in batches),
            "output_schema": "k bigint",
        },
    })
    assert rows_set(out) == {(10,), (20,)}
    assert glob.glob(str(tmp_path / "t.parquet" / "*.parquet"))
    assert sorted(os.listdir(tmp_path)) == ["t.parquet"]


def test_run_operation_spec_vanilla(spark, sf_dir):
    from ytsaurus_spark.catalog import load_tables

    cat = load_tables(spark, sf_dir)
    outs = mr.run_operation(
        cat,
        {
            "operation_type": "vanilla",
            "tasks": {
                "gen": {
                    "job_count": 3,
                    "command": lambda i: pd.DataFrame({"job": [i], "x": [i * i]}),
                    "output_schema": "job bigint, x bigint",
                }
            },
        },
    )
    assert rows_set(outs["gen"]) == {(0, 0), (1, 1), (2, 4)}


def test_operation_tracker_lifecycle(spark, sf_dir):
    from ytsaurus_spark.catalog import load_tables

    cat = load_tables(spark, sf_dir)
    tr = mr.OperationTracker()
    mr.run_operation(
        cat,
        {"operation_type": "sort", "input_table_paths": ["region"],
         "sort_by": ["r_name"]},
        tracker=tr,
    ).collect()
    with pytest.raises(ValueError):
        mr.run_operation(cat, {"operation_type": "nonsense"}, tracker=tr)
    ops = tr.list_operations()
    assert [o["state"] for o in ops] == ["completed", "failed"]
    assert tr.list_operations(state="failed")[0]["error"].startswith("ValueError")
    done = tr.get_operation(ops[0]["id"])
    assert done["operation_type"] == "sort" and done["finish_time"] is not None


def test_python_stage_width_floor_and_byte_term(spark, sf_dir):
    """python_stage_width floors a per-key Python reduce stage at cluster
    parallelism (AQE's byte coalescing would otherwise run the whole
    per-key pass on one core) and switches to the byte-derived count
    once the input is large enough to split naturally."""
    import os

    from ytsaurus_spark.catalog import load_tables
    from ytsaurus_spark.operators import python_stage_width

    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders")
    floor = spark.sparkContext.defaultParallelism
    # a fixture-sized input is below one split per core -> the floor binds
    assert python_stage_width(orders) == floor
    # shrink the split size so the byte term exceeds the floor: the
    # derivation must follow the bytes, proving it is not a constant
    f = [p for p in orders.inputFiles() if p.startswith("file:")][0]
    size = os.path.getsize(f[len("file:"):])
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes",
            str(max(1, size // (floor * 2))),
        )
        assert python_stage_width(orders) >= floor * 2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_multi_input_reduce_rides_wide_python_stage(spark, sf_dir):
    """The multi-input reduce's keyed shuffle is pinned at
    python_stage_width (per-key Python cost, not bytes): the executed
    plan's mapInPandas stage must carry at least cluster-parallelism
    partitions instead of AQE's byte-coalesced one."""
    import pandas as pd

    from ytsaurus_spark.catalog import load_tables

    cat = load_tables(spark, sf_dir)
    cust = cat.read("customer").selectExpr("c_custkey AS k")
    orders = cat.read("orders").selectExpr("o_custkey AS k")

    def reducer(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "n": [len(pdf)]})

    out = mr.run_reduce_multi_input(
        [cust, orders], ["k"], reducer, "k bigint, n bigint"
    )
    out.count()
    assert (
        out.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )
