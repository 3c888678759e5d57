"""Operation-layer queries (SURVEY §2.2): each MapReduce operation type
driven end-to-end through ytsaurus_spark.operators.map_reduce with a DuckDB
oracle expressing the same semantics in SQL.

The user functions are deliberately non-trivial-but-deterministic so the
oracle can mirror them: arithmetic a SQL expression can reproduce.
"""

from __future__ import annotations

from collections.abc import Iterator

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import load_tables
from ytsaurus_spark.operators import map_reduce as mr, scratch_dir
from ytsaurus_spark.queries import register


# --- Map (unordered_controller.cpp; user job over batches) -----------------

@register(
    "op_map",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge,
           CASE WHEN l_discount > 0.06 THEN 'high' ELSE 'low' END AS disc_band
    FROM lineitem
    WHERE l_quantity >= 30
    """,
)
def op_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem").filter(F.col("l_quantity") >= 30)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "l_orderkey": pdf["l_orderkey"],
                    "l_linenumber": pdf["l_linenumber"],
                    "charge": (
                        pdf["l_extendedprice"]
                        * (1 - pdf["l_discount"])
                        * (1 + pdf["l_tax"])
                    ),
                    "disc_band": (pdf["l_discount"] > 0.06).map(
                        {True: "high", False: "low"}
                    ),
                }
            )
            yield out

    mapped = mr.run_map(
        li,
        mapper,
        "l_orderkey bigint, l_linenumber int, charge double, disc_band string",
    )
    # round JVM-side: true value has 6 decimal digits, so round(6) is an
    # identity on both engines (never a tie-break)
    return mapped.withColumn("charge", F.round("charge", 6))


# --- Reduce with key guarantee + secondary sort (sorted_controller.cpp) ----

@register(
    "op_reduce",
    """
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice), 2) AS total,
           CAST(first(l_linenumber ORDER BY l_shipdate, l_linenumber) AS INT)
             AS first_line
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def op_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")

    # SortedReduce scale path: the reducer receives multi-group sorted
    # batches and aggregates per key vectorized — thousands of keys per
    # Python call instead of one applyInPandas call per key (operation.h:2132
    # semantics preserved: each key arrives whole, rows sorted by sort_by).
    def batch_reducer(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby("l_orderkey", sort=False)
        out = g.agg(
            n_lines=("l_extendedprice", "size"),
            total=("l_extendedprice", "sum"),
            first_line=("l_linenumber", "first"),
        ).reset_index()
        out["total"] = out["total"].round(2)
        return out[["l_orderkey", "n_lines", "total", "first_line"]]

    return mr.run_reduce_batched(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"),
        ["l_orderkey"],
        batch_reducer,
        "l_orderkey bigint, n_lines bigint, total double, first_line int",
        sort_by=["l_orderkey", "l_shipdate", "l_linenumber"],
    )


# --- JoinReduce: foreign-table merge join then reduce ----------------------

@register(
    "op_join_reduce",
    """
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS spend,
           min(c_mktsegment) AS segment
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_custkey
    """,
)
def op_join_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders").withColumnRenamed("o_custkey", "c_custkey")
    cust = cat.read("customer").select("c_custkey", "c_mktsegment")

    def reducer(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "o_custkey": [pdf["c_custkey"].iloc[0]],
                "n_orders": [len(pdf)],
                "spend": [round(pdf["o_totalprice"].sum(), 2)],
                "segment": [pdf["c_mktsegment"].min()],
            }
        )

    # inner-join semantics via foreign broadcast + dropna contract: every
    # order has a customer in the fixture, so left join == inner here.
    return mr.run_join_reduce(
        orders,
        cust,
        ["c_custkey"],
        reducer,
        "o_custkey bigint, n_orders bigint, spend double, segment string",
    )


# --- Sort: range-partitioned distributed sort ------------------------------
# Order-insensitive hashing can't see row order, so the checkable artifact is
# the per-range layout: after run_sort, each partition holds a contiguous key
# range. We verify by tagging rows with their partition id and asserting the
# (partition → min/max key) map reconstructs the global order.

@register(
    "op_sort",
    """
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice,
             CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
               AS global_rank
      FROM orders
    )
    SELECT global_rank, o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM ranked WHERE global_rank <= 200
    """,
)
def op_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """run_sort verified scale-safely: ranking the FULL sorted output with
    a global row_number window would re-sort the fact on one executor, so
    instead the head is taken with orderBy+limit (TakeOrderedAndProject —
    per-partition heaps) and ranks attach to the 200-row result via a
    broadcast self-join count (rank = #rows ≤ self; keys are unique so
    this equals row_number), leaving no window anywhere in the plan."""
    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders").select("o_orderkey", "o_totalprice")
    sorted_df = mr.run_sort(orders, ["o_totalprice", "o_orderkey"], num_partitions=8)
    top = sorted_df.orderBy("o_totalprice", "o_orderkey").limit(200)
    b = top.select(
        F.col("o_totalprice").alias("b_p"), F.col("o_orderkey").alias("b_k")
    )
    return (
        top.join(
            F.broadcast(b),
            (F.col("b_p") < F.col("o_totalprice"))
            | (
                (F.col("b_p") == F.col("o_totalprice"))
                & (F.col("b_k") <= F.col("o_orderkey"))
            ),
        )
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.count(F.lit(1)).cast("bigint").alias("global_rank"))
        .select(
            "global_rank",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


# --- Merge: sorted k-way merge of pre-sorted halves ------------------------

@register(
    "op_merge_sorted",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    """,
)
def op_merge_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders").select("o_orderkey", "o_totalprice")
    lo = orders.filter(F.col("o_orderkey") % 2 == 0)
    hi = orders.filter(F.col("o_orderkey") % 2 == 1)
    lo_sorted = mr.run_sort(lo, ["o_orderkey"])
    hi_sorted = mr.run_sort(hi, ["o_orderkey"])
    return mr.run_merge([lo_sorted, hi_sorted], mode="sorted", merge_by=["o_orderkey"])


# --- Erase: key-range delete by complement rewrite -------------------------

@register(
    "op_erase",
    """
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE NOT (o_orderkey >= 100 AND o_orderkey < 500)
    """,
)
def op_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders").select("o_orderkey", "o_orderstatus")
    return mr.run_erase(
        orders, (F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 500)
    )


# --- MapReduce fused: mapper → combiner(partial agg) → reducer -------------

@register(
    "op_map_reduce",
    """
    SELECT disc_band, l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(net), 4) AS revenue
    FROM (
      SELECT l_returnflag,
             CASE WHEN l_discount > 0.06 THEN 'high' ELSE 'low' END AS disc_band,
             l_extendedprice * (1 - l_discount) AS net
      FROM lineitem
    ) mapped
    GROUP BY disc_band, l_returnflag
    """,
)
def op_map_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "disc_band": (pdf["l_discount"] > 0.06).map(
                        {True: "high", False: "low"}
                    ),
                    "l_returnflag": pdf["l_returnflag"],
                    "net": pdf["l_extendedprice"] * (1 - pdf["l_discount"]),
                }
            )

    mapped = mr.run_map(
        li.select("l_discount", "l_returnflag", "l_extendedprice"),
        mapper,
        "disc_band string, l_returnflag string, net double",
    )
    # The reducer is aggregation → expressed with groupBy().agg() so Spark's
    # partial aggregation plays the ReduceCombiner role automatically.
    return mapped.groupBy("disc_band", "l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("net"), 4).alias("revenue"),
    )


# --- input_query pushdown (operation_controller_detail.cpp:7607) -----------

@register(
    "op_input_query",
    """
    SELECT l_orderkey, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    WHERE l_returnflag = 'A' AND l_quantity > 10
    GROUP BY l_orderkey
    """,
)
def op_input_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem")
    pre = mr.apply_input_query(
        li,
        "SELECT l_orderkey, l_quantity FROM __input "
        "WHERE l_returnflag = 'A' AND l_quantity > 10",
    )
    return pre.groupBy("l_orderkey").agg(F.round(F.sum("l_quantity"), 2).alias("qty"))


# --- deterministic sampling ------------------------------------------------

@register(
    "op_sample",
    """
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def op_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders").select("o_orderkey", "o_totalprice")
    return mr.sample_rows_deterministic(orders, "o_orderkey", 10)


# --- table profiling (ANALYZE TABLE / GetColumnarStatistics at value level)

@register(
    "op_profile_table",
    """
    SELECT 'o_orderkey' AS col,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(o_orderkey) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_v,
           CAST(max(o_orderkey) AS DOUBLE) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(count(*) AS BIGINT),
           CAST(count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           round(min(o_totalprice), 2),
           round(max(o_totalprice), 2)
    FROM orders
    """,
)
def op_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (the value-level half of the reference's statistics
    surface): one pass per column family, stack-unioned — the shape ANALYZE
    TABLE ... COMPUTE STATISTICS FOR COLUMNS produces for the CBO."""
    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders")

    def profile(col: str, round_digits: int | None) -> DataFrame:
        mn, mx = F.min(col).cast("double"), F.max(col).cast("double")
        if round_digits is not None:
            mn, mx = F.round(mn, round_digits), F.round(mx, round_digits)
        return orders.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("n_distinct"),
            mn.alias("min_v"),
            mx.alias("max_v"),
        ).select(F.lit(col).alias("col"), "n", "n_nonnull", "n_distinct", "min_v", "max_v")

    return profile("o_orderkey", None).unionByName(profile("o_totalprice", 2))


@register(
    "op_concatenate",
    """
    WITH half1 AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
         half2 AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1)
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 4) AS total
    FROM (SELECT * FROM half1 UNION ALL SELECT * FROM half2) u
    GROUP BY o_orderpriority
    """,
)
def op_concatenate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate operation (reference `concatenate`,
    yt/python/yt/wrapper/table_commands.py): two stored halves of orders
    linked into one table by a METADATA-ONLY manifest (no data read at
    link time — the master-side chunk-list merge), then scanned as a
    union with per-member pushdown. Append mode extends the link."""
    import os

    from ytsaurus_spark.sources.formats import (
        concatenate,
        read_concatenated,
        write_table,
    )

    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders")
    base = scratch_dir("ytspark_concat_")
    h1, h2, dest = (os.path.join(base, n) for n in ("h1", "h2", "linked"))
    write_table(orders.filter(F.col("o_orderkey") % 2 == 0), h1)
    write_table(orders.filter(F.col("o_orderkey") % 2 == 1), h2)
    concatenate([h1], dest)
    concatenate([h2], dest, append=True)
    return (
        read_concatenated(spark, dest)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


@register(
    "client_end_to_end",
    """
    WITH sorted_orders AS (
      SELECT * FROM orders WHERE o_totalprice > 50000
    )
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 4) AS total
    FROM sorted_orders
    GROUP BY o_orderpriority
    """,
)
def client_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The YtClient facade exercised end to end inside the correctness
    gate: create a cypress tree, write orders under it, sort it in place
    (stage-and-swap rewrite, @sorted_by recorded), then answer a QL
    select_rows over the cypress path. Every hop goes through the
    reference call-site surface (client.py); the oracle is the plain
    relational equivalent."""
    from ytsaurus_spark.client import YtClient

    cat = load_tables(spark, sf_dir)
    client = YtClient(root=scratch_dir("ytspark_client_"), spark=spark)
    client.create("map_node", "//warehouse")
    client.write_table("//warehouse/orders", cat.read("orders"))
    client.run_sort("//warehouse/orders", sort_by=["o_orderkey"])
    assert client.get("//warehouse/orders/@sorted_by") == ["o_orderkey"]
    return client.select_rows(
        "o_orderpriority, sum(1) AS n0, sum(o_totalprice) AS t0 "
        "FROM [//warehouse/orders] WHERE o_totalprice > 50000 "
        "GROUP BY o_orderpriority"
    ).select(
        "o_orderpriority",
        F.col("n0").cast("long").alias("n"),
        F.round("t0", 4).alias("total"),
    )


@register(
    "op_bucketed_join",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_c
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def op_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over bucketed sorted tables — the Spark twin of
    the reference's sorted-input reduce/join (sorted_controller.cpp key
    slicing; Reduce requires inputs sorted by join_by). Both facts are
    written ONCE with bucketBy(orderkey).sortBy(orderkey); the join then
    satisfies its distribution and ordering straight off the scans —
    the plan has no Exchange and no Sort on either join leg (pinned in
    tests/test_plans.py::test_bucketed_join_no_exchange). Broadcast is
    disabled inside the run so the demonstration is the merge-join path
    the shape exists for (at fact-×-fact scale broadcast is off the
    table anyway); the conf is restored after."""
    from ytsaurus_spark.sources.bucketed import BucketedPair

    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders").select("o_orderkey", "o_orderstatus")
    li = cat.read("lineitem").select("l_orderkey", "l_extendedprice")
    root = scratch_dir("ytspark_bucketed_")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with BucketedPair(
            spark, orders, li, ["o_orderkey"], ["l_orderkey"], 8, root
        ) as pair:
            joined = pair.left().join(
                pair.right(),
                pair.left().o_orderkey == pair.right().l_orderkey,
            )
            return (
                joined.groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_lines"),
                    F.sum(
                        F.round(F.col("l_extendedprice") * 100).cast("long")
                    )
                    .cast("long")
                    .alias("rev_c"),
                )
                .orderBy("o_orderstatus")
                .localCheckpoint()  # materialize before tables drop
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# --- spec-dict submission + OperationTracker lifecycle ---------------------

@register(
    "op_spec_tracker",
    """
    SELECT 'op-000001' AS op_id, 'completed' AS state,
           'map_reduce' AS op_type,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def op_spec_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `run_operation(spec_dict, tracker)` path end-to-end: a reference
    user's map_reduce spec submitted verbatim, lifecycle polled back from
    the tracker (get_operation/list_operations), tracker fields joined
    onto the result so the oracle proves both the computation AND the
    recorded scheduler state."""
    cat = load_tables(spark, sf_dir)
    tracker = mr.OperationTracker()

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "o_orderpriority": pdf["o_orderpriority"],
                    "cents": (pdf["o_totalprice"] * 100).round().astype("int64"),
                }
            )

    def reducer(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
                "n_orders": [len(pdf)],
                "total_cents": [pdf["cents"].sum()],
            }
        )

    spec = {
        "operation_type": "map_reduce",
        "input_table_paths": ["orders"],
        "mapper": {
            "command": mapper,
            "output_schema": "o_orderpriority string, cents bigint",
        },
        "reduce_by": ["o_orderpriority"],
        "reducer": {
            "command": reducer,
            "output_schema": (
                "o_orderpriority string, n_orders bigint, total_cents bigint"
            ),
        },
    }
    out = mr.run_operation(cat, spec, tracker=tracker)
    rec = tracker.list_operations(state="completed", op_type="map_reduce")[0]
    assert tracker.get_operation(rec["id"])["state"] == "completed"
    return out.select(
        F.lit(rec["id"]).alias("op_id"),
        F.lit(rec["state"]).alias("state"),
        F.lit(rec["operation_type"]).alias("op_type"),
        "o_orderpriority",
        "n_orders",
        "total_cents",
    )


# --- Vanilla operation (vanilla_controller.cpp) ----------------------------

@register(
    "op_vanilla_generate",
    """
    SELECT CAST(i AS INTEGER) AS job, CAST(j AS INTEGER) AS seq,
           CAST(i * 10 + j AS BIGINT) AS val
    FROM range(4) t(i) CROSS JOIN range(5) s(j)
    """,
)
def op_vanilla_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vanilla: 4 input-less parallel jobs, each emitting 5 deterministic
    rows to the task's output table — submitted through the spec-dict
    path so the vanilla controller shape is the one exercised."""
    cat = load_tables(spark, sf_dir)

    def job(i: int) -> pd.DataFrame:
        return pd.DataFrame(
            {"job": [i] * 5, "seq": list(range(5)), "val": [i * 10 + j for j in range(5)]}
        )

    spec = {
        "operation_type": "vanilla",
        "tasks": {
            "gen": {
                "job_count": 4,
                "command": job,
                "output_schema": "job int, seq int, val bigint",
            }
        },
    }
    return mr.run_operation(cat, spec)["gen"]


# --- RemoteCopy (remote_copy_job.cpp) --------------------------------------

@register(
    "op_remote_copy",
    """
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def op_remote_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RemoteCopy a table to a second storage root (partition layout
    re-established on s_nationkey), then aggregate FROM THE COPY — the
    oracle over the source proves copy fidelity."""
    import os

    from ytsaurus_spark.sources import formats as fmts

    src = os.path.join(sf_dir, "supplier.parquet")
    dst = os.path.join(scratch_dir("ytspark_rcopy_"), "supplier")
    fmts.remote_copy(spark, src, dst, partition_by=["s_nationkey"])
    copied = fmts.read_table(spark, dst)
    return copied.groupBy(F.col("s_nationkey").cast("long").alias("s_nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).alias("acctbal_cents"),
    )


# --- multi-output Map (AddRow(row, table_index)) ---------------------------

@register(
    "op_multi_output_map",
    """
    SELECT out_table, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM (
      SELECT CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END AS out_table,
             l_linestatus, l_quantity
      FROM lineitem
    )
    GROUP BY out_table, l_linestatus
    """,
)
def op_multi_output_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapper with two output tables (table_index routing): returns go to
    output 0, the rest to output 1; the map pass runs ONCE (cached) and
    each output is a filtered view — then both outputs are aggregated and
    re-tagged so one oracle covers the full routing."""
    cat = load_tables(spark, sf_dir)
    li = cat.read("lineitem").select("l_returnflag", "l_linestatus", "l_quantity")

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "tag": (pdf["l_returnflag"] != "R").astype("int32"),
                    "l_linestatus": pdf["l_linestatus"],
                    "qty_int": pdf["l_quantity"].astype("int64"),
                }
            )

    outs = mr.run_map_multi_output(
        li,
        mapper,
        "tag int, l_linestatus string, qty_int bigint",
        tag_col="tag",
        num_outputs=2,
    )
    parts = [
        o.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qty_int").alias("qty"),
        )
        .select(F.lit(i).cast("int").alias("out_table"), "l_linestatus", "n", "qty")
        for i, o in enumerate(outs)
    ]
    return parts[0].unionByName(parts[1])


# --- multi-input Reduce (GetTableIndex contract) ---------------------------

@register(
    "op_multi_input_reduce",
    """
    SELECT k,
           CAST(sum(CASE WHEN src = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cust,
           CAST(sum(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orders
    FROM (
      SELECT c_custkey AS k, 0 AS src FROM customer
      UNION ALL
      SELECT o_custkey AS k, 1 AS src FROM orders
    )
    GROUP BY k
    """,
)
def op_multi_input_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduce over two heterogeneous inputs: the reducer receives every
    row for a key from BOTH tables, tagged with its table index, and
    counts per-source — customers with no orders and any dangling orders
    both appear (the reference's multi-input key guarantee)."""
    cat = load_tables(spark, sf_dir)
    cust = cat.read("customer").select(F.col("c_custkey").alias("k"))
    orders = cat.read("orders").select(F.col("o_custkey").alias("k"))

    def reducer(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf["__table_index"]
        return pd.DataFrame(
            {
                "k": [pdf["k"].iloc[0]],
                "n_cust": [(src == 0).sum()],
                "n_orders": [(src == 1).sum()],
            }
        )

    return mr.run_reduce_multi_input(
        [cust, orders],
        ["k"],
        reducer,
        "k bigint, n_cust bigint, n_orders bigint",
    )


# --- sorted-attribute tracking + auto sorted merge -------------------------

@register(
    "op_sorted_attr_merge",
    """
    SELECT 'sorted' AS merge_mode, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def op_sorted_attr_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write two table slices with ``write_sorted_table`` (persisting the
    sorted_by attribute the reference records on output tables), then
    ``merge_tables(mode='auto')`` — which must DETECT the shared attribute
    and pick the sorted-merge path; the chosen mode is asserted and
    pinned in the output."""
    import os

    from ytsaurus_spark.sources import formats as fmts

    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders")
    root = scratch_dir("ytspark_sattr_")
    p_even = os.path.join(root, "even")
    p_odd = os.path.join(root, "odd")
    fmts.write_sorted_table(
        orders.where(F.col("o_orderkey") % 2 == 0), p_even, ["o_orderkey"]
    )
    fmts.write_sorted_table(
        orders.where(F.col("o_orderkey") % 2 == 1), p_odd, ["o_orderkey"]
    )
    assert fmts.table_attributes(p_even).get("sorted_by") == ["o_orderkey"]
    assert (
        fmts.table_attributes(p_even)["sorted_by"]
        == fmts.table_attributes(p_odd)["sorted_by"]
    )
    merged = fmts.merge_tables(spark, [p_even, p_odd], mode="auto")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    ).select(
        F.lit("sorted").alias("merge_mode"),
        "o_orderstatus",
        "n",
        "min_key",
        "max_key",
    )


# --- cross-cluster RemoteCopy (remote_copy_job.cpp, chunk-verbatim) --------

@register(
    "op_remote_copy_cross",
    """
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(min(s_suppkey) AS BIGINT) AS min_supp,
           CAST(max(s_suppkey) AS BIGINT) AS max_supp
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def op_remote_copy_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CLUSTER RemoteCopy (yt.wrapper.run_remote_copy): two
    independent cluster roots; the destination cluster pulls the table's
    chunks byte-verbatim (murmur-checksummed per chunk, mapInPandas
    chunk-parallel, atomic commit) and the aggregate runs FROM THE COPY
    — the oracle over the source proves end-to-end fidelity."""
    from ytsaurus_spark.client import YtClient

    src = YtClient(root=scratch_dir("ytspark_rcsrc_"), spark=spark)
    dst = YtClient(root=scratch_dir("ytspark_rcdst_"), spark=spark)
    supplier = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    src.write_table("//home/supplier", supplier.repartition(8))
    dst.run_remote_copy("//home/supplier", "//pulled/supplier", source_client=src)
    copied = dst.read_table("//pulled/supplier")
    return copied.groupBy(
        F.col("s_nationkey").cast("long").alias("s_nationkey")
    ).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.min("s_suppkey").cast("long").alias("min_supp"),
        F.max("s_suppkey").cast("long").alias("max_supp"),
    )


# --- erasure-coded storage + repairing RemoteCopy (library/cpp/erasure) ----

@register(
    "op_erasure_repair_copy",
    """
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def op_erasure_repair_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure storage end-to-end (library/cpp/erasure reed_solomon_6_3 +
    remote_copy_job.cpp repair path): write supplier erasure-coded on
    cluster A, lose the full loss budget (3 of 9 parts of EVERY chunk),
    RemoteCopy with in-flight repair to cluster B, aggregate from the
    HEALED copy — the oracle over the untouched source proves the
    reconstruction is exact."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.sources import erasure as E

    src = YtClient(root=scratch_dir("ytspark_ersrc_"), spark=spark)
    dst = YtClient(root=scratch_dir("ytspark_erdst_"), spark=spark)
    supplier = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    tdir = src._fs("//home/supplier_e")
    os.makedirs(os.path.dirname(tdir), exist_ok=True)
    E.write_erasure_table(spark, supplier.repartition(4), tdir, "reed_solomon_6_3")
    E.erase_parts(tdir, [1, 5, 8])  # one data part + two parities, every chunk
    dst.run_remote_copy(
        "//home/supplier_e", "//pulled/supplier_e",
        source_client=src, repair_erasure_chunks=True,
    )
    healed = E.read_erasure_table(spark, dst._fs("//pulled/supplier_e"))
    return healed.groupBy(
        F.col("s_nationkey").cast("long").alias("s_nationkey")
    ).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).alias("acctbal_cents"),
    )
