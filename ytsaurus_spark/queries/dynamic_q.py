"""Dynamic-table surface queries: QL select_rows strings, keyed-table
upsert/lookup/delete with aggregate columns, secondary-index reads.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import load_tables
from ytsaurus_spark.operators import scratch_dir
from ytsaurus_spark.operators.keyed_tables import KeyedTable
from ytsaurus_spark.operators.secondary_index import build_index, query_with_index
from ytsaurus_spark.operators.select_rows import select_rows
from ytsaurus_spark.queries import local_result, register


# --- QL string surface (SelectRows) ----------------------------------------

@register(
    "ql_select_rows",
    """
    SELECT l_returnflag,
           round(sum(l_quantity), 2) AS qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_discount > 0.05 AND l_returnflag != 'N'
    GROUP BY l_returnflag
    """,
)
def ql_select_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return select_rows(
        spark,
        "l_returnflag, round(sum(l_quantity), 2) AS qty, "
        "CAST(count(*) AS BIGINT) AS n "
        "FROM [//home/tpch/lineitem] "
        "WHERE l_discount > 0.05 AND l_returnflag != 'N' "
        "GROUP BY l_returnflag",
    )


@register(
    "ql_select_rows_funcs",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE source = 'src1' AND length(text) > 200
          AND contains(text, 'spark')
    ORDER BY doc_id LIMIT 50
    """,
)
def ql_select_rows_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    # QL-name functions (is_prefix/is_substr renames + ORDER BY/LIMIT rule)
    return select_rows(
        spark,
        "doc_id, lang FROM [//home/docs/documents] "
        "WHERE is_prefix('src1', source) AND source = 'src1' "
        "AND length(text) > 200 AND is_substr('spark', text) "
        "ORDER BY doc_id LIMIT 50",
    )


# --- keyed table: aggregate-column upsert ----------------------------------

@register(
    "dyn_aggregate_upsert",
    """
    SELECT o_custkey AS custkey,
           round(sum(o_totalprice), 2) AS spend,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def dyn_aggregate_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a keyed table (key=custkey, aggregates: spend=sum, n_orders=sum)
    and insert every order as a delta row — the reference's aggregate-column
    write path (test_aggregate_columns.py). Final state == group-by, proving
    fold-on-write ≡ aggregation."""
    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders")
    deltas = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("spend"),
        F.lit(1).cast("long").alias("n_orders"),
    )
    empty = deltas.filter(F.lit(False))
    table = KeyedTable(
        df=empty,
        key_cols=["custkey"],
        aggregates={"spend": "sum", "n_orders": "sum"},
    )
    # two upsert batches to exercise repeated folding (old ⊕ new ⊕ new2)
    first_half = deltas.filter(F.col("custkey") % 2 == 0)
    second_half = deltas.filter(F.col("custkey") % 2 == 1)
    table = table.insert_rows(first_half).insert_rows(second_half)
    return table.df.select(
        "custkey", F.round("spend", 2).alias("spend"), "n_orders"
    )


@register(
    "dyn_lookup_delete",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey % 7 = 0 AND NOT (c_custkey % 21 = 0)
    """,
)
def dyn_lookup_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LookupRows by key set, then DeleteRows of a subset, re-lookup."""
    cat = load_tables(spark, sf_dir)
    cust = cat.read("customer").select("c_custkey", "c_mktsegment")
    table = KeyedTable(df=cust, key_cols=["c_custkey"])
    keys = cust.filter(F.col("c_custkey") % 7 == 0).select("c_custkey")
    doomed = cust.filter(F.col("c_custkey") % 21 == 0).select("c_custkey")
    table = table.delete_rows(doomed)
    return table.lookup_rows(keys)


# --- secondary index (WITH INDEX rewrite) ----------------------------------

@register(
    "dyn_secondary_index",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000
    """,
)
def dyn_secondary_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders")
    idx = build_index(orders, ["o_orderpriority"], ["o_orderkey"])
    hits = query_with_index(
        orders, idx, ["o_orderkey"], F.col("o_orderpriority") == "1-URGENT"
    )
    return hits.filter(F.col("o_totalprice") > 200000).select(
        "o_orderkey", "o_totalprice"
    )


# --- QL string surface round 2: full grammar -------------------------------
# (parser.ypp join-clause/with-index-clause/placeholders; see
#  operators/select_rows.py module docstring for the grammar mapping)


@register(
    "ql_sr_array_join",
    """
    SELECT vec_id, round(CAST(UNNEST(embedding) AS DOUBLE), 4) + 0.0 AS e
    FROM embeddings WHERE vec_id < 100
    """,
)
def ql_sr_array_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY JOIN clause in string form (parser.ypp:389-393) → LATERAL
    VIEW explode, planned by Catalyst (Generate node, no Python)."""
    load_tables(spark, sf_dir)
    return select_rows(
        spark,
        "vec_id, round(double(emb), 4) + 0.0 AS e "
        "FROM [//home/vectors/embeddings] "
        "ARRAY JOIN embedding AS emb "
        "WHERE vec_id < 100",
    )


@register(
    "ql_sr_array_join_zip",
    """
    SELECT vec_id,
           round(CAST(UNNEST(embedding) AS DOUBLE), 4) + 0.0 AS e1,
           round(CAST(UNNEST(embedding[2:]) AS DOUBLE), 4) + 0.0 AS e2
    FROM embeddings WHERE vec_id < 50
    """,
)
def ql_sr_array_join_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-array ARRAY JOIN zips arrays in parallel with null padding
    (TArrayJoin flattens columns positionally, ast.h:485-502) — translated
    to posexplode + try_element_at, all JVM-side."""
    load_tables(spark, sf_dir)
    return select_rows(
        spark,
        "vec_id, round(double(e1), 4) + 0.0 AS e1, round(double(e2), 4) + 0.0 AS e2 "
        "FROM [//home/vectors/embeddings] "
        "ARRAY JOIN embedding AS e1, slice(embedding, 2, 100000) AS e2 "
        "WHERE vec_id < 50",
    )


@register(
    "ql_sr_with_index",
    """
    SELECT event_id, user_id FROM events
    WHERE event_type = 'purchase' AND value > 50
    """,
)
def ql_sr_with_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH INDEX in string form (with-index-clause, parser.ypp:360-369):
    the scan routes through a FullSync index view; Catalyst pushes the
    indexed-column predicate into both scans (the reference's index-tablet
    IO pruning, secondary_index/transform.cpp)."""
    cat = load_tables(spark, sf_dir)
    idx = build_index(cat.read("events"), ["event_type"], ["event_id"])
    idx.createOrReplaceTempView("events_by_type")
    return select_rows(
        spark,
        "event_id, user_id FROM [//home/ev/events] "
        "WITH INDEX [//home/ev/events_by_type] "
        "WHERE event_type = 'purchase' AND value > 50",
    )


@register(
    "ql_sr_placeholders",
    """
    SELECT event_id, round(value, 3) AS v FROM events
    WHERE event_type IN ('click', 'purchase')
          AND user_id >= 500 AND value > 90.0
    """,
)
def ql_sr_placeholders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{name} placeholder literals (lexer.rl6:88; values map per
    query_preparer.cpp:494 — plain types or lists only)."""
    load_tables(spark, sf_dir)
    return select_rows(
        spark,
        "event_id, round(value, 3) AS v FROM [//home/ev/events] "
        "WHERE event_type IN {types} AND user_id >= {min_user} "
        "AND value > {threshold}",
        placeholder_values={
            "types": ["click", "purchase"],
            "min_user": 500,
            "threshold": 90.0,
        },
    )


@register(
    "ql_sr_regex",
    """
    SELECT doc_id,
           regexp_extract(source, '^src([0-9]+)$', 1) AS srcnum,
           regexp_full_match(source, 'src1[0-9]') AS is_teen,
           regexp_replace(lang, '[aeiou]', '_') AS l1
    FROM documents WHERE doc_id < 200
    """,
)
def ql_sr_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """re2 registry functions in string form: regex_extract (RE2::Extract
    rewrite templates, \\1 group refs), regex_full_match (anchored), and
    regex_replace_first (DuckDB's regexp_replace is first-match-only, the
    exact oracle)."""
    load_tables(spark, sf_dir)
    return select_rows(
        spark,
        "doc_id, "
        "regex_extract('^src([0-9]+)$', source, '\\\\1') AS srcnum, "
        "regex_full_match('src1[0-9]', source) AS is_teen, "
        "regex_replace_first('[aeiou]', lang, '_') AS l1 "
        "FROM [//home/docs/documents] WHERE doc_id < 200",
    )


@register(
    "ql_sr_parse_format",
    """
    SELECT event_id,
           CAST(CAST(event_id AS VARCHAR) AS DECIMAL(20,0)) AS u,
           printf('%x-%x-%x-%x',
                  user_id >> 32, user_id & 4294967295,
                  event_id >> 32, event_id & 4294967295) AS guid
    FROM events WHERE event_id < 100
    """,
)
def ql_sr_parse_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_uint64 (uint64 discipline → DECIMAL(20,0)) and
    format_guid(id_hi, id_lo) (dash-separated lowercase hex halves,
    engine/udf/format_guid.c) in string form."""
    load_tables(spark, sf_dir)
    return select_rows(
        spark,
        "event_id, "
        "parse_uint64(numeric_to_string(event_id)) AS u, "
        "format_guid(event_id, user_id) AS guid "
        "FROM [//home/ev/events] WHERE event_id < 100",
    )


@register(
    "ql_sr_any_getters",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           json_extract_string(props, '$.missing.path') AS m
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
    """,
)
def ql_sr_any_getters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YSON Any ypath getters in string form (get_int64/try_get_string,
    builtin_function_registry.cpp:319-330): /a/b ypaths → JSON paths over
    the Any(JSON) column."""
    load_tables(spark, sf_dir)
    return select_rows(
        spark,
        "event_id, "
        "get_int64(props, '/k') AS k, "
        "try_get_string(props, '/missing/path') AS m "
        "FROM [//home/ev/events] "
        "WHERE get_int64(props, '/k') > 90",
    )


@register(
    "dyn_mvcc_timestamped_read",
    """
    SELECT c_custkey,
           round(c_acctbal, 2) AS bal_t1,
           CASE WHEN c_custkey BETWEEN 30 AND 40 THEN NULL
                WHEN c_custkey <= 15 THEN round(c_acctbal + 100, 2)
                ELSE round(c_acctbal, 2) END AS bal_now,
           CAST(CASE WHEN c_custkey <= 15 THEN 2 ELSE 1 END AS BIGINT)
               AS n_writes,
           CAST(CASE WHEN c_custkey BETWEEN 30 AND 40 THEN 1 ELSE 0 END
                AS BIGINT) AS n_deletes
    FROM customer WHERE c_custkey <= 40
    ORDER BY c_custkey
    """,
)
def dyn_mvcc_timestamped_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MVCC over the log-structured table: a read at a captured
    timestamp sees the pre-update state while the latest read sees
    upserts+tombstones, and versioned_lookup exposes each key's full
    write/delete history (the reference's timestamped LookupRows +
    VersionedLookupRows, client_dynamic_tables_impl.cpp:1599-1603,
    versioned_row.h). The oracle reconstructs all four facets from the
    untouched customer parquet."""
    import time

    from ytsaurus_spark.sources.tx_table import LogTxTable

    cat = load_tables(spark, sf_dir)
    cust = (
        cat.read("customer")
        .filter(F.col("c_custkey") <= 40)
        .select("c_custkey", "c_acctbal")
    )
    t = LogTxTable(spark, scratch_dir("ytspark_mvcc_"), key_cols=["c_custkey"])
    t.init(cust)
    t1 = time.time()
    # same two commits (upsert v1, tombstone v2) as sequential
    # insert_rows + delete_rows, but the two tiny segment writes run
    # as overlapping Spark jobs (guide §2.6); publish order and the
    # publish-time commit stamps keep every read facet identical
    t.commit_many(
        [
            (
                "u",
                cust.filter(F.col("c_custkey") <= 15).withColumn(
                    "c_acctbal", F.col("c_acctbal") + 100
                ),
            ),
            (
                "d",
                cust.filter(F.col("c_custkey").between(30, 40)).select(
                    "c_custkey"
                ),
            ),
        ]
    )
    old = t.read(timestamp=t1).select(
        "c_custkey", F.round("c_acctbal", 2).alias("bal_t1")
    )
    now = t.read().select(
        "c_custkey", F.round("c_acctbal", 2).alias("bal_now")
    )
    hist = (
        t.versioned_lookup(cust.select("c_custkey"))
        .groupBy("c_custkey")
        .agg(
            F.sum(F.when(F.col("__op") == "u", 1).otherwise(0)).alias("n_writes"),
            F.sum(F.when(F.col("__op") == "d", 1).otherwise(0)).alias("n_deletes"),
        )
    )
    return (
        old.join(now, "c_custkey", "left")
        .join(hist, "c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "dyn_custom_fold",
    """
    SELECT c_custkey,
           CASE
             WHEN c_custkey <= 4                    THEN 'b' || c_custkey || '+u1'
             WHEN c_custkey BETWEEN 5 AND 10        THEN 'b' || c_custkey || '+u1+u2'
             WHEN c_custkey BETWEEN 11 AND 15       THEN 'b' || c_custkey || '+u2'
             ELSE 'b' || c_custkey
           END AS patch
    FROM customer WHERE c_custkey <= 20
    ORDER BY c_custkey
    """,
)
def dyn_custom_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-supplied merge fn as the aggregate fold (the reference's xdelta
    fold-on-write interface, builtin_function_registry.cpp:246, with the
    patch merge supplied by the caller since the xdelta patch format is not
    public): patches concatenate in commit order across upserts."""
    cat = load_tables(spark, sf_dir)
    keys = cat.read("customer").filter(F.col("c_custkey") <= 20).select("c_custkey")
    merge = lambda acc, v: F.concat_ws("+", acc, v)  # noqa: E731
    t = KeyedTable(
        keys.withColumn("patch", F.concat(F.lit("b"), F.col("c_custkey"))),
        key_cols=["c_custkey"],
        aggregates={"patch": merge},
    )
    t = t.insert_rows(
        keys.filter(F.col("c_custkey") <= 10).withColumn("patch", F.lit("u1"))
    )
    t = t.insert_rows(
        keys.filter(F.col("c_custkey").between(5, 15)).withColumn("patch", F.lit("u2"))
    )
    return t.df.orderBy("c_custkey")


@register(
    "dyn_subcommit_order",
    """
    SELECT user_id,
           round(arg_max(value, event_id), 6) AS last_value,
           arg_max(event_type, event_id)      AS last_type,
           CAST(count(*) AS BIGINT)           AS n_events
    FROM events WHERE user_id < 200
    GROUP BY user_id
    """,
)
def dyn_subcommit_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-commit MVCC ordering: ONE insert batch carries every event of a
    user, sequenced by event_id (``seq_col``); the resolved row must show
    the LAST write's plain columns while the aggregate column folds across
    all writes of the batch — per-row write ordering inside a single
    transaction (versioned_row.h write-timestamp lists), which commit-level
    generations alone cannot express. The oracle recomputes the same
    last-write-wins + fold directly from the events parquet."""
    from ytsaurus_spark.sources.tx_table import LogTxTable

    cat = load_tables(spark, sf_dir)
    ev = (
        cat.read("events")
        .filter(F.col("user_id") < 200)
        .select(
            F.col("user_id"),
            F.round("value", 6).alias("last_value"),
            F.col("event_type").alias("last_type"),
            F.lit(1).cast("long").alias("n_events"),
            F.col("event_id"),
        )
    )
    path = os.path.join(scratch_dir("ytspark_sub_"), "t")
    t = LogTxTable(
        spark, path, key_cols=["user_id"], aggregates={"n_events": "sum"}
    )
    t.init(
        local_result(
            spark, [],
            "user_id bigint, last_value double, last_type string, n_events bigint",
        )
    )
    t.insert_rows(ev, seq_col="event_id")
    return t.read().select("user_id", "last_value", "last_type", "n_events")


@register(
    "dyn_replica_failover",
    """
    WITH base AS (
      SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 30
    ),
    fresh AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             round(sum(CASE WHEN c_custkey <= 10
                            THEN c_acctbal + 50 ELSE c_acctbal END), 2) AS bal
      FROM base
    ),
    stale AS (
      SELECT CAST(count(*) AS BIGINT) AS n, round(sum(c_acctbal), 2) AS bal
      FROM base
    )
    SELECT 'r_async_stale' AS src, n, bal FROM stale
    UNION ALL SELECT 'r_async_synced', n, bal FROM fresh
    UNION ALL SELECT 'r_sync', n, bal FROM fresh
    ORDER BY src
    """,
)
def dyn_replica_failover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated-table read path (client_dynamic_tables_impl.cpp:
    1620-1642): a sync replica commits with the write and serves the fresh
    state; an async replica lags (serving its applied version) until the
    replicator tick ships the missing segments; in-sync reads prefer
    replicas with fallback. All three observable states hash-match an
    oracle that recomputes them from the untouched customer parquet."""
    from ytsaurus_spark.sources.replicas import ReplicatedTable

    cat = load_tables(spark, sf_dir)
    base = (
        cat.read("customer")
        .filter(F.col("c_custkey") <= 30)
        .select("c_custkey", "c_acctbal")
    )
    rt = ReplicatedTable(
        spark,
        scratch_dir("ytspark_repl_"),
        key_cols=["c_custkey"],
    )
    rt.init(base)
    rt.add_replica("r_sync", "sync")
    rt.add_replica("r_async", "async")
    rt.insert_rows(
        base.filter(F.col("c_custkey") <= 10).select(
            "c_custkey", (F.col("c_acctbal") + 50).alias("c_acctbal")
        )
    )

    def summarize(df: DataFrame, src: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("c_acctbal"), 2).alias("bal")
        ).select(F.lit(src).alias("src"), "n", "bal")

    stale = summarize(rt.replicas["r_async"].table.read(), "r_async_stale")
    rt.tick()  # replicator ships the missing segment
    synced = summarize(rt.read(prefer=["r_async"]), "r_async_synced")
    sync_read = summarize(rt.read(prefer=["r_sync"]), "r_sync")
    return stale.unionAll(synced).unionAll(sync_read).orderBy("src")


@register(
    "dyn_multi_table_tx",
    """
    WITH a AS (
      SELECT c_custkey AS k,
             CAST(round(c_acctbal * 100, 0) AS BIGINT)
               - CASE WHEN c_custkey % 5 = 0 THEN 1000 ELSE 0 END AS bal_tt
      FROM customer WHERE c_custkey <= 200
    ), b AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 5 = 0 THEN 1000 ELSE 0 END AS recv_tt
      FROM customer WHERE c_custkey <= 200
    )
    SELECT a.k AS k, a.bal_tt AS bal_tt, b.recv_tt AS recv_tt
    FROM a JOIN b ON a.k = b.k
    """,
)
def dyn_multi_table_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table atomic transaction end-to-end: two keyed tables seeded
    from the customer slice, ONE MultiTableTransaction debits every 5th
    account in table A and credits the matching row in table B, then the
    joined post-commit state must equal the oracle's closed-form CASE.
    Exercises stage → intent → publish across both logs (plus a pre-read
    proving invisibility before commit); balances flow as exact cents."""
    from ytsaurus_spark.sources.transactions import MultiTableTransaction
    from ytsaurus_spark.sources.tx_table import LogTxTable

    cat = load_tables(spark, sf_dir)
    cust = (
        cat.read("customer")
        .filter(F.col("c_custkey") <= 200)
        .select(
            F.col("c_custkey").alias("k"),
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_tt"),
        )
    )
    root = scratch_dir("ytspark_mtx_")
    a = LogTxTable(spark, f"{root}/a", ["k"])
    b = LogTxTable(spark, f"{root}/b", ["k"])
    a.init(cust)
    b.init(cust.select("k", F.lit(0).cast("long").alias("recv_tt")))
    movers = cust.filter(F.col("k") % 5 == 0)
    tx = MultiTableTransaction(f"{root}/coord")
    tx.insert_rows(
        a, movers.select("k", (F.col("bal_tt") - 1000).alias("bal_tt"))
    )
    tx.insert_rows(
        b, movers.select("k", F.lit(1000).cast("long").alias("recv_tt"))
    )
    assert a.read().filter(F.col("k") % 5 == 0).agg(
        F.max("bal_tt")
    ).collect() == cust.filter(F.col("k") % 5 == 0).agg(
        F.max("bal_tt")
    ).collect(), "staged writes leaked before commit"
    tx.commit()
    return (
        a.read()
        .join(
            b.read().select(F.col("k").alias("bk"), "recv_tt"),
            F.col("k") == F.col("bk"),
        )
        .select("k", "bal_tt", "recv_tt")
    )


@register(
    "dyn_unfolding_index",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE list_contains(string_split(text, ' '), 'data')
    """,
)
def dyn_unfolding_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unfolding secondary index (ESecondaryIndexKind::Unfolding,
    yt/yt/client/tablet_client/public.h:236-240): the index holds one row
    per TOKEN of each document, so a ``list_contains(tokens, 'data')``
    predicate becomes a point probe into the index — the primary table is
    then semi-joined on the matched doc ids, never exploded. The oracle
    recomputes membership the straightforward way from the raw text."""
    from ytsaurus_spark.operators.secondary_index import (
        build_unfolding_index,
        query_with_unfolding_index,
    )

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    tokenized = docs.select("doc_id", F.split("text", " ").alias("toks"))
    idx = build_unfolding_index(tokenized, "toks", ["doc_id"])
    hits = query_with_unfolding_index(docs, idx, ["doc_id"], "data")
    return hits.select("doc_id", "lang", "n_chars")


# --- CDC: net row-image diff between two committed states ------------------


@register(
    "dyn_changes_between",
    """
    WITH updates AS (
      SELECT c_custkey, 'update' AS change,
             c_acctbal AS old_c_acctbal,
             c_acctbal + 100 AS new_c_acctbal
      FROM customer WHERE c_custkey <= 10
    ), inserts AS (
      SELECT CAST(1000 + i AS BIGINT) AS c_custkey, 'insert' AS change,
             CAST(NULL AS DOUBLE) AS old_c_acctbal,
             (1000 + i) * 1.5 AS new_c_acctbal
      FROM generate_series(1, 3) t(i)
    ), deletes AS (
      SELECT c_custkey, 'delete' AS change,
             c_acctbal AS old_c_acctbal,
             CAST(NULL AS DOUBLE) AS new_c_acctbal
      FROM customer WHERE c_custkey BETWEEN 21 AND 25
    )
    SELECT * FROM updates
    UNION ALL SELECT * FROM inserts
    UNION ALL SELECT * FROM deletes
    ORDER BY c_custkey
    """,
)
def dyn_changes_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC surface: ``LogTxTable.changes_between`` emits the NET row-image
    diff of two committed states — the reference's replication-log /
    changelog stream (ordered write+delete records shipped to replicas)
    collapsed to one record per changed key. The run seeds the table from
    customer, then (commit A) bumps balances for keys <=10, REWRITES keys
    11..15 with their unchanged values (must NOT appear: net semantics),
    inserts three fresh keys, and (commit B) deletes keys 21..25. Only
    the two delta segments are replayed — O(changes) — and the old state
    is consulted just for the touched keys via pruned lookup_rows. The
    oracle reconstructs all three change kinds from the untouched
    parquet."""
    from ytsaurus_spark.sources.tx_table import LogTxTable

    cat = load_tables(spark, sf_dir)
    cust = (
        cat.read("customer")
        .filter(F.col("c_custkey") <= 40)
        .select("c_custkey", "c_acctbal")
    )
    t = LogTxTable(spark, scratch_dir("ytspark_cdc_"), key_cols=["c_custkey"])
    v0 = t.init(cust)
    bump = cust.filter(F.col("c_custkey") <= 10).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100
    )
    rewrite_same = cust.filter(F.col("c_custkey").between(11, 15))
    fresh = spark.range(1001, 1004).select(
        F.col("id").cast("long").alias("c_custkey"),
        (F.col("id") * 1.5).alias("c_acctbal"),
    )
    # same two commits as sequential insert_rows + delete_rows;
    # commit_many overlaps the tiny segment writes (guide §2.6)
    t.commit_many(
        [
            ("u", bump.unionByName(rewrite_same).unionByName(fresh)),
            (
                "d",
                cust.filter(F.col("c_custkey").between(21, 25)).select(
                    "c_custkey"
                ),
            ),
        ]
    )
    return t.changes_between(from_version=v0).orderBy("c_custkey")


@register(
    "pipeline_cdc_replica",
    """
    WITH expected AS (
      SELECT c_custkey,
             CASE WHEN c_custkey <= 10 THEN c_acctbal + 100
                  ELSE c_acctbal END AS c_acctbal
      FROM customer
      WHERE c_custkey <= 40 AND c_custkey NOT BETWEEN 21 AND 25
      UNION ALL
      SELECT CAST(1000 + i AS BIGINT) AS c_custkey,
             (1000 + i) * 1.5 AS c_acctbal
      FROM generate_series(1, 3) t(i)
    )
    SELECT c_custkey, c_acctbal, TRUE AS matches_source
    FROM expected ORDER BY c_custkey
    """,
)
def pipeline_cdc_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC loop END TO END — the reference's async-replica delivery
    chain (replication log → queue → replica apply) over the Spark-side
    pair: ``changes_between`` → ``publish_changes`` (exactly-once
    producer session into a DurableQueue) → consumer pull → replica
    ``apply_changes``.

    Run: source and replica both init from customer keys <= 40; the
    source then bumps balances (<=10), rewrites keys 11..15 with
    UNCHANGED values (net diff must not ship them), inserts 1001..1003
    and deletes 21..25. The net diff is published into a durable queue —
    TWICE with the same deterministic sequence numbers, asserting the
    replay appends 0 records (the exactly-once contract) — then pulled
    by a registered consumer and applied to the replica.

    Output: the replica's final state with ``matches_source`` computed
    by a null-safe full comparison against the source — the oracle pins
    every row TRUE, so a divergent or missing replica row hash-fails
    (replica ≡ source is part of the hashed result, not a side assert).

    Scale shape: the diff is O(changes) (delta segments give the touched
    keys, pruned lookups give both images); the queue ships only change
    records; the apply is two O(changes) commits. The source state is
    never rescanned end-to-end."""
    from ytsaurus_spark.sources.tx_table import LogTxTable
    from ytsaurus_spark.streaming.queues import (
        DurableQueue,
        QueueConsumer,
        publish_changes,
    )

    cat = load_tables(spark, sf_dir)
    cust = (
        cat.read("customer")
        .filter(F.col("c_custkey") <= 40)
        .select("c_custkey", "c_acctbal")
    )
    root = scratch_dir("ytspark_cdc_pipe_")
    source = LogTxTable(
        spark, os.path.join(root, "source"), key_cols=["c_custkey"]
    )
    replica = LogTxTable(
        spark, os.path.join(root, "replica"), key_cols=["c_custkey"]
    )
    # the two seed commits land on INDEPENDENT tables: overlap the
    # tiny write jobs (guide §2.6) — each table's manifest is its own;
    # the pool threads carry the caller's job group
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    in_group = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_src = pool.submit(in_group(source.init), cust)
        f_rep = pool.submit(in_group(replica.init), cust)
        v0 = f_src.result()
        f_rep.result()
    bump = cust.filter(F.col("c_custkey") <= 10).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100
    )
    rewrite_same = cust.filter(F.col("c_custkey").between(11, 15))
    fresh = spark.range(1001, 1004).select(
        F.col("id").cast("long").alias("c_custkey"),
        (F.col("id") * 1.5).alias("c_acctbal"),
    )
    # same two commits (upsert then tombstone) as sequential
    # insert_rows + delete_rows — commit_many overlaps the segment
    # writes, publish order and versions are identical
    source.commit_many(
        [
            ("u", bump.unionByName(rewrite_same).unionByName(fresh)),
            (
                "d",
                cust.filter(F.col("c_custkey").between(21, 25)).select(
                    "c_custkey"
                ),
            ),
        ]
    )
    queue = DurableQueue(spark, os.path.join(root, "queue"))
    appended = publish_changes(source, queue, "repl", from_version=v0)
    if appended <= 0:
        raise AssertionError("first publish shipped no change records")
    replayed = publish_changes(source, queue, "repl", from_version=v0)
    if replayed != 0:
        raise AssertionError(
            f"replayed publish appended {replayed} records (expected 0)"
        )
    consumer = QueueConsumer(name="replica_sync")
    changes = queue.pull(consumer, max_rows=1 << 30).drop(
        "$row_index", "$sequence_number"
    )
    replica.apply_changes(changes)
    rep = replica.read()
    src = source.read().select(
        F.col("c_custkey").alias("s_key"),
        F.col("c_acctbal").alias("s_bal"),
    )
    return (
        rep.join(src, rep.c_custkey == src.s_key, "full")
        .select(
            F.coalesce(F.col("c_custkey"), F.col("s_key")).alias(
                "c_custkey"
            ),
            "c_acctbal",
            (
                F.col("c_custkey").isNotNull()
                & F.col("s_key").isNotNull()
                & F.col("c_acctbal").eqNullSafe(F.col("s_bal"))
            ).alias("matches_source"),
        )
        .orderBy("c_custkey")
    )


# --- ReshardTable with explicit pivot keys ---------------------------------

@register(
    "dyn_reshard_pivots",
    """
    SELECT (CASE WHEN c_custkey >= 400 THEN 1 ELSE 0 END
            + CASE WHEN c_custkey >= 800 THEN 1 ELSE 0 END
            + CASE WHEN c_custkey >= 1200 THEN 1 ELSE 0 END) AS tablet,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(c_custkey) AS BIGINT) AS min_key,
           CAST(max(c_custkey) AS BIGINT) AS max_key
    FROM customer
    GROUP BY 1
    """,
)
def dyn_reshard_pivots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-pivot ReshardTable: per-tablet row counts and key ranges
    after assignment — proves every key landed in its pivot interval."""
    cat = load_tables(spark, sf_dir)
    t = KeyedTable(df=cat.read("customer"), key_cols=["c_custkey"])
    sharded = t.reshard_with_pivots([400, 800, 1200])
    return sharded.groupBy("tablet").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


# --- Computed (virtual) key columns ----------------------------------------

@register(
    "dyn_computed_key_columns",
    """
    SELECT (('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4))::BIGINT
            % 8) AS shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(c_custkey) AS BIGINT) AS min_key
    FROM customer
    GROUP BY 1
    """,
)
def dyn_computed_key_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A computed key column (TColumnSchema::Expression — the reference's
    farm_hash(key) % n sharding idiom) materialized at write time through
    the TableSchema, then aggregated by the computed shard."""
    from ytsaurus_spark.yt_types import (
        ColumnSchema,
        TableSchema,
        materialize_computed_columns,
    )

    cat = load_tables(spark, sf_dir)
    schema = TableSchema(
        columns=[
            ColumnSchema(
                "shard",
                "int64",
                sort_order="ascending",
                expression=(
                    "pmod(CAST(conv(substring(md5(CAST(c_custkey AS STRING)),"
                    " 1, 4), 16, 10) AS BIGINT), 8)"
                ),
            ),
            ColumnSchema("c_custkey", "int64", sort_order="ascending"),
            ColumnSchema("c_name", "utf8"),
        ]
    )
    df = cat.read("customer").select("c_custkey", "c_name")
    materialized = materialize_computed_columns(df, schema)
    return materialized.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("c_custkey").alias("min_key"),
    )


# --- AlterTable schema evolution -------------------------------------------

@register(
    "dyn_schema_evolution",
    """
    SELECT 'fully_compatible' AS verdict,
           CAST(c_custkey AS BIGINT) AS c_custkey,
           c_name,
           CAST(NULL AS VARCHAR) AS segment
    FROM customer
    WHERE c_custkey <= 100
    """,
)
def dyn_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AlterTable evolution: widen a key column int32 -> int64 and add an
    optional column. The compatibility verdict (the reference's
    CheckTableSchemaCompatibility three-way result) is computed by the
    engine and carried in the output — the oracle pins it."""
    from ytsaurus_spark.yt_types import (
        ColumnSchema,
        TableSchema,
        check_schema_compatibility,
    )

    old = TableSchema(
        columns=[
            ColumnSchema("c_custkey", "int32", sort_order="ascending"),
            ColumnSchema("c_name", "utf8"),
        ]
    )
    new = TableSchema(
        columns=[
            ColumnSchema("c_custkey", "int64", sort_order="ascending"),
            ColumnSchema("c_name", "utf8"),
            ColumnSchema("segment", "utf8"),
        ]
    )
    verdict = check_schema_compatibility(old, new)
    cat = load_tables(spark, sf_dir)
    df = (
        cat.read("customer")
        .where(F.col("c_custkey") <= 100)
        .select(
            F.lit(verdict).alias("verdict"),
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_name",
            F.lit(None).cast("string").alias("segment"),
        )
    )
    return df


# --- Query Tracker lifecycle end-to-end ------------------------------------

@register(
    "qt_lifecycle",
    """
    SELECT 'completed' AS state, 'sql' AS engine, 'draft' AS draft_state,
           CAST(5 AS BIGINT) AS result_count,
           n_regionkey, CAST(count(*) AS BIGINT) AS n
    FROM nation
    GROUP BY n_regionkey
    """,
)
def qt_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query Tracker end-to-end: submit through StartQuery, poll to
    completion, read the durably-written result back with
    ReadQueryResult, and pin the lifecycle fields (state, engine,
    result_count, a draft query's non-execution) in the output."""
    from ytsaurus_spark.query_tracker import QueryTracker

    cat = load_tables(spark, sf_dir)
    cat.read("nation").createOrReplaceTempView("qt_nation")
    qt = QueryTracker(spark)
    qid = qt.start_query(
        "sql",
        "SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n "
        "FROM qt_nation GROUP BY n_regionkey",
        annotations={"purpose": "round6-gate"},
    )
    draft_id = qt.start_query("sql", "SELECT 1", draft=True)
    rec = qt.wait(qid)
    qt.alter_query(qid, {"reviewed": "yes"})
    draft_state = qt.get_query(draft_id)["state"]
    out = qt.read_query_result(qid)
    return out.select(
        F.lit(rec["state"]).alias("state"),
        F.lit(rec["engine"]).alias("engine"),
        F.lit(draft_state).alias("draft_state"),
        F.lit(int(rec["result_count"])).cast("long").alias("result_count"),
        "n_regionkey",
        "n",
    )


# --- xdelta aggregate column (BASE/PATCH binary states) --------------------

@register(
    "dyn_xdelta_patch_fold",
    """
    SELECT doc_id,
           replace(text || '|r1', 'a', '@') || '|r2' AS final_text
    FROM documents
    WHERE doc_id % 17 = 0
    ORDER BY doc_id
    """,
)
def dyn_xdelta_patch_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xdelta aggregate column end-to-end (state_header.proto BASE/PATCH
    states, merge.cpp MergeStates): documents get a BASE state, then two
    PATCH revisions fold on write inside KeyedTable's upsert groupBy; the
    decoded final state must equal the last revision text, which the
    oracle recomputes with plain string SQL.

    Scale shape: states build inside Arrow-batched pandas UDFs at scan
    grain; the fold is the keyed upsert's single shuffle. Patches are
    O(edit) bytes, so the shuffle moves deltas, not documents."""
    import pandas as pd
    from pyspark.sql.types import BinaryType, StringType

    from ytsaurus_spark.functions import xdelta as X

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter((F.col("doc_id") % 17) == 0)
        .select("doc_id", "text")
    )
    v1 = F.concat(F.col("text"), F.lit("|r1"))
    v2 = F.concat(F.regexp_replace(v1, "a", "@"), F.lit("|r2"))
    staged = docs.select("doc_id", F.col("text").alias("v0"), v1.alias("v1"), v2.alias("v2"))

    @F.pandas_udf(BinaryType())
    def base_state(t: pd.Series) -> pd.Series:
        return t.map(lambda s: X.make_base(s.encode()))

    @F.pandas_udf(BinaryType())
    def patch_state(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [X.make_patch(x.encode(), y.encode()) for x, y in zip(a, b)]
        )

    @F.pandas_udf(StringType())
    def decode_state(s: pd.Series) -> pd.Series:
        return s.map(lambda b: X.decode_base(bytes(b)).decode())

    t = KeyedTable(
        df=staged.select("doc_id", base_state("v0").alias("st")),
        key_cols=["doc_id"],
        aggregates={"st": "xdelta"},
    )
    t = t.insert_rows(staged.select("doc_id", patch_state("v0", "v1").alias("st")))
    t = t.insert_rows(staged.select("doc_id", patch_state("v1", "v2").alias("st")))
    return t.df.select(
        "doc_id", decode_state("st").alias("final_text")
    ).orderBy("doc_id")


# --- chaos replication (replication_card.h, chaos_node) --------------------

@register(
    "dyn_chaos_failover",
    """
    WITH a AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS v
               FROM orders WHERE o_orderkey % 101 = 0),
         c AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) + 2 AS v
               FROM orders WHERE o_orderkey % 107 = 0)
    SELECT k, v FROM c
    UNION ALL
    SELECT k, v FROM a WHERE k NOT IN (SELECT k FROM c)
    ORDER BY k
    """,
)
def dyn_chaos_failover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaos replication end-to-end (replication_card.h): two clusters,
    sync/async queue + data replicas; a write lands after the async
    queue's last catch-up, the primary cluster fails, the surviving
    queue promotes (era bump), writes continue, the primary recovers
    and ERA-FENCES its divergent tail — the oracle's expected state is
    exactly "initial ∪ post-failover writes, lost-era batch absent",
    read from the RECOVERED cluster's data replica."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.sources.chaos import ASYNC, SYNC, ChaosReplicatedTable

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # tiny upsert batches: one chunk each — per-segment job overhead, not
    # data volume, dominates this query, and real chaos writes are small
    batch_a = orders.filter(F.col("o_orderkey") % 101 == 0).select(
        F.col("o_orderkey").alias("k"), cents.alias("v")
    ).coalesce(1)
    batch_b = orders.filter(F.col("o_orderkey") % 103 == 0).select(
        F.col("o_orderkey").alias("k"), (cents + 1).alias("v")
    ).coalesce(1)
    batch_c = orders.filter(F.col("o_orderkey") % 107 == 0).select(
        F.col("o_orderkey").alias("k"), (cents + 2).alias("v")
    ).coalesce(1)

    base = scratch_dir("ytspark_chaos_")
    clusters = {
        "primary": YtClient(root=os.path.join(base, "primary"), spark=spark),
        "backup": YtClient(root=os.path.join(base, "backup"), spark=spark),
    }
    t = ChaosReplicatedTable(
        spark, os.path.join(base, "card"), key_cols=["k"], clusters=clusters
    )
    t.create_table_replica("q_pri", "primary", "//queues/t", "queue", mode=SYNC)
    t.create_table_replica("q_bak", "backup", "//queues/t", "queue", mode=ASYNC)
    t.create_table_replica("d_pri", "primary", "//data/t", "data", mode=SYNC)
    t.create_table_replica("d_bak", "backup", "//data/t", "data", mode=ASYNC)

    t.init(batch_a)
    t.tick()                 # replicate batch A everywhere
    t.insert_rows(batch_b)   # lands only in the primary era's queue
    t.fail_cluster("primary")  # backup queue promotes; batch B is the lost tail
    t.insert_rows(batch_c)   # new-era write
    t.recover_cluster("primary")
    t.tick()                 # primary fences its divergent tail, catches up
    return t.read("d_pri").orderBy("k")


# --- write-through secondary index maintenance ------------------------------

@register(
    "dyn_indexed_write_through",
    """
    WITH base AS (
      SELECT c_custkey AS k, c_mktsegment AS seg
      FROM customer WHERE c_custkey <= 100
    ), up AS (
      SELECT c_custkey AS k, 'SEGX' AS seg
      FROM customer WHERE c_custkey BETWEEN 50 AND 150
    ), merged AS (
      SELECT k, seg FROM up
      UNION ALL
      SELECT k, seg FROM base WHERE k NOT IN (SELECT k FROM up)
    )
    SELECT k, seg FROM merged WHERE seg = 'SEGX' ORDER BY k
    """,
)
def dyn_indexed_write_through(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index write path (transform.cpp FullSync maintenance):
    the index advances WITH the upsert — the post-write index lookup
    finds exactly the rows the oracle's upsert-then-filter predicts,
    including rows whose indexed value just changed."""
    from ytsaurus_spark.operators.secondary_index import IndexedKeyedTable

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    base = cust.filter(F.col("c_custkey") <= 100).select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("seg")
    )
    t = IndexedKeyedTable(
        KeyedTable(df=base, key_cols=["k"]),
        indexes={"by_seg": {"kind": "full_sync", "columns": ["seg"]}},
    )
    up = cust.filter(F.col("c_custkey").between(50, 150)).select(
        F.col("c_custkey").alias("k"), F.lit("SEGX").alias("seg")
    )
    t = t.insert_rows(up)
    return t.lookup_via_index("by_seg", F.col("seg") == "SEGX").orderBy("k")


# --- MERGE INTO (SQL:2003 multi-clause merge over keyed snapshots) ----------

@register(
    "dyn_merge_into",
    """
    WITH t AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal
      FROM customer WHERE c_nationkey <= 12
    ), s AS (
      SELECT o_custkey AS c_custkey,
             CAST(count(*) AS BIGINT) AS n_orders,
             max(o_totalprice) AS best
      FROM orders GROUP BY o_custkey
    ), m AS (
      SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal,
             s.n_orders, s.best
      FROM t JOIN s USING (c_custkey)
    )
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN n_orders >= 12 THEN c_acctbal + best
                ELSE c_acctbal END AS c_acctbal
    FROM m WHERE NOT (n_orders < 12 AND best < 50000)
    UNION ALL
    SELECT s.c_custkey, 'new' AS c_name, NULL AS c_nationkey,
           s.best AS c_acctbal
    FROM s WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.c_custkey = s.c_custkey)
    UNION ALL
    SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal
    FROM t
    WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.c_custkey = t.c_custkey)
      AND NOT (t.c_acctbal < 0)
    """,
)
def dyn_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2003 14.9 MERGE (Delta MERGE INTO analog, operators/merge.py):
    ONE full-outer join + per-row CASE — update matched actives, delete
    matched dormants, insert unknown buyers, purge unmatched negatives.
    First-match-wins across the two matched clauses; the oracle encodes
    the same precedence with NOT(update-cond) guards. Catalyst extracts
    the key equality, so the merge is a single SMJ shuffle at any scale
    (reference upsert/delete primitives:
    yt/yt/server/node/tablet_node/sorted_dynamic_store.h:203)."""
    from ytsaurus_spark.operators.merge import delete, insert, merge_into, update

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    target = cust.filter(F.col("c_nationkey") <= 12).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    source = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.max("o_totalprice").alias("best"),
    )
    return merge_into(
        target,
        source,
        on=["c_custkey"],
        matched=[
            update({"c_acctbal": "t.c_acctbal + s.best"},
                   condition="s.n_orders >= 12"),
            delete(condition="s.best < 50000"),
        ],
        not_matched=[
            insert({"c_name": F.lit("new"), "c_acctbal": "s.best"}),
        ],
        not_matched_by_source=[delete(condition="t.c_acctbal < 0")],
        check_cardinality=False,  # source is groupBy-keyed: key-unique
    )


@register(
    "dyn_merge_stats",
    """
    WITH t AS (
      SELECT c_custkey, c_acctbal
      FROM customer WHERE c_nationkey <= 12
    ), s AS (
      SELECT o_custkey AS c_custkey,
             CAST(count(*) AS BIGINT) AS n_orders,
             max(o_totalprice) AS best
      FROM orders GROUP BY o_custkey
    ), j AS (
      SELECT t.c_custkey AS tk, s.c_custkey AS sk,
             t.c_acctbal, s.n_orders, s.best
      FROM t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey
    )
    SELECT CASE
             WHEN tk IS NOT NULL AND sk IS NOT NULL AND n_orders >= 12
               THEN 'update'
             WHEN tk IS NOT NULL AND sk IS NOT NULL AND best < 50000
               THEN 'delete'
             WHEN tk IS NOT NULL AND sk IS NOT NULL THEN 'keep'
             WHEN sk IS NOT NULL THEN 'insert'
             WHEN c_acctbal < 0 THEN 'delete'
             ELSE 'keep'
           END AS action,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM j GROUP BY 1
    """,
)
def dyn_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_classify dry-run audit (Delta operation-metrics analog):
    per-action row counts the merge WOULD take, from the same single
    full-outer join, aggregated instead of projected."""
    from ytsaurus_spark.operators.merge import delete, insert, merge_classify, update

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    target = cust.filter(F.col("c_nationkey") <= 12).select(
        "c_custkey", "c_acctbal"
    )
    source = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.max("o_totalprice").alias("best"),
    )
    return merge_classify(
        target,
        source,
        on=["c_custkey"],
        matched=[
            update({"c_acctbal": "t.c_acctbal + s.best"},
                   condition="s.n_orders >= 12"),
            delete(condition="s.best < 50000"),
        ],
        not_matched=[insert({"c_acctbal": "s.best"})],
        not_matched_by_source=[delete(condition="t.c_acctbal < 0")],
    )
