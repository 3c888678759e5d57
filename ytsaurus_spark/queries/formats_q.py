"""Format-layer queries: wire-format roundtrips proven against oracles.

The reference treats formats as part of the I/O contract (EFormatType,
``yt/yt/client/formats/public.h:49-62``); a format is only "supported" if a
table can leave and re-enter the engine losslessly. These queries encode a
deterministic slice of a fixture table through a wire format, read it back,
and aggregate — the DuckDB oracle computes the same aggregate from the
original parquet, so a hash match proves the roundtrip lossless end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import load_tables
from ytsaurus_spark.operators import scratch_dir
from ytsaurus_spark.queries import register
from ytsaurus_spark.sources.skiff import read_skiff, write_skiff


@register(
    "fmt_skiff_roundtrip",
    """
    SELECT o_orderstatus,
           COUNT(*)                                   AS n,
           CAST(SUM(o_orderkey) AS BIGINT)            AS key_sum,
           ROUND(SUM(o_totalprice), 2)                AS price_sum,
           COUNT(*) - COUNT(maybe_priority)           AS null_count,
           MIN(maybe_priority)                        AS min_priority
    FROM (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               CASE WHEN o_totalprice > 100000 THEN o_orderpriority END
                   AS maybe_priority
        FROM orders WHERE o_orderkey % 20 = 0
    )
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def fmt_skiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders slice → Skiff wire format → back → aggregate.

    Exercises int64, double, string32 and a variant8-optional column on the
    wire (nulls from the CASE), then proves losslessness by hash-matching
    the aggregate DuckDB computes from the untouched parquet. The write
    lands in a fresh scratch dir.
    """
    cat = load_tables(spark, sf_dir)
    slice_df = (
        cat.read("orders")
        .filter(F.col("o_orderkey") % 20 == 0)
        .select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("o_totalprice") > 100000, F.col("o_orderpriority")).alias(
                "maybe_priority"
            ),
        )
    )
    path = os.path.join(scratch_dir("ytspark_skiff_"), "orders")
    write_skiff(slice_df, path)
    back = read_skiff(spark, path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
            (F.count(F.lit(1)) - F.count("maybe_priority")).alias("null_count"),
            F.min("maybe_priority").alias("min_priority"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "fmt_skiff_multi_table",
    """
    SELECT 'orders' AS tbl,
           CAST(COUNT(*) AS BIGINT)         AS n,
           CAST(SUM(o_orderkey) AS BIGINT)  AS key_sum
    FROM orders WHERE o_orderkey % 50 = 0
    UNION ALL
    SELECT 'customer',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(c_custkey) AS BIGINT)
    FROM customer WHERE c_custkey % 10 = 0
    ORDER BY tbl
    """,
)
def fmt_skiff_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two tables → ONE multi-table Skiff stream (variant16 row tags) →
    demultiplexed reads → per-table aggregates.

    Proves the tag routing end-to-end: the oracle aggregates the original
    parquet, so a hash match means each table's rows came back exactly and
    none leaked across tags (the reference's multi-output job writer,
    yt/yt/library/formats/skiff_writer.cpp variant16 routing; Go codec
    yt/go/skiff/encoder.go:124-208).
    """
    from ytsaurus_spark.sources.skiff import read_skiff_multi, write_skiff_multi

    cat = load_tables(spark, sf_dir)
    orders = (
        cat.read("orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    customer = (
        cat.read("customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    path = os.path.join(scratch_dir("ytspark_skiffm_"), "stream")
    write_skiff_multi([orders, customer], path)
    back_o = read_skiff_multi(spark, path, 0)
    back_c = read_skiff_multi(spark, path, 1)
    agg_o = back_o.agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("key_sum")
    ).select(F.lit("orders").alias("tbl"), "n", "key_sum")
    agg_c = back_c.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c_custkey").alias("key_sum")
    ).select(F.lit("customer").alias("tbl"), "n", "key_sum")
    return agg_o.unionAll(agg_c).orderBy("tbl")


@register(
    "fmt_proto_roundtrip",
    """
    SELECT o_orderstatus,
           COUNT(*)                                   AS n,
           CAST(SUM(o_orderkey) AS BIGINT)            AS key_sum,
           ROUND(SUM(o_totalprice), 2)                AS price_sum,
           COUNT(*) - COUNT(maybe_priority)           AS null_count,
           MIN(maybe_priority)                        AS min_priority
    FROM (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               CASE WHEN o_totalprice > 100000 THEN o_orderpriority END
                   AS maybe_priority
        FROM orders WHERE o_orderkey % 17 = 0
    )
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def fmt_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders slice → lenval protobuf wire rows → back → aggregate.

    Exercises varint int64, fixed64 double, len-delimited strings and
    proto2 field-absence nulls on the wire (reference format
    EFormatType::Protobuf, yt/yt/client/formats/public.h:49-62), then
    proves losslessness by hash-matching the aggregate DuckDB computes
    from the untouched parquet."""
    from ytsaurus_spark.sources.protobuf import read_proto, write_proto

    cat = load_tables(spark, sf_dir)
    slice_df = (
        cat.read("orders")
        .filter(F.col("o_orderkey") % 17 == 0)
        .select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("o_totalprice") > 100000, F.col("o_orderpriority")).alias(
                "maybe_priority"
            ),
        )
    )
    path = os.path.join(scratch_dir("ytspark_proto_"), "orders")
    write_proto(slice_df, path)
    back = read_proto(spark, path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
            (F.count(F.lit(1)) - F.count("maybe_priority")).alias("null_count"),
            F.min("maybe_priority").alias("min_priority"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "fmt_yamr_roundtrip",
    """
    SELECT c_mktsegment AS subkey,
           CAST(COUNT(*) AS BIGINT)        AS n,
           CAST(SUM(c_custkey) AS BIGINT)  AS key_sum,
           MIN(c_name)                     AS min_name,
           MAX(c_name)                     AS max_name
    FROM customer WHERE c_custkey % 7 = 0
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def fmt_yamr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer slice → YAMR key/subkey/value text lines → back →
    aggregate. YAMR is an all-string format (EFormatType::Yamr,
    yt/yt/client/formats/public.h:49-62): the key carries the customer id
    as decimal text and is cast back to BIGINT after the read, so a hash
    match against the untouched parquet proves both the tab framing and
    the numeric round-trip are lossless."""
    from ytsaurus_spark.sources.formats import read_yamr, write_yamr

    cat = load_tables(spark, sf_dir)
    slice_df = (
        cat.read("customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select(
            F.col("c_custkey").cast("string").alias("key"),
            F.col("c_mktsegment").alias("subkey"),
            F.col("c_name").alias("value"),
        )
    )
    path = os.path.join(scratch_dir("ytspark_yamr_"), "customer")
    write_yamr(slice_df, path)
    back = read_yamr(spark, path, has_subkey=True)
    return (
        back.groupBy(F.col("subkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("key").cast("long")).cast("long").alias("key_sum"),
            F.min("value").alias("min_name"),
            F.max("value").alias("max_name"),
        )
        .orderBy("subkey")
    )


@register(
    "fmt_arrow_roundtrip",
    """
    SELECT l_returnflag,
           COUNT(*)                              AS n,
           CAST(SUM(l_orderkey) AS BIGINT)       AS key_sum,
           ROUND(SUM(l_extendedprice), 2)        AS price_sum,
           COUNT(*) - COUNT(maybe_status)        AS null_count,
           CAST(SUM(n_pair) AS BIGINT)           AS pair_sum,
           MIN(ship_date)                        AS first_ship
    FROM (
        SELECT l_returnflag, l_orderkey, l_extendedprice,
               CASE WHEN l_quantity > 25 THEN l_linestatus END AS maybe_status,
               len([l_partkey, l_suppkey]) AS n_pair,
               l_shipdate::date AS ship_date
        FROM lineitem WHERE l_orderkey % 23 = 0
    )
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def fmt_arrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem slice → Arrow IPC files → back → aggregate.

    The reference's Arrow job-I/O format (EFormatType::Arrow,
    yt/yt/client/formats/public.h:49-62; arrow_writer.cpp/arrow_parser.cpp)
    as a columnar Spark DataSource: record batches flow Arrow→Arrow in
    both directions (no per-row Python), covering strings, int64, double,
    date, absent/null values, and a nested array column. Losslessness is
    hash-proven against the aggregate DuckDB computes from the untouched
    parquet."""
    from ytsaurus_spark.sources.arrow import read_arrow, write_arrow

    cat = load_tables(spark, sf_dir)
    slice_df = (
        cat.read("lineitem")
        .filter(F.col("l_orderkey") % 23 == 0)
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_extendedprice",
            F.when(F.col("l_quantity") > 25, F.col("l_linestatus")).alias(
                "maybe_status"
            ),
            F.array("l_partkey", "l_suppkey").alias("pair"),
            F.to_date("l_shipdate").alias("ship_date"),
        )
    )
    path = os.path.join(scratch_dir("ytspark_arrow_"), "lineitem")
    write_arrow(slice_df, path)
    back = read_arrow(spark, path)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("key_sum"),
            F.round(F.sum("l_extendedprice"), 2).alias("price_sum"),
            (F.count(F.lit(1)) - F.count("maybe_status")).alias("null_count"),
            F.sum(F.size("pair")).cast("long").alias("pair_sum"),
            F.min("ship_date").alias("first_ship"),
        )
        .orderBy("l_returnflag")
    )


# --- Z-order clustered layout: 2-D box query after rewrite -----------------

@register(
    "layout_zorder_box",
    """
    SELECT CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
    FROM events
    WHERE user_id BETWEEN 10 AND 40 AND value BETWEEN 10.0 AND 60.0
    """,
)
def layout_zorder_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite events Z-order-clustered on (user_id, value) — the 2-D
    skipping layout (operators/layout.py; reference analogue: chunk
    min/max pruning, chyt/server/granule_min_max_filter.cpp:24-83, which
    a single sort key only serves on the leading column) — then answer a
    2-D box query from the clustered copy. Every output file covers a
    hyper-rectangle, so row-group stats prune BOTH predicates; the
    oracle proves the rewritten layout returns byte-identical results."""
    from ytsaurus_spark.operators.layout import layout_zorder

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    path = os.path.join(scratch_dir("ytspark_zorder_"), "events")
    layout_zorder(ev, ["user_id", "value"], path, n_files=8)
    z = spark.read.parquet(path)
    return (
        z.filter(F.col("user_id").between(10, 40) & F.col("value").between(10.0, 60.0))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@register(
    "fmt_codec_roundtrip",
    """
    SELECT codec, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM part CROSS JOIN (
      SELECT unnest(['zstd', 'gzip', 'snappy']) AS codec
    )
    GROUP BY codec
    """,
)
def fmt_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec roundtrip (the reference's per-block codec choice
    → parquet codec selection): the same table written under zstd, gzip,
    and snappy, read back, and aggregated per codec — identical rows
    under every codec proves codec-transparent storage."""
    from ytsaurus_spark.sources.formats import read_table, write_table

    cat = load_tables(spark, sf_dir)
    part = cat.read("part")
    root = scratch_dir("ytspark_codec_")
    outs = []
    for codec in ("zstd", "gzip", "snappy"):
        p = os.path.join(root, codec)
        write_table(part, p, fmt="parquet", compression=codec)
        back = read_table(spark, p)
        outs.append(
            back.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("p_retailprice") * 100).cast("long")).alias(
                    "price_cents"
                ),
            ).select(F.lit(codec).alias("codec"), "n", "price_cents")
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


@register(
    "fmt_orc_roundtrip",
    """
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents,
           CAST(sum(p_size) AS BIGINT) AS size_sum,
           CAST(count(DISTINCT p_type) AS BIGINT) AS n_types
    FROM part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def fmt_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC roundtrip (the second columnar wire format next to parquet —
    EFormatType parity, yt/yt/client/formats/public.h:49-62): the part
    table written as ORC (zlib), read back through Spark's native ORC
    reader, and aggregated per brand with exact-integer checks over
    string, int, and decimal-bearing columns. The oracle computes the
    identical aggregate from the ORIGINAL parquet, so a hash match
    proves the ORC path lossless end-to-end (type fidelity included —
    a DOUBLE->FLOAT downcast or string truncation breaks the cents
    sum)."""
    from ytsaurus_spark.sources.formats import read_table, write_table

    cat = load_tables(spark, sf_dir)
    part = cat.read("part")
    root = scratch_dir("ytspark_orc_")
    p = os.path.join(root, "part_orc")
    write_table(part, p, fmt="orc", compression="zlib")
    back = read_table(spark, p, fmt="orc")
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("p_retailprice") * 100).cast("long"))
            .cast("long")
            .alias("price_cents"),
            F.sum("p_size").cast("long").alias("size_sum"),
            F.countDistinct("p_type").cast("long").alias("n_types"),
        )
        .orderBy("p_brand")
    )


@register(
    "fmt_schema_evolution_merge",
    """
    WITH old_files AS (
      SELECT doc_id, lang, NULL AS source, NULL AS n_chars
      FROM documents WHERE doc_id % 2 = 0
    ), new_files AS (
      SELECT doc_id, lang, source, n_chars
      FROM documents WHERE doc_id % 2 = 1
    ), merged AS (
      SELECT * FROM old_files UNION ALL SELECT * FROM new_files
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(source) AS BIGINT) AS with_source,
           CAST(count(n_chars) AS BIGINT) AS with_chars,
           CAST(sum(COALESCE(n_chars, 0)) AS BIGINT) AS chars_sum
    FROM merged
    GROUP BY lang
    ORDER BY lang
    """,
)
def fmt_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read (the reference's weak-schema / ALTER
    TABLE column-add contract, yt_types schema compat rules): an OLD
    parquet generation written with (doc_id, lang) and a NEW generation
    with the added (source, n_chars) columns live in one directory;
    ``mergeSchema=true`` reads both, null-padding the old rows — the
    lakehouse column-add path with zero rewrites of old data. The
    aggregate counts non-null coverage per lang; the oracle simulates
    the same two generations as a NULL-padded UNION ALL of fixture
    slices, so a dropped column, misaligned union, or type-widening
    bug breaks the hash."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    root = scratch_dir("ytspark_evo_")
    old = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source", "n_chars"
    )
    old.write.mode("overwrite").parquet(os.path.join(root, "gen=0"))
    new.write.mode("overwrite").parquet(os.path.join(root, "gen=1"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "gen=0"), os.path.join(root, "gen=1")
    )
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("source").cast("long").alias("with_source"),
            F.count("n_chars").cast("long").alias("with_chars"),
            F.sum(F.coalesce(F.col("n_chars"), F.lit(0)))
            .cast("long")
            .alias("chars_sum"),
        )
        .orderBy("lang")
    )
