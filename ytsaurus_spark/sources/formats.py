"""I/O format layer — the reference's EFormatType surface mapped to Spark.

Reference formats (yt/yt/client/formats/public.h:49-62): YSON, JSON, DSV,
TSKV (YamredDsv), SchemafulDsv, Protobuf, WebJson, Skiff, Arrow, Yaml.

Mapping:
- JSON/CSV/Parquet/ORC → native Spark readers (columnar pushdown on
  parquet/orc; JSON/CSV schema-on-read).
- DSV (tab-separated key=value-free) → csv with ``sep='\\t'``.
- TSKV (tab-separated key=value, YT's YamredDsv cousin) → one-column text
  read + ``str_to_map`` — stays JVM-side, no Python parsing.
- SchemafulDsv → csv with an explicit schema, no header.
- Skiff, Protobuf, Arrow → one part-file Spark 4 Python DataSource
  (``sources/part_files.py``: one task per part-file, one file per write
  partition, schema-checked appends) with a codec each: Skiff, the
  reference's binary job-I/O wire format (``sources/skiff.py``), lenval
  proto2 wire rows (``sources/protobuf.py``), Arrow IPC files
  (``sources/arrow.py``).
- YAMR / YamredDsv → tab-framed key/subkey/value text lines
  (``read_yamr``/``write_yamr``/``read_yamred_dsv``): limit-split stays
  JVM-side, the value map parses with ``str_to_map``.
- WebJson → output-only typed-value envelope for UI display
  (``to_webjson``): bounded row slice, every value tagged with its YT
  type name — intentionally driver-side, it is a pagination format.
- YSON → binary-YSON codec in ``sources/yson.py`` (used for Skiff's
  ``yson32`` nested slots); query-side 'Any' columns carry JSON text
  (functions.ql ypath getters) so getters stay JVM-side.

Plus: RemoteCopy (cross-catalog copy preserving layout) and chunk
compaction (the auto-merge analog).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.jsonio import load_json, publish_json

# Per-block compression in the reference (~60 codecs, Snappy/Lz4/Brotli/
# Zlib/Zstd levels — yt/yt/core/compression/public.h:17-60) maps to
# parquet codec selection; levels collapse to the codec's default.
COMPRESSION_CODECS = ("snappy", "zstd", "gzip", "lz4", "none", "uncompressed")

_FORMAT_READERS = {
    "parquet": lambda r: r.parquet,
    "orc": lambda r: r.orc,
    "json": lambda r: r.json,
    "csv": lambda r: r.csv,
}


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", schema=None, **opts) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in opts.items():
        reader = reader.option(k, v)
    try:
        fn = _FORMAT_READERS[fmt](reader)
    except KeyError:
        raise ValueError(f"unsupported format {fmt!r}; use {list(_FORMAT_READERS)}")
    return fn(path)


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite", partition_by: list[str] | None = None, **opts) -> None:
    """Write ``df`` as the table directory ``path``.

    ``mode="overwrite"`` is the engine's one way to replace a table, and
    ``df`` may read the table it replaces (an in-place sort, merge, erase,
    ``INSERT <append=%false>`` or ALTER): the frame is written into a
    hidden sibling directory, the table's ``_yt_attrs.json`` sidecar is
    carried into it, and it is swapped into place. The live copy is
    removed only after the staged one is complete, as the reference
    writes new chunks and then repoints the table. Other modes write in
    place. A parquet write of a whole table records its schema for
    ``catalog.read_parquet``.
    """
    final = path.rstrip("/")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in opts.items():
        writer = writer.option(k, v)
    if mode != "overwrite":
        getattr(writer, fmt)(final)
    else:
        parent, name = os.path.split(final)
        staged = os.path.join(parent, f".{name}.{uuid.uuid4().hex}")
        sidecar = os.path.join(final, "_yt_attrs.json")
        try:
            getattr(writer, fmt)(staged)
            if os.path.isfile(sidecar):
                shutil.copy2(sidecar, staged)
        except BaseException:
            shutil.rmtree(staged, ignore_errors=True)
            raise
        _swap_into_place(staged, final)
    if fmt == "parquet" and not partition_by and mode not in ("append", "ignore"):
        from ytsaurus_spark.catalog import record_parquet_schema

        record_parquet_schema(df.sparkSession, final, df.schema)


def _swap_into_place(staged: str, path: str) -> None:
    """Make the complete directory ``staged`` the table ``path``: the live
    copy is renamed aside, the staged one renamed in, and only then is
    the old copy deleted, so the disk never holds neither."""
    if not os.path.exists(path):
        os.rename(staged, path)
        return
    old = staged + ".old"
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old) if os.path.isdir(old) else os.remove(old)


def write_sorted_table(
    df: DataFrame, path: str, sorted_by: list[str], fmt: str = "parquet"
) -> None:
    """Sort and write, recording the 'sorted' attribute in a sidecar —
    the reference sets a ``sorted_by`` attribute on output tables so later
    sorted merges / merge joins can trust the order (SURVEY §2.2 Merge
    auto-detect, spec_builders.py:1966-1970)."""
    from ytsaurus_spark.operators.map_reduce import run_sort

    out = run_sort(df, sorted_by)
    write_table(out, path, fmt)
    _write_attrs(path, {"sorted_by": sorted_by})


def table_attributes(path: str) -> dict:
    return load_json(os.path.join(path, "_yt_attrs.json"), {})


def _write_attrs(path: str, attrs: dict) -> None:
    publish_json(os.path.join(path, "_yt_attrs.json"), attrs)


def merge_tables(
    spark: SparkSession, paths: list[str], mode: str = "auto", fmt: str = "parquet"
) -> DataFrame:
    """Merge operation over stored tables with mode auto-detect
    (spec_builders.py:1966-1970): if every input carries the same
    ``sorted_by`` attribute, produce a sorted merge on those keys; else an
    unordered concat."""
    from ytsaurus_spark.operators.map_reduce import run_merge

    dfs = [read_table(spark, p, fmt) for p in paths]
    if mode == "auto":
        sorts = [tuple(table_attributes(p).get("sorted_by") or ()) for p in paths]
        if sorts and all(s == sorts[0] and s for s in sorts):
            return run_merge(dfs, mode="sorted", merge_by=list(sorts[0]))
        return run_merge(dfs, mode="unordered")
    merge_by = None
    if mode == "sorted":
        merge_by = list(table_attributes(paths[0]).get("sorted_by") or [])
    return run_merge(dfs, mode=mode, merge_by=merge_by)


def read_dsv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """DSV: tab-separated values, no header (YT's simplest text format)."""
    reader = spark.read.option("sep", "\t").option("header", "false")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_schemaful_dsv(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """SchemafulDsv: DSV whose column order is fixed by the schema
    (formats/public.h — columns attr). All-string read; cast downstream."""
    df = spark.read.option("sep", "\t").option("header", "false").csv(path)
    return df.toDF(*columns)


def read_tskv(spark: SparkSession, path: str, prefix: str = "tskv") -> DataFrame:
    """TSKV: ``tskv\\tkey=value\\tkey=value...`` lines → MapType column.

    Parsed entirely with built-ins (regexp strip + str_to_map), so the
    format layer adds no Python cost; project map keys with element_at."""
    lines = spark.read.text(path)
    body = F.regexp_replace(F.col("value"), rf"^{prefix}\t", "")
    return lines.select(F.str_to_map(body, F.lit("\t"), F.lit("=")).alias("kv"))


def remote_copy(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> None:
    """RemoteCopy (remote_copy_job.cpp): copy a table across storage roots,
    preserving schema and (optionally) partition layout. In Spark terms the
    'clusters' are just catalogs/filesystems — the same read→write plan
    streams chunk-parallel with no driver involvement."""
    df = read_table(spark, src_path, fmt)
    write_table(df, dst_path, fmt, partition_by=partition_by)


def compact_table(
    spark: SparkSession,
    path: str,
    target_files: int,
    fmt: str = "parquet",
) -> None:
    """Auto-merge analog (auto_merge_task.cpp): rewrite a table's many small
    files into ``target_files`` — coalesce avoids a shuffle; the continuous
    version of this is AQE's coalescePartitions on every write."""
    write_table(read_table(spark, path, fmt).coalesce(target_files), path, fmt)


def read_yamr(spark: SparkSession, path: str, has_subkey: bool = False) -> DataFrame:
    """YAMR text lines (formats/public.h EFormatType::Yamr): ``key\\tvalue``
    or, with ``has_subkey``, ``key\\tsubkey\\tvalue``. The VALUE is the
    untouched remainder of the line (it may itself contain tabs), so the
    split is limit-bounded — all JVM-side."""
    lines = spark.read.text(path)
    n = 3 if has_subkey else 2
    parts = F.split(F.col("value"), "\t", n)
    cols = [parts.getItem(0).alias("key")]
    if has_subkey:
        cols.append(parts.getItem(1).alias("subkey"))
    cols.append(parts.getItem(n - 1).alias("value"))
    return lines.select(*cols)


def write_yamr(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write (key[, subkey], value) string columns as YAMR text lines.
    NULLs write as empty fields (coalesce to '') — concat_ws alone would
    SKIP a null column, shifting the remaining fields left and corrupting
    the round-trip."""
    order = [c for c in ("key", "subkey", "value") if c in df.columns]
    out = df.select(
        F.concat_ws(
            "\t", *[F.coalesce(F.col(c), F.lit("")) for c in order]
        ).alias("value")
    )
    out.write.mode(mode).text(path)


def read_yamred_dsv(
    spark: SparkSession, path: str, has_subkey: bool = False
) -> DataFrame:
    """YamredDsv: YAMR framing whose value part is DSV ``k=v`` pairs —
    key/subkey columns plus a MapType of the remaining fields."""
    base = read_yamr(spark, path, has_subkey=has_subkey)
    return base.withColumn(
        "fields", F.str_to_map(F.col("value"), F.lit("\t"), F.lit("="))
    ).drop("value")


#: YT type names for the WebJson $type tags (data_type mapping used by the
#: UI; public.h WebJson is an output-only format).
_WEBJSON_TYPES = {
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "double",
    "float": "double",
    "boolean": "boolean",
    "string": "string",
}


def to_webjson(df: DataFrame, limit: int = 1000) -> str:
    """Render a bounded row slice as the WebJson envelope: every value
    wrapped as ``{"$type": t, "$value": str}``, plus column metadata and
    an ``incomplete`` flag when the slice truncated. WebJson is the
    reference UI's pagination format — bounded driver-side output is the
    CONTRACT here, not a scale compromise (the analytics path never
    reads it back)."""
    rows = df.limit(limit + 1).collect()
    incomplete = len(rows) > limit
    rows = rows[:limit]
    types = {name: _WEBJSON_TYPES.get(dt, "any") for name, dt in df.dtypes}
    out_rows = []
    for r in rows:
        d = r.asDict()
        out_rows.append(
            {
                k: None
                if d[k] is None
                else {"$type": types[k], "$value": str(d[k]).lower()
                      if types[k] == "boolean" else str(d[k])}
                for k in d
            }
        )
    return json.dumps(
        {
            "rows": out_rows,
            "incomplete_columns": "false",
            "incomplete_all_column_names": "false",
            "all_column_names": [name for name, _ in df.dtypes],
            "incomplete": incomplete,
        },
        sort_keys=True,
    )


def concatenate(paths: list[str], dest: str, append: bool = False) -> None:
    """YT's Concatenate command (yt/python/yt/wrapper/table_commands.py
    concatenate; driver ``ConcatenateNodes``): make ``dest`` the union of
    the input tables WITHOUT reading a single data row — in the
    reference, chunk lists merge in the master; here the destination is
    a link manifest listing member table paths. O(#members) metadata at
    any data size; ``append=True`` extends an existing link (rich-YPath
    ``<append=%true>`` semantics). Reads resolve members at scan time so
    late-appended members show up, exactly like chunk-list composition."""
    os.makedirs(dest, exist_ok=True)
    manifest = os.path.join(dest, "_yt_concat.json")
    members = load_json(manifest, {"members": []})["members"] if append else []
    members += [os.path.abspath(p) for p in paths]
    publish_json(manifest, {"members": members})


def read_concatenated(spark: SparkSession, dest: str, fmt: str = "parquet") -> DataFrame:
    """Read a concatenate link: unionByName over the member tables (the
    scan plans per-member predicate pushdown + column pruning as usual;
    nothing was ever copied). Members written as plain files or as
    directories both resolve."""
    members = load_json(os.path.join(dest, "_yt_concat.json"))["members"]
    dfs = [read_table(spark, p, fmt) for p in members]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
