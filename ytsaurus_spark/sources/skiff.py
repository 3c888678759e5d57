"""Skiff wire format as a Spark Python DataSource (reader + writer).

Skiff is the reference's schema-full binary job-I/O format
(``yt/yt/library/formats/skiff_writer.cpp``, core wire library
``library/cpp/skiff/``; the Go codec ``yt/go/skiff/encoder.go:124-208``
is the most readable spec). Wire layout, confirmed against the Go encoder:

- each row starts with a **uint16 little-endian variant tag** selecting the
  table schema (0 for a single-table stream);
- fields follow in schema order, no per-field names on the wire;
- ``int64``/``uint64`` → 8-byte LE; ``double`` → IEEE-754 8-byte LE;
  ``boolean`` → 1 byte; ``string32`` → uint32 LE byte-length + raw bytes;
  ``yson32`` → uint32 LE byte-length + binary-YSON payload;
- an **optional** column is ``variant8<nothing, T>``: one tag byte, 0 for
  null, 1 followed by the value.

Spark-first mapping: the format is implemented with the Spark 4 Python
DataSource API (``pyspark.sql.datasource``) so it plugs into normal
``spark.read.format("skiff")`` / ``df.write.format("skiff")`` planning —
one task per part-file on read, one file per partition on write, Arrow
batches across the Python boundary. Skiff is an *interchange* format (the
reference uses it for job I/O, not storage), so the per-row Python codec is
acceptable; analytics paths stay on parquet.

Type mapping (Spark ⇄ Skiff):

================  ============  =====================================
Spark type        Skiff wire    notes
================  ============  =====================================
long/int/short    int64         read back as ``long``
decimal(20,0)     uint64        the uint64 discipline (SURVEY §2.1)
double/float      double        read back as ``double``
boolean           boolean
string            string32      utf-8
binary            string32      byte-preserving
date              int64         days since epoch
timestamp         int64         microseconds since epoch, UTC
array/map/struct  yson32        via :mod:`ytsaurus_spark.sources.yson`
================  ============  =====================================

A ``_skiff_schema.json`` sidecar (Spark schema JSON) is committed with
each written directory so ``spark.read.format("skiff").load(path)`` is
self-describing; pass an explicit ``.schema(...)`` to read foreign files.
"""

from __future__ import annotations

import datetime
import decimal
import os
import struct
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ytsaurus_spark.jsonio import load_json, publish_json
from ytsaurus_spark.sources import yson

SIDECAR = "_skiff_schema.json"
SIDECAR_MULTI = "_skiff_multi_schema.json"
_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

INT64 = "int64"
UINT64 = "uint64"
DOUBLE = "double"
BOOLEAN = "boolean"
STRING32 = "string32"
YSON32 = "yson32"


def wire_type_for(dtype: DataType) -> str:
    """Spark type → Skiff wire type (see module table)."""
    if isinstance(dtype, (LongType, IntegerType, ShortType, ByteType, DateType, TimestampType, TimestampNTZType)):
        return INT64
    if isinstance(dtype, DecimalType) and dtype.scale == 0:
        return UINT64
    if isinstance(dtype, (DoubleType, FloatType)):
        return DOUBLE
    if isinstance(dtype, BooleanType):
        return BOOLEAN
    if isinstance(dtype, (StringType, BinaryType)):
        return STRING32
    if isinstance(dtype, (ArrayType, MapType, StructType)):
        return YSON32
    raise TypeError(f"no Skiff wire type for Spark type {dtype.simpleString()}")


def _to_wire_value(value, dtype: DataType):
    """Normalize a Python row value to what the packer expects."""
    if isinstance(dtype, DateType):
        return (value - _EPOCH_DATE).days
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        if value.tzinfo is None:
            value = value.replace(tzinfo=datetime.timezone.utc)
        return round((value - _EPOCH_TS).total_seconds() * 1_000_000)
    if isinstance(dtype, DecimalType):
        return int(value)
    return value


def _from_wire_value(value, dtype: DataType):
    if isinstance(dtype, DateType):
        return _EPOCH_DATE + datetime.timedelta(days=value)
    if isinstance(dtype, TimestampType):
        return _EPOCH_TS + datetime.timedelta(microseconds=value)
    if isinstance(dtype, TimestampNTZType):
        return (_EPOCH_TS + datetime.timedelta(microseconds=value)).replace(tzinfo=None)
    if isinstance(dtype, DecimalType):
        return decimal.Decimal(value)
    return value


def _arrow_type(dtype: DataType):
    import pyarrow as pa

    if isinstance(dtype, LongType):
        return pa.int64()
    if isinstance(dtype, IntegerType):
        return pa.int32()
    if isinstance(dtype, ShortType):
        return pa.int16()
    if isinstance(dtype, ByteType):
        return pa.int8()
    if isinstance(dtype, DecimalType):
        return pa.decimal128(dtype.precision, dtype.scale)
    if isinstance(dtype, DoubleType):
        return pa.float64()
    if isinstance(dtype, FloatType):
        return pa.float32()
    if isinstance(dtype, BooleanType):
        return pa.bool_()
    if isinstance(dtype, StringType):
        return pa.string()
    if isinstance(dtype, BinaryType):
        return pa.binary()
    if isinstance(dtype, DateType):
        return pa.date32()
    if isinstance(dtype, TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dtype, TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(dtype, ArrayType):
        return pa.list_(_arrow_type(dtype.elementType))
    if isinstance(dtype, MapType):
        return pa.map_(_arrow_type(dtype.keyType), _arrow_type(dtype.valueType))
    if isinstance(dtype, StructType):
        return pa.struct([(f.name, _arrow_type(f.dataType)) for f in dtype.fields])
    raise TypeError(f"no arrow type for {dtype.simpleString()}")


def _nested_to_plain(value, dtype: DataType):
    """Spark nested value (Row/list/dict) → plain YSON-serializable value."""
    if value is None:
        return None
    if isinstance(dtype, ArrayType):
        return [_nested_to_plain(v, dtype.elementType) for v in value]
    if isinstance(dtype, MapType):
        return {k: _nested_to_plain(v, dtype.valueType) for k, v in value.items()}
    if isinstance(dtype, StructType):
        as_dict = value.asDict() if hasattr(value, "asDict") else dict(value)
        return {f.name: _nested_to_plain(as_dict[f.name], f.dataType) for f in dtype.fields}
    if isinstance(dtype, (FloatType, DoubleType)):
        return float(value)
    if isinstance(dtype, (LongType, IntegerType, ShortType, ByteType)):
        return int(value)
    return value


def encode_rows(rows, schema: StructType, table_index: int = 0) -> bytes:
    """Encode an iterable of per-field-ordered tuples as a Skiff stream.

    ``table_index`` becomes each row's variant16 tag — 0 for a single-table
    stream, N for the Nth table of a multi-table stream (the reference's
    table-index routing, ``yt/go/skiff/encoder.go:124-208``)."""
    fields = [(f.dataType, wire_type_for(f.dataType), f.nullable) for f in schema.fields]
    out = bytearray()
    pack_i64 = struct.Struct("<q").pack
    pack_u64 = struct.Struct("<Q").pack
    pack_f64 = struct.Struct("<d").pack
    pack_u32 = struct.Struct("<I").pack
    tag_bytes = struct.Struct("<H").pack(table_index)
    for row in rows:
        out += tag_bytes  # variant16 table tag
        for value, (dtype, wire, nullable) in zip(row, fields):
            if nullable:
                if value is None:
                    out.append(0)
                    continue
                out.append(1)
            elif value is None:
                raise ValueError("null in non-nullable Skiff field")
            if wire == INT64:
                out += pack_i64(_to_wire_value(value, dtype))
            elif wire == UINT64:
                out += pack_u64(_to_wire_value(value, dtype))
            elif wire == DOUBLE:
                out += pack_f64(float(value))
            elif wire == BOOLEAN:
                out.append(1 if value else 0)
            elif wire == STRING32:
                raw = value.encode("utf-8") if isinstance(value, str) else bytes(value)
                out += pack_u32(len(raw))
                out += raw
            else:  # YSON32
                raw = yson.dumps(_nested_to_plain(value, dtype))
                out += pack_u32(len(raw))
                out += raw
    return bytes(out)


def decode_stream(
    data: bytes,
    schema: StructType,
    batch_rows: int = 4096,
    all_schemas: list[StructType] | None = None,
    table_index: int = 0,
):
    """Parse a Skiff stream → iterator of ``pyarrow.RecordBatch``.

    Single-table streams: every row must carry tag ``table_index`` (0).
    Multi-table streams: pass ``all_schemas`` (one per tag, in tag order);
    rows tagged with other tables are parsed to advance the cursor and
    discarded — the read contract is one table per scan, mirroring the
    reference readers' per-table routing (a reducer asks GetTableIndex and
    the framework has already demultiplexed the wire stream)."""
    import pyarrow as pa

    specs_by_tag: dict[int, list] = {
        table_index: [
            (f.dataType, wire_type_for(f.dataType), f.nullable) for f in schema.fields
        ]
    }
    if all_schemas is not None:
        for tag, s in enumerate(all_schemas):
            specs_by_tag.setdefault(
                tag,
                [(f.dataType, wire_type_for(f.dataType), f.nullable) for f in s.fields],
            )
    fields = specs_by_tag[table_index]
    arrow_schema = pa.schema([(f.name, _arrow_type(f.dataType)) for f in schema.fields])
    unpack_i64 = struct.Struct("<q").unpack_from
    unpack_u64 = struct.Struct("<Q").unpack_from
    unpack_f64 = struct.Struct("<d").unpack_from
    unpack_u32 = struct.Struct("<I").unpack_from
    columns: list[list] = [[] for _ in fields]
    discard: list[None] = []  # sink for foreign-table values
    pos, size = 0, len(data)

    def flush():
        batch = pa.RecordBatch.from_arrays(
            [pa.array(col, type=arrow_schema.field(i).type) for i, col in enumerate(columns)],
            schema=arrow_schema,
        )
        for col in columns:
            col.clear()
        return batch

    while pos < size:
        tag = data[pos] | (data[pos + 1] << 8)
        if tag not in specs_by_tag:
            raise ValueError(
                f"Skiff row tag {tag} has no schema (stream has "
                f"{len(specs_by_tag)} known table(s)); pass all_schemas"
            )
        pos += 2
        keep = tag == table_index
        row_fields = specs_by_tag[tag]
        sinks = columns if keep else [discard] * len(row_fields)
        for (dtype, wire, nullable), col in zip(row_fields, sinks):
            if nullable:
                present = data[pos]
                pos += 1
                if present == 0:
                    if keep:
                        col.append(None)
                    continue
            if wire == INT64:
                if keep:
                    col.append(_from_wire_value(unpack_i64(data, pos)[0], dtype))
                pos += 8
            elif wire == UINT64:
                if keep:
                    col.append(_from_wire_value(unpack_u64(data, pos)[0], dtype))
                pos += 8
            elif wire == DOUBLE:
                if keep:
                    col.append(unpack_f64(data, pos)[0])
                pos += 8
            elif wire == BOOLEAN:
                if keep:
                    col.append(bool(data[pos]))
                pos += 1
            elif wire == STRING32:
                length = unpack_u32(data, pos)[0]
                pos += 4
                if keep:
                    raw = data[pos : pos + length]
                    col.append(
                        raw.decode("utf-8") if isinstance(dtype, StringType) else bytes(raw)
                    )
                pos += length
            else:  # YSON32
                length = unpack_u32(data, pos)[0]
                pos += 4
                if keep:
                    value, end = yson.loads_prefix(data, pos)
                    if end != pos + length:
                        raise ValueError(f"yson32 length mismatch at byte {pos}")
                    col.append(value)
                pos += length
        if columns[0] and len(columns[0]) >= batch_rows:
            yield flush()
    if columns and columns[0]:
        yield flush()


class _SkiffFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _SkiffReader(DataSourceReader):
    def __init__(
        self,
        path: str,
        schema: StructType,
        all_schemas: list[StructType] | None = None,
        table_index: int = 0,
    ):
        self._path = path
        self._schema = schema
        self._all_schemas = all_schemas
        self._table_index = table_index

    def partitions(self):
        if os.path.isdir(self._path):
            files = sorted(
                os.path.join(self._path, f)
                for f in os.listdir(self._path)
                if f.endswith(".skiff")
            )
        else:
            files = [self._path]
        # One task per part-file: on a real cluster each file parses in its
        # own task; an empty dir still needs one (empty) partition.
        return [_SkiffFilePartition(f) for f in files] or [_SkiffFilePartition("")]

    def read(self, partition: _SkiffFilePartition):
        if not partition.path:
            return iter(())
        with open(partition.path, "rb") as fh:
            data = fh.read()
        return decode_stream(
            data,
            self._schema,
            all_schemas=self._all_schemas,
            table_index=self._table_index,
        )


class _SkiffCommit(WriterCommitMessage):
    pass


class _SkiffWriter(DataSourceArrowWriter):
    def __init__(self, path: str, schema: StructType, table_index: int = 0):
        self._path = path
        self._schema = schema
        self._table_index = table_index

    def write(self, iterator):
        os.makedirs(self._path, exist_ok=True)
        out_path = os.path.join(self._path, f"part-{uuid.uuid4().hex}.skiff")
        chunks = []
        for batch in iterator:
            rows = zip(
                *(
                    [
                        _arrow_cell_to_py(col.to_pylist(), field.dataType)
                        for col, field in zip(batch.columns, self._schema.fields)
                    ]
                    or [[]]
                )
            )
            chunks.append(encode_rows(rows, self._schema, self._table_index))
        with open(out_path, "wb") as fh:
            fh.writelines(chunks)
        return _SkiffCommit()


def _arrow_cell_to_py(values: list, dtype: DataType) -> list:
    """Arrow ``to_pylist`` values → what ``encode_rows`` expects."""
    if isinstance(dtype, MapType):
        # arrow maps round-trip as lists of (key, value) tuples
        return [dict(v) if v is not None else None for v in values]
    return values


class SkiffDataSource(DataSource):
    """``spark.read.format("skiff")`` / ``df.write.format("skiff")``."""

    @classmethod
    def name(cls) -> str:
        return "skiff"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("skiff datasource requires a path")
        return path

    def _table_index(self) -> int | None:
        v = self.options.get("tableindex", self.options.get("tableIndex"))
        return int(v) if v is not None else None

    def _multi_schemas(self) -> list[StructType] | None:
        multi = load_json(os.path.join(self._path(), SIDECAR_MULTI), None)
        if multi is None:
            return None
        return [StructType.fromJson(s) for s in multi["tables"]]

    def schema(self) -> StructType:
        idx = self._table_index()
        if idx is not None:
            multi = self._multi_schemas()
            if multi is not None:
                return multi[idx]
        schema = load_json(os.path.join(self._path(), SIDECAR), None)
        if schema is not None:
            return StructType.fromJson(schema)
        raise ValueError(
            f"no {SIDECAR} sidecar under {self._path()}; pass .schema(...) explicitly"
        )

    def reader(self, schema: StructType) -> DataSourceReader:
        for field in schema.fields:
            wire_type_for(field.dataType)  # fail fast on unsupported types
        return _SkiffReader(
            self._path(),
            schema,
            all_schemas=self._multi_schemas(),
            table_index=self._table_index() or 0,
        )

    def writer(self, schema: StructType, overwrite: bool):
        import shutil

        path = self._path()
        for field in schema.fields:
            wire_type_for(field.dataType)
        idx = self._table_index()
        if overwrite and os.path.isdir(path):
            shutil.rmtree(path)
        os.makedirs(path, exist_ok=True)
        if idx is None:
            publish_json(os.path.join(path, SIDECAR), schema.jsonValue())
        # multi-table writes: write_skiff_multi commits the multi sidecar
        # up front on the driver; per-table appends just tag their rows.
        return _SkiffWriter(path, schema, table_index=idx or 0)


def register_skiff(spark: SparkSession) -> None:
    """Idempotently register the skiff format on a session."""
    try:
        spark.dataSource.register(SkiffDataSource)
    except Exception:  # already registered
        pass


def write_skiff(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    register_skiff(df.sparkSession)
    df.write.format("skiff").mode(mode).save(path)


def read_skiff(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    register_skiff(spark)
    reader = spark.read.format("skiff")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_skiff_multi(dfs: list[DataFrame], path: str) -> None:
    """Write N DataFrames as ONE multi-table Skiff stream directory.

    Each row carries its table's variant16 tag; a ``_skiff_multi_schema``
    sidecar records the per-tag schemas. Every table writes in parallel
    (one file per partition, any file may later be concatenated with any
    other — the wire format is order-free), which is the Spark-shaped
    version of the reference's multi-output job writer
    (``yt/yt/library/formats/skiff_writer.cpp`` variant16 routing).
    """
    import shutil

    if not dfs:
        raise ValueError("write_skiff_multi needs at least one DataFrame")
    spark = dfs[0].sparkSession
    register_skiff(spark)
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    publish_json(
        os.path.join(path, SIDECAR_MULTI),
        {"tables": [df.schema.jsonValue() for df in dfs]},
    )
    for i, df in enumerate(dfs):
        (
            df.write.format("skiff")
            .mode("append")
            .option("tableIndex", str(i))
            .save(path)
        )


def read_skiff_multi(
    spark: SparkSession, path: str, table_index: int
) -> DataFrame:
    """Read one table out of a multi-table Skiff stream directory. Rows of
    other tables are skipped wire-level (parsed for length, not
    materialized) — the per-table demultiplex the reference job framework
    performs before handing rows to user code."""
    register_skiff(spark)
    return (
        spark.read.format("skiff")
        .option("tableIndex", str(table_index))
        .load(path)
    )


def read_skiff_multi_all(spark: SparkSession, path: str) -> DataFrame:
    """All tables of a multi-table Skiff stream as ONE DataFrame: schemas
    union by name (missing columns null) plus a ``__table_index`` column —
    the reference reducer's GetTableIndex contract
    (yt/cpp/mapreduce/interface/operation.h multi-input readers) in
    DataFrame form. Each table is one demultiplexing pass over the stream
    (N tables = N passes); for analytics-sized data convert to parquet
    first — Skiff is the interchange, not the scan format."""
    from functools import reduce as _reduce

    from pyspark.sql import functions as F

    n = len(load_json(os.path.join(path, SIDECAR_MULTI))["tables"])
    parts = [
        read_skiff_multi(spark, path, i).withColumn("__table_index", F.lit(i))
        for i in range(n)
    ]
    return _reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )
