"""One part-file DataSource behind the Skiff, Protobuf and Arrow formats.

The reference treats its wire formats as one I/O contract (``EFormatType``,
``yt/yt/client/formats/public.h:49-62``): a job reads and writes the same
table layout whatever the codec. Here a format is a :class:`PartFormat`,
its codec only; this module owns the Spark 4 Python DataSource plumbing
they share:

- a table is a directory of ``part-<uuid>.<suffix>`` files, one per write
  partition (an empty partition still writes its file);
- a read plans one task per part file (files starting with ``.`` or ``_``
  are skipped), or one empty task for a directory without parts; a path
  naming one part file reads that file;
- an overwrite removes the directory first; an append whose schema differs
  from the recorded one fails before any file is written;
- a format with a schema sidecar gets it published (``jsonio``) with the
  directory's first write, so ``spark.read.format(name).load(path)`` is
  self-describing; a part-file path finds the sidecar of its directory.

Spark looks a Python data source up on the JVM's *active* session, so
every session the engine makes or is handed registers the formats
(:func:`register`: ``session.get_spark``, ``session.ensure_runtime_confs``
and the statement templates, whose ``cloneSession()`` copies inherit it).
"""

from __future__ import annotations

import datetime
import decimal
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import BinaryIO, Callable, Iterator, Mapping

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
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ytsaurus_spark.jsonio import load_json, publish_json

#: decodes one part file's bytes to row tuples or ``pyarrow.RecordBatch``es
Decode = Callable[[bytes], Iterator]
#: encodes a write task's Arrow batches into its open part file
Encode = Callable[[Iterator, BinaryIO], None]


@dataclass(frozen=True)
class PartFormat:
    """The codec of one part-file format.

    ``decoder(directory, schema, options)`` and ``encoder(...)`` run where
    Spark plans the scan or the write; the functions they return run in
    the tasks. The schema a table already has is
    ``recorded_schema(directory, parts, options)`` when that gives one,
    else the ``sidecar`` document in ``directory``, else None."""

    name: str
    suffix: str
    check: Callable[[DataType], object]  # raises on a type the wire cannot carry
    decoder: Callable[[str, StructType, Mapping], Decode]
    encoder: Callable[[str, StructType, Mapping], Encode]
    sidecar: str | None = None
    recorded_schema: Callable[[str, list, Mapping], StructType | None] | None = None

    def schema_of(self, directory: str, parts: list[str], options) -> StructType | None:
        if self.recorded_schema is not None:
            schema = self.recorded_schema(directory, parts, options)
            if schema is not None:
                return schema
        if self.sidecar is None:
            return None
        doc = load_json(os.path.join(directory, self.sidecar), None)
        return None if doc is None else StructType.fromJson(doc)


def _formats() -> tuple[PartFormat, ...]:
    from ytsaurus_spark.sources import arrow, protobuf, skiff

    return (skiff.SKIFF, protobuf.YTPROTO, arrow.YTARROW)


def _layout(path: str, suffix: str) -> tuple[str, list[str]]:
    """(the directory holding the sidecars, the part files) of ``path``."""
    if os.path.isfile(path):
        return os.path.dirname(path), [path]
    if not os.path.isdir(path):
        return path, []
    parts = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith("." + suffix) and not f.startswith((".", "_"))
    )
    return path, parts


# -- row codec helpers ---------------------------------------------------


def _arrow_cell_to_py(values: list, dtype: DataType) -> list:
    """Arrow ``to_pylist`` values → what a row codec expects."""
    if isinstance(dtype, MapType):
        # arrow maps round-trip as lists of (key, value) tuples
        return [dict(v) if v is not None else None for v in values]
    return values


def batch_rows(batch, schema: StructType):
    """A write task's Arrow batch as row tuples in ``schema`` order."""
    return zip(
        *(
            [
                _arrow_cell_to_py(col.to_pylist(), field.dataType)
                for col, field in zip(batch.columns, schema.fields)
            ]
            or [[]]
        )
    )


def row_encoder(schema: StructType, encode_rows: Callable[[Iterator], bytes]) -> Encode:
    """The part-file encoder of a row codec: each Arrow batch's rows
    through ``encode_rows(rows)``, chunks appended in batch order."""

    def encode(batches, fh) -> None:
        fh.writelines(encode_rows(batch_rows(batch, schema)) for batch in batches)

    return encode


_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def to_wire_value(value, dtype: DataType):
    """A row value as the integer a row codec packs for dates (days since
    epoch), timestamps (microseconds since epoch, UTC) and uint64
    decimals; other values unchanged."""
    if isinstance(dtype, DateType):
        return (value - _EPOCH_DATE).days
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        if value.tzinfo is None:
            value = value.replace(tzinfo=datetime.timezone.utc)
        return round((value - _EPOCH_TS).total_seconds() * 1_000_000)
    if isinstance(dtype, DecimalType):
        return int(value)
    return value


def from_wire_value(value, dtype: DataType):
    """The inverse of :func:`to_wire_value`."""
    if isinstance(dtype, DateType):
        return _EPOCH_DATE + datetime.timedelta(days=value)
    if isinstance(dtype, TimestampType):
        return _EPOCH_TS + datetime.timedelta(microseconds=value)
    if isinstance(dtype, TimestampNTZType):
        return (_EPOCH_TS + datetime.timedelta(microseconds=value)).replace(tzinfo=None)
    if isinstance(dtype, DecimalType):
        return decimal.Decimal(value)
    return value


def nested_to_plain(value, dtype: DataType):
    """Spark nested value (Row/list/dict) → plain YSON-serializable value;
    an absent struct field is null."""
    if value is None:
        return None
    if isinstance(dtype, ArrayType):
        return [nested_to_plain(v, dtype.elementType) for v in value]
    if isinstance(dtype, MapType):
        return {k: nested_to_plain(v, dtype.valueType) for k, v in value.items()}
    if isinstance(dtype, StructType):
        as_dict = value.asDict() if hasattr(value, "asDict") else dict(value)
        return {f.name: nested_to_plain(as_dict.get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, (FloatType, DoubleType)):
        return float(value)
    if isinstance(dtype, (LongType, IntegerType, ShortType, ByteType)):
        return int(value)
    return value


# -- the DataSource ------------------------------------------------------


class _Partition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _Reader(DataSourceReader):
    def __init__(self, parts: list[str], decode: Decode):
        self._parts = parts
        self._decode = decode

    def partitions(self):
        return [_Partition(p) for p in self._parts] or [_Partition("")]

    def read(self, partition: _Partition):
        if not partition.path:
            return iter(())
        with open(partition.path, "rb") as fh:
            data = fh.read()
        return self._decode(data)


class _Commit(WriterCommitMessage):
    pass


class _Writer(DataSourceArrowWriter):
    def __init__(self, directory: str, suffix: str, encode: Encode):
        self._directory = directory
        self._suffix = suffix
        self._encode = encode

    def write(self, iterator):
        os.makedirs(self._directory, exist_ok=True)
        out = os.path.join(self._directory, f"part-{uuid.uuid4().hex}.{self._suffix}")
        with open(out, "wb") as fh:
            self._encode(iterator, fh)
        return _Commit()


class _PartFileSource(DataSource):
    """``spark.read.format(fmt.name)`` / ``df.write.format(fmt.name)``;
    :func:`_source` binds ``fmt``."""

    fmt: PartFormat

    @classmethod
    def name(cls) -> str:
        return cls.fmt.name

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError(f"{self.fmt.name} datasource requires a path")
        return path

    def _check(self, schema: StructType) -> None:
        for field in schema.fields:
            self.fmt.check(field.dataType)

    def schema(self) -> StructType:
        path = self._path()
        schema = self.fmt.schema_of(*_layout(path, self.fmt.suffix), self.options)
        if schema is None:
            raise ValueError(
                f"no {self.fmt.name} schema recorded under {path}; "
                "pass .schema(...) explicitly"
            )
        return schema

    def reader(self, schema: StructType) -> DataSourceReader:
        self._check(schema)
        path = self._path()
        if not os.path.exists(path):
            raise FileNotFoundError(f"no {self.fmt.name} table at {path}")
        directory, parts = _layout(path, self.fmt.suffix)
        return _Reader(parts, self.fmt.decoder(directory, schema, self.options))

    def writer(self, schema: StructType, overwrite: bool):
        fmt, path = self.fmt, self._path()
        self._check(schema)
        if overwrite and os.path.isdir(path):
            shutil.rmtree(path)
        recorded = fmt.schema_of(*_layout(path, fmt.suffix), self.options)
        if recorded is not None and _columns(recorded) != _columns(schema):
            raise ValueError(
                f"cannot append {schema.simpleString()} to the {fmt.name} "
                f"table {path} of schema {recorded.simpleString()} (column "
                "names, types and nullability must match)"
            )
        os.makedirs(path, exist_ok=True)
        if recorded is None and fmt.sidecar is not None:
            publish_json(os.path.join(path, fmt.sidecar), schema.jsonValue())
        return _Writer(path, fmt.suffix, fmt.encoder(path, schema, self.options))


def _columns(schema: StructType) -> list[tuple[str, str, bool]]:
    """What an append must match: field metadata is not on every format's
    wire (an Arrow footer drops it)."""
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in schema.fields]


def _source(fmt: PartFormat) -> type:
    return type(f"{fmt.name}_source", (_PartFileSource,), {"fmt": fmt})


def register(spark: SparkSession) -> None:
    """Register every part-file format on ``spark`` that it lacks (a
    ``cloneSession()`` copy inherits its template's registrations, and a
    second registration would replace the first).

    Spark refuses a name the *active* session already resolves
    (``DATA_SOURCE_ALREADY_EXISTS``), so ``spark`` is the active session
    while it registers, and the previous one is restored after."""
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    missing = [f for f in _formats() if not manager.dataSourceExists(f.name)]
    if not missing:
        return
    jclass = getattr(spark._jvm, "org.apache.spark.sql.classic.SparkSession")
    previous = jclass.getActiveSession()
    jclass.setActiveSession(spark._jsparkSession)
    try:
        for fmt in missing:
            spark.dataSource.register(_source(fmt))
    finally:
        if previous.isDefined():
            jclass.setActiveSession(previous.get())
        else:
            jclass.clearActiveSession()


def read(spark: SparkSession, fmt: str, path: str,
         schema: StructType | str | None = None, **options: str) -> DataFrame:
    register(spark)
    reader = spark.read.format(fmt).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write(df: DataFrame, fmt: str, path: str, mode: str = "overwrite",
          **options: str) -> None:
    register(df.sparkSession)
    df.write.format(fmt).mode(mode).options(**options).save(path)
