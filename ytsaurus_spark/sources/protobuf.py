"""Protobuf wire rows: the codec behind the ``ytproto`` part-file source.

The reference's protobuf job-I/O format (``EFormatType::Protobuf``,
``yt/yt/client/formats/public.h:49-62``; YTsaurus docs "Protobuf format")
is a **lenval stream**: each row is a 4-byte little-endian length followed
by one serialized proto2 message whose fields are the table columns. This
module implements that wire contract from the PUBLIC proto2 encoding spec
(developers.google.com/protocol-buffers/docs/encoding) — no generated
classes, no protobuf runtime: the table schema IS the message descriptor,
with field numbers assigned by column position (1-based).

Wire mapping (column type → proto2 field):

================  ==========================  ==========================
Spark type        proto2 wire                 notes
================  ==========================  ==========================
long/int/short    wire 0 varint (int64)       two's-complement negatives
decimal(20,0)     wire 0 varint (uint64)      the uint64 discipline
boolean           wire 0 varint (0/1)
double/float      wire 1 fixed64              IEEE-754 LE
string            wire 2 len-delimited        utf-8
binary            wire 2 len-delimited        byte-preserving
date              wire 0 varint               days since epoch
timestamp         wire 0 varint               microseconds since epoch
array/map/struct  wire 2 len-delimited        binary-YSON payload (the
                                              format's yson
                                              serialization_mode)
================  ==========================  ==========================

NULL columns are simply absent from the message — proto2 field presence
is the optional encoding (unlike Skiff's explicit variant8 tag byte).
Unknown field numbers are skipped on read by wire type, the standard
proto2 forward-compatibility rule, so readers tolerate writer-side schema
extensions.

``spark.read.format("ytproto")`` / ``df.write.format("ytproto")`` go
through the one part-file DataSource of
:mod:`ytsaurus_spark.sources.part_files`, as Skiff does (which see for the
rationale): one task per ``*.pb`` part-file on read, one file per
partition on write; interchange format, so the per-row Python codec is
acceptable and analytics stays on parquet. A ``_proto_schema.json``
sidecar makes written dirs self-describing.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
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

from ytsaurus_spark.sources import part_files, yson
from ytsaurus_spark.sources.yson import _read_uvarint, _write_uvarint

SIDECAR = "_proto_schema.json"

# proto2 wire types
_VARINT, _FIXED64, _LENDELIM = 0, 1, 2


def wire_kind_for(dtype: DataType) -> str:
    """Column type → codec kind (fails fast on unsupported types)."""
    if isinstance(dtype, (LongType, IntegerType, ShortType, ByteType, DateType,
                          TimestampType, TimestampNTZType)):
        return "int64"  # dates and timestamps as their part_files.to_wire_value
    if isinstance(dtype, DecimalType) and dtype.scale == 0:
        return "uint64"
    if isinstance(dtype, (DoubleType, FloatType)):
        return "double"
    if isinstance(dtype, BooleanType):
        return "bool"
    if isinstance(dtype, StringType):
        return "string"
    if isinstance(dtype, BinaryType):
        return "bytes"
    if isinstance(dtype, (ArrayType, MapType, StructType)):
        return "yson"
    raise TypeError(f"no protobuf wire mapping for Spark type {dtype}")


def _key(out: bytearray, field_no: int, wire: int) -> None:
    _write_uvarint(out, (field_no << 3) | wire)


def encode_rows_pb(rows, schema: StructType) -> bytes:
    """Rows → lenval proto2 stream (uint32 LE length + message each)."""
    kinds = [wire_kind_for(f.dataType) for f in schema.fields]
    dtypes = [f.dataType for f in schema.fields]
    out = bytearray()
    for row in rows:
        msg = bytearray()
        for i, (kind, v) in enumerate(zip(kinds, row)):
            if v is None:
                continue  # proto2 optional: absent field
            fno = i + 1
            if kind == "int64":
                _key(msg, fno, _VARINT)
                iv = int(part_files.to_wire_value(v, dtypes[i]))
                _write_uvarint(msg, iv & 0xFFFFFFFFFFFFFFFF)
            elif kind == "uint64":
                _key(msg, fno, _VARINT)
                iv = int(v)
                if iv < 0:
                    raise ValueError(f"uint64 column got negative {iv}")
                _write_uvarint(msg, iv)
            elif kind == "bool":
                _key(msg, fno, _VARINT)
                _write_uvarint(msg, 1 if v else 0)
            elif kind == "double":
                _key(msg, fno, _FIXED64)
                msg += struct.pack("<d", float(v))
            else:  # len-delimited: string, bytes or a yson container
                if kind == "string":
                    b = v.encode("utf-8")
                elif kind == "bytes":
                    b = bytes(v)
                else:
                    b = yson.dumps(part_files.nested_to_plain(v, dtypes[i]))
                _key(msg, fno, _LENDELIM)
                _write_uvarint(msg, len(b))
                msg += b
        out += struct.pack("<I", len(msg))
        out += msg
    return bytes(out)


def _to_signed64(n: int) -> int:
    return n - (1 << 64) if n >= (1 << 63) else n


def decode_stream_pb(data: bytes, schema: StructType):
    """Lenval proto2 stream → row tuples (None for absent fields).

    Unknown field numbers are skipped by wire type — the proto2
    forward-compatibility contract."""
    kinds = [wire_kind_for(f.dataType) for f in schema.fields]
    dtypes = [f.dataType for f in schema.fields]
    n_fields = len(kinds)
    pos = 0
    while pos < len(data):
        (msg_len,) = struct.unpack_from("<I", data, pos)
        pos += 4
        end = pos + msg_len
        values: list = [None] * n_fields
        while pos < end:
            tag, pos = _read_uvarint(data, pos)
            fno, wire = tag >> 3, tag & 0x7
            idx = fno - 1
            known = 0 <= idx < n_fields
            if wire == _VARINT:
                raw, pos = _read_uvarint(data, pos)
                if known:
                    kind = kinds[idx]
                    if kind == "int64":
                        values[idx] = part_files.from_wire_value(
                            _to_signed64(raw), dtypes[idx]
                        )
                    elif kind == "uint64":
                        values[idx] = part_files.from_wire_value(raw, dtypes[idx])
                    elif kind == "bool":
                        values[idx] = bool(raw)
                    else:
                        raise ValueError(
                            f"field {fno}: varint wire for {kind} column"
                        )
            elif wire == _FIXED64:
                if known:
                    if kinds[idx] != "double":
                        raise ValueError(
                            f"field {fno}: fixed64 wire for {kinds[idx]} column"
                        )
                    (values[idx],) = struct.unpack_from("<d", data, pos)
                pos += 8
            elif wire == _LENDELIM:
                blen, pos = _read_uvarint(data, pos)
                if known:
                    kind = kinds[idx]
                    raw_b = bytes(data[pos : pos + blen])
                    if kind == "string":
                        values[idx] = raw_b.decode("utf-8")
                    elif kind == "bytes":
                        values[idx] = raw_b
                    elif kind == "yson":
                        values[idx] = part_files.nested_to_plain(
                            yson.loads(raw_b), dtypes[idx]
                        )
                    else:
                        raise ValueError(
                            f"field {fno}: len-delimited wire for {kind} column"
                        )
                pos += blen
            elif wire == 5:  # fixed32 — skippable unknown
                pos += 4
            else:
                raise ValueError(f"unsupported wire type {wire} in field {fno}")
        pos = end
        yield tuple(values)


YTPROTO = part_files.PartFormat(
    name="ytproto",
    suffix="pb",
    check=wire_kind_for,
    decoder=lambda directory, schema, options: (
        lambda data: decode_stream_pb(data, schema)
    ),
    encoder=lambda directory, schema, options: part_files.row_encoder(
        schema, lambda rows: encode_rows_pb(rows, schema)
    ),
    sidecar=SIDECAR,
)


def write_proto(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    part_files.write(df, "ytproto", path, mode)


def read_proto(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    return part_files.read(spark, "ytproto", path, schema)
