"""Arrow IPC files: the codec behind the ``ytarrow`` part-file source.

The reference ships Arrow as a first-class I/O format (``EFormatType::
Arrow``, yt/yt/client/formats/public.h:49-62; writer/parser in
yt/yt/library/formats/arrow_writer.cpp, arrow_parser.cpp) — jobs can
consume and produce Arrow record-batch streams instead of row formats.

Spark re-expression: ``spark.read.format("ytarrow")`` /
``df.write.format("ytarrow")`` over Arrow IPC **files** (the feather2 /
random-access format: pa.ipc.new_file). Unlike the Skiff/Protobuf row
codecs, nothing here is per-row Python: the reader yields
``pyarrow.RecordBatch`` objects straight into Spark's Arrow lane, and the
writer receives Arrow batches from Spark — both directions stay columnar
end to end. The table layout is the one part-file DataSource of
:mod:`ytsaurus_spark.sources.part_files`: one task per ``*.arrow`` file on
read, one file per partition on write. Files are self-describing (the IPC
footer carries the schema), so no sidecar is needed: the first part's
footer is the table's schema.

At scale this is the zero-copy interchange path: batches move
Arrow→Arrow with no transposition, so throughput is bounded by IO, and
a directory of IPC files parallelizes exactly like a parquet directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema, to_arrow_type
from pyspark.sql.types import StructType

from ytsaurus_spark.sources import part_files


def _recorded_schema(directory: str, parts: list[str], options) -> StructType | None:
    """The IPC footer schema of the first part file."""
    import pyarrow as pa

    if not parts:
        return None
    with pa.ipc.open_file(parts[0]) as reader:
        return from_arrow_schema(reader.schema)


def _decoder(directory: str, schema: StructType, options):
    target = to_arrow_schema(schema)

    def decode(data: bytes):
        import pyarrow as pa

        with pa.ipc.open_file(pa.py_buffer(data)) as reader:
            for i in range(reader.num_record_batches):
                batch = reader.get_batch(i)
                # Column-prune + cast to the requested Spark schema so a
                # .schema(...) narrower than the file still works.
                cols = [
                    batch.column(batch.schema.get_field_index(f.name)).cast(f.type)
                    for f in target
                ]
                yield pa.RecordBatch.from_arrays(cols, schema=target)

    return decode


def _encoder(directory: str, schema: StructType, options):
    target = to_arrow_schema(schema)

    def encode(batches, fh) -> None:
        import pyarrow as pa

        # an empty partition still writes a valid file
        with pa.ipc.new_file(fh, target) as writer:
            for batch in batches:
                writer.write_batch(
                    pa.RecordBatch.from_arrays(
                        [c.cast(f.type) for c, f in zip(batch.columns, target)],
                        schema=target,
                    )
                )

    return encode


YTARROW = part_files.PartFormat(
    name="ytarrow",
    suffix="arrow",
    check=to_arrow_type,
    decoder=_decoder,
    encoder=_encoder,
    recorded_schema=_recorded_schema,
)


def write_arrow(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    part_files.write(df, "ytarrow", path, mode)


def read_arrow(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    return part_files.read(spark, "ytarrow", path, schema)
