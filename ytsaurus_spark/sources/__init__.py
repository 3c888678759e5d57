"""Sources & sinks: format layer (SURVEY §2.5) and table maintenance."""

from ytsaurus_spark.sources.formats import (  # noqa: F401
    read_table,
    write_table,
    read_dsv,
    read_tskv,
    read_schemaful_dsv,
    remote_copy,
    compact_table,
)
from ytsaurus_spark.sources.skiff import (  # noqa: F401
    read_skiff,
    write_skiff,
)
