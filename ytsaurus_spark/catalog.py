"""Catalog: a Cypress-style path→table registry over parquet directories.

The reference stores tables as nodes in the Cypress tree addressed by paths
like ``//home/x/t`` with "rich YPath" read modifiers — column selection and
row/key ranges (parsed in yt/python/yt/wrapper/ypath.py:268-283 of the
reference). Here a table is a parquet file/dir; rich-path modifiers become
declarative ``select``/``filter`` calls so Catalyst turns them into parquet
projection + predicate pushdown (the same chunk-skipping effect the reference
gets from key-range inference, yt/yt/library/query/engine/new_range_inferrer.cpp).
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Key (sort) columns per table — the analog of YT's sorted-table key prefix.
# Used by sorted-merge reads and key-guarantee reduce (operators/map_reduce).
DEFAULT_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


@dataclass
class RichPath:
    """Parsed rich path, mirroring the reference's ypath read modifiers
    (yt/python/yt/wrapper/ypath.py:268-283; ypath parsing in
    yt/yt/core/ypath tokenizer):

    - ``path{col1,col2}``       — column selection
    - ``path[#10:#20]``         — row-index range (``#`` prefix)
    - ``path[10:500]``          — KEY range on the primary key:
                                   inclusive lower, exclusive upper
    - ``path[(1,"def"):(2)]``   — composite (tuple) key bounds with YT's
                                   prefix semantics
    - ``path[#24]`` / ``path[(0,"def")]`` — EXACT row / key-prefix
    - ``path[a:b, c:d]``        — multiple ranges (row union)
    """

    path: str
    columns: list[str] | None = None
    # each range: {"lo_row","hi_row","lo_key","hi_key","exact_key"} —
    # key bounds are tuples (scalars wrap to 1-tuples)
    ranges: list[dict] = None  # type: ignore[assignment]
    # legacy single-range views (first range), kept for simple callers
    lower_row: int | None = None
    upper_row: int | None = None
    lower_key: object | None = None
    upper_key: object | None = None

    _RE = re.compile(
        r"^(?P<path>[^{\[]+)"
        r"(?:\{(?P<cols>[^}]*)\})?"
        r"(?:\[(?P<ranges>.*)\])?$"
    )

    @staticmethod
    def _scalar(s: str):
        s = s.strip()
        if not s:
            return None
        if s.startswith(("'", '"')) and s.endswith(s[0]) and len(s) >= 2:
            return s[1:-1]
        try:
            return int(s)
        except ValueError:
            return float(s)

    @classmethod
    def _key_bound(cls, s: str):
        """A key bound: scalar, or ``(a, b, ...)`` tuple; ``()`` / empty
        -> None (unbounded). Returns a tuple or None."""
        s = s.strip()
        if not s:
            return None
        if s.startswith("(") and s.endswith(")"):
            inner = s[1:-1].strip()
            if not inner:
                return None
            parts = cls._split_range_commas(inner)
            return tuple(cls._scalar(p) for p in parts)
        v = cls._scalar(s)
        return None if v is None else (v,)

    @staticmethod
    def _split_range_commas(s: str) -> list[str]:
        parts, buf, depth = [], [], 0
        i, n = 0, len(s)
        while i < n:
            c = s[i]
            if c in ("'", '"'):
                j = i + 1
                while j < n and s[j] != c:
                    j += 1
                buf.append(s[i : j + 1])
                i = j + 1
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            if c == "," and depth == 0:
                parts.append("".join(buf))
                buf = []
            else:
                buf.append(c)
            i += 1
        parts.append("".join(buf))
        return parts

    @staticmethod
    def _split_colon(s: str) -> list[str]:
        """Split a range on its top-level ``:`` (colons inside quotes or
        parens don't count)."""
        depth, i, n = 0, 0, len(s)
        while i < n:
            c = s[i]
            if c in ("'", '"'):
                j = i + 1
                while j < n and s[j] != c:
                    j += 1
                i = j + 1
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == ":" and depth == 0:
                return [s[:i], s[i + 1:]]
            i += 1
        return [s]

    @classmethod
    def parse(cls, rich: str) -> "RichPath":
        m = cls._RE.match(rich.strip())
        if not m:
            raise ValueError(f"bad rich path: {rich!r}")
        cols = m.group("cols")
        out = cls(
            path=m.group("path").strip(),
            columns=[c.strip() for c in cols.split(",") if c.strip()] if cols else None,
            ranges=[],
        )
        spec = m.group("ranges")
        if spec is None or not spec.strip():
            if spec is not None:
                # "[]" — empty range list reads nothing? YT treats [] as
                # no ranges -> full read; keep full read
                pass
            return out
        for part in cls._split_range_commas(spec):
            part = part.strip()
            if not part:
                continue
            halves = cls._split_colon(part)
            r = {"lo_row": None, "hi_row": None, "lo_key": None,
                 "hi_key": None, "exact_key": None}
            if len(halves) == 1:
                # EXACT selector
                b = halves[0].strip()
                if b.startswith("#"):
                    r["lo_row"] = int(b[1:])
                    r["hi_row"] = int(b[1:]) + 1
                else:
                    k = cls._key_bound(b)
                    if k is None:
                        raise ValueError(
                            f"empty exact range in rich path: {rich!r}")
                    r["exact_key"] = k
            else:
                lo, hi = (h.strip() for h in halves)
                if lo.startswith("#"):
                    r["lo_row"] = int(lo[1:]) if lo[1:] else None
                elif lo:
                    r["lo_key"] = cls._key_bound(lo)
                if hi.startswith("#"):
                    r["hi_row"] = int(hi[1:]) if hi[1:] else None
                elif hi:
                    r["hi_key"] = cls._key_bound(hi)
            out.ranges.append(r)
        if len(out.ranges) == 1:
            r = out.ranges[0]
            out.lower_row, out.upper_row = r["lo_row"], r["hi_row"]
            lk, hk = r["lo_key"], r["hi_key"]
            out.lower_key = lk[0] if lk and len(lk) == 1 else lk
            out.upper_key = hk[0] if hk and len(hk) == 1 else hk
        return out


def _key_range_cond(key_cols: list[str], r: dict):
    """Spark predicate for one parsed range's KEY bounds (YT semantics:
    inclusive lower, exclusive upper, lexicographic over the key prefix
    the bound names)."""
    conds = []
    if r["exact_key"] is not None:
        k = r["exact_key"]
        c = F.lit(True)
        for col, v in zip(key_cols, k):
            c = c & (F.col(col) == F.lit(v))
        return c
    if r["lo_key"] is not None:
        b = r["lo_key"]
        n = len(b)
        c = F.col(key_cols[n - 1]) >= F.lit(b[n - 1])
        for i in reversed(range(n - 1)):
            c = (F.col(key_cols[i]) > F.lit(b[i])) | (
                (F.col(key_cols[i]) == F.lit(b[i])) & c)
        conds.append(c)
    if r["hi_key"] is not None:
        b = r["hi_key"]
        n = len(b)
        c = F.col(key_cols[n - 1]) < F.lit(b[n - 1])
        for i in reversed(range(n - 1)):
            c = (F.col(key_cols[i]) < F.lit(b[i])) | (
                (F.col(key_cols[i]) == F.lit(b[i])) & c)
        conds.append(c)
    acc = conds[0]
    for c in conds[1:]:
        acc = acc & c
    return acc


def apply_ranges(df: DataFrame, rp: RichPath, key_cols: list[str]) -> DataFrame:
    """Filter ``df`` to the union of ``rp.ranges``. Row-index bounds use
    ONE global-index pass shared by every range; key bounds become
    min/max-prunable scan predicates (the reference's InferRanges,
    executor.cpp:260-300)."""
    if not rp.ranges:
        return df
    need_rows = any(r["lo_row"] is not None or r["hi_row"] is not None
                    for r in rp.ranges)
    if need_rows:
        df = _with_global_row_index(df)
    conds = []
    for r in rp.ranges:
        c = F.lit(True)
        if r["lo_row"] is not None:
            c = c & (F.col("__row_index") >= r["lo_row"])
        if r["hi_row"] is not None:
            c = c & (F.col("__row_index") < r["hi_row"])
        if (r["exact_key"] is not None or r["lo_key"] is not None
                or r["hi_key"] is not None):
            if not key_cols:
                raise ValueError(
                    f"key range on an unsorted table: {rp.path}")
            c = c & _key_range_cond(key_cols, r)
        conds.append(c)
    acc = conds[0]
    for c in conds[1:]:
        acc = acc | c
    df = df.filter(acc)
    return df.drop("__row_index") if need_rows else df


def _with_global_row_index(df: DataFrame, col: str = "__row_index") -> DataFrame:
    """Attach a 0-based global row index in scan order.

    monotonically_increasing_id() encodes (partition_id << 33) + local row
    number, so the local number is the low 33 bits; the global index adds
    the total row count of all preceding partitions — computed by one
    count-only pass and broadcast back (the offsets table has one row per
    partition, never large). Deterministic because both passes plan the
    same scan splits."""
    from pyspark.sql import Window

    pid = F.spark_partition_id()
    mid = F.monotonically_increasing_id()
    base = df.withColumn("__pid", pid).withColumn(col, mid.bitwiseAND((1 << 33) - 1))
    counts = base.groupBy("__pid").count()
    w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("count").over(w), F.lit(0)).alias("__offset")
    )
    return (
        base.join(F.broadcast(offsets), "__pid")
        .withColumn(col, F.col(col) + F.col("__offset"))
        .drop("__pid", "__offset")
    )


# -- parquet schema memo -------------------------------------------------
#
# ``spark.read.parquet(path)`` without a schema runs a one-stage Spark job
# that reads footers to infer it. Every statement-session template (see
# ``statement_session``) registers the ten fixture views, and every
# LogTxTable/queue read re-resolves directories the engine itself
# just wrote, so that job ran again and again for schemas that had not
# changed. The memo keeps the inferred (or, for a fresh write, the
# written) schema per file listing and schema-relevant session confs; a
# hit plans the same relation through ``spark.read.schema(...)`` with no
# job. Only temp views stay per session.

# Session confs that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
# Entries are a few hundred bytes; the bound only matters for a process
# that writes segment directories for hours (each write adds one entry).
_SCHEMA_MEMO_MAX = 4096
_schema_memo: OrderedDict = OrderedDict()
_schema_lock = threading.Lock()


def _local_listing(path: str):
    """``(abs path, ((relative name, size, mtime_ns), ...))`` of a local
    file or directory tree, or None when ``path`` is not a local file
    (another filesystem scheme, a glob, or missing) — those keep Spark's
    own inference."""
    u = urlparse(path)
    if u.scheme not in ("", "file"):
        return None
    local = os.path.abspath(u.path if u.scheme else path)
    try:
        if os.path.isfile(local):
            st = os.stat(local)
            return local, (("", st.st_size, st.st_mtime_ns),)
        if not os.path.isdir(local):
            return None
        files = []
        for d, _, names in os.walk(local):
            for n in names:
                st = os.stat(os.path.join(d, n))
                files.append((os.path.relpath(os.path.join(d, n), local),
                              st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return local, tuple(sorted(files))


def _as_nullable(dt):
    """What Spark's file relations do to every schema (``asNullable``):
    all fields, array elements and map values become nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType),
                         _as_nullable(dt.valueType), True)
    return dt


def _schema_keys(spark: SparkSession, paths) -> list | None:
    """One memo key per path (listing + session confs), None if any path
    is not local."""
    listings = [_local_listing(p) for p in paths]
    if not listings or any(li is None for li in listings):
        return None
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    return [(li, confs) for li in listings]


def _memo_get(key):
    with _schema_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
        return schema


def _memo_put(key, schema) -> None:
    with _schema_lock:
        _schema_memo[key] = schema
        _schema_memo.move_to_end(key)
        while len(_schema_memo) > _SCHEMA_MEMO_MAX:
            _schema_memo.popitem(last=False)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` that infers each schema once per
    process. A multi-path read reuses the per-path entries when they all
    agree (inference over same-schema files returns that schema);
    otherwise it infers once and memoizes the path tuple."""
    keys = _schema_keys(spark, paths)
    if keys is None:
        return spark.read.parquet(*paths)
    whole = tuple(keys) if len(keys) > 1 else keys[0]
    schema = _memo_get(whole)
    if schema is None and len(keys) > 1:
        parts = [_memo_get(k) for k in keys]
        if parts[0] is not None and all(p == parts[0] for p in parts):
            schema = parts[0]
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    _memo_put(whole, df.schema)
    return df


def record_parquet_schema(spark: SparkSession, path: str, schema) -> None:
    """Seed the memo for a directory ``path`` that was just written from a
    frame with ``schema``: Spark stores the frame's schema in every
    footer, so inference would return it, made nullable."""
    keys = _schema_keys(spark, (path,))
    if keys is not None:
        _memo_put(keys[0], _as_nullable(schema))


def parquet_footers(directory: str) -> list:
    """Footer metadata of every parquet file a write left in the local
    ``directory``: a driver-side read of each file's tail, no Spark job.
    ``sum(md.num_rows for md in footers)`` is the row count written."""
    import glob

    import pyarrow.parquet as pq

    return [pq.read_metadata(f)
            for f in sorted(glob.glob(os.path.join(directory, "*.parquet")))]


def footer_min_max(footers: list, column: str) -> list | None:
    """``[min, max]`` of top-level ``column`` from the row-group statistics
    in ``footers``. None when there is no row group, when a footer lacks
    the column or its statistics, or when the values are not JSON scalars.
    String statistics may be truncated in the safe direction (prefix
    min ≤ true min, bumped max ≥ true max), which only widens the range."""
    lo = hi = None
    for md in footers:
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if column not in idx:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[column]).statistics
            if st is None or not st.has_min_max:
                return None
            mn, mx = st.min, st.max
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                mn, mx = mn.decode("utf-8", "replace"), mx.decode(
                    "utf-8", "replace"
                )
            if not isinstance(mn, (int, float, str, bool)):
                return None
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
    return None if lo is None else [lo, hi]


@dataclass
class Catalog:
    """Registers every ``<name>.parquet`` under ``root`` as a temp view.

    ``read`` honors rich-path modifiers; plain reads go straight to the
    vectorized parquet scan so all pruning stays inside Catalyst.
    """

    spark: SparkSession
    root: str
    keys: dict[str, list[str]] = field(default_factory=lambda: dict(DEFAULT_KEYS))
    _nanos_cache: dict[str, list[str]] = field(default_factory=dict, repr=False)
    _df_cache: dict[str, DataFrame] = field(default_factory=dict, repr=False)

    def __post_init__(self) -> None:
        # Self-configure the caller's session: the catalog must be readable
        # from ANY SparkSession, not just ones built by session.get_spark
        # (the driver harness passes its own). Without nanosAsLong the
        # events table's TIMESTAMP(NANOS) column aborts every read.
        from ytsaurus_spark.session import ensure_runtime_confs

        ensure_runtime_confs(self.spark)

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.parquet")

    def read(self, name_or_rich: str) -> DataFrame:
        # Plain-name reads return a memoized (immutable, lazy) DataFrame:
        # re-resolving the same parquet relation is a driver round trip per
        # call with no effect on the plan. Rich paths go through the full
        # parse each time (modifier combinations are open-ended).
        plain = self._df_cache.get(name_or_rich)
        if plain is not None:
            return plain
        rp = RichPath.parse(name_or_rich)
        df = read_parquet(self.spark, self.table_path(rp.path))
        df = self._fix_nanos(rp.path, df)
        # Row-index addressing on a static table uses a TRUE global index
        # (one count-only pre-pass, broadcast offsets — see
        # _with_global_row_index); key ranges push to the parquet scan as
        # min/max-prunable predicates — the reference's key-range read
        # (InferRanges, executor.cpp:260-300) via Catalyst pushdown.
        df = apply_ranges(
            df, rp, self.key_columns(rp.path) or [df.columns[0]])
        if rp.columns:
            df = df.select(*rp.columns)
        if re.fullmatch(r"[A-Za-z_]\w*", name_or_rich):
            self._df_cache[name_or_rich] = df
        return df

    def register_all(self, names: tuple[str, ...] = TABLE_NAMES) -> None:
        for name in names:
            p = self.table_path(name)
            if os.path.exists(p):
                self.read(name).createOrReplaceTempView(name)

    def _fix_nanos(self, name: str, df: DataFrame) -> DataFrame:
        """Convert TIMESTAMP(NANOS) columns (read as long nanoseconds under
        spark.sql.legacy.parquet.nanosAsLong) back to TimestampType with
        ns→µs truncation — the same cast DuckDB applies on read."""
        cols = self._nanos_columns(name)
        for c in cols:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        # Defensive: if inferTimestampNTZ couldn't be applied to this session
        # before the relation was resolved, µs-without-UTC-flag columns come
        # back as TIMESTAMP_NTZ, which forbids epoch arithmetic. Coerce to
        # TimestampType (session zone is UTC, so the wall time is unchanged).
        for f in df.schema.fields:
            if isinstance(f.dataType, T.TimestampNTZType):
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        return df

    def _nanos_columns(self, name: str) -> list[str]:
        if name not in self._nanos_cache:
            import pyarrow.parquet as pq

            try:
                schema = pq.read_schema(self.table_path(name))
                import pyarrow as pa

                self._nanos_cache[name] = [
                    f.name
                    for f in schema
                    if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
                ]
            except Exception:
                self._nanos_cache[name] = []
        return self._nanos_cache[name]

    def key_columns(self, name: str) -> list[str]:
        return self.keys.get(name, [])

    def row_count(self, name: str) -> int:
        """Exact row count from parquet footers — no data read. The cheap
        answer to 'how big is this table' that index builds (IVF stride,
        LSH band sizing) need without paying a full count() scan."""
        import pyarrow.parquet as pq

        path = self.table_path(name)
        if os.path.isdir(path):
            return sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        return pq.ParquetFile(path).metadata.num_rows

    def columnar_statistics(self, name: str, columns: list[str] | None = None) -> dict[str, int]:
        """GetColumnarStatistics (yt/yt/client/api/table_client.h:470):
        per-column data weight in bytes, from parquet footers — no data
        read. The reference uses these to size jobs; Spark's planner reads
        the same footers for its split planning."""
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(self.table_path(name)).metadata
        weights: dict[str, int] = {}
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                cname = col.path_in_schema.split(".")[0]
                if columns is None or cname in columns:
                    weights[cname] = weights.get(cname, 0) + col.total_compressed_size
        return weights

    # -- Cypress-style namespace ops (create/remove/list; tables as nodes) --

    def create_table(self, name: str, df: DataFrame, mode: str = "error") -> None:
        """Create (write) a table node under the catalog root — Cypress
        `create table` + commit. ``mode='error'`` refuses to clobber,
        matching the reference's default create semantics."""
        from ytsaurus_spark.sources.formats import write_table

        path = self.table_path(name)
        write_table(df, path, mode=mode)
        self._df_cache.pop(name, None)  # relation (file listing) changed
        self._nanos_cache.pop(name, None)
        read_parquet(df.sparkSession, path).createOrReplaceTempView(name)

    def remove_table(self, name: str) -> None:
        import shutil

        p = self.table_path(name)
        if not os.path.exists(p):
            raise FileNotFoundError(f"no such table node: {name}")
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        self._df_cache.pop(name, None)
        self._nanos_cache.pop(name, None)
        try:
            self.spark.catalog.dropTempView(name)
        except Exception:
            pass

    def list_tables(self) -> list[str]:
        out = []
        for entry in sorted(os.listdir(self.root)):
            if entry.endswith(".parquet"):
                out.append(entry[: -len(".parquet")])
        return out

    def exists(self, name: str) -> bool:
        return os.path.exists(self.table_path(name))

    def partition_table(self, name: str, partition_count: int) -> list[DataFrame]:
        """PartitionTables API (table_client.h:474): split a table into
        ~equal-weight partitions for caller-managed parallel reads. Spark
        plans its own splits; this exposes the same capability for external
        consumers via modular row slicing on the key column."""
        df = self.read(name)
        key = (self.key_columns(name) or [df.columns[0]])[0]
        return [
            df.filter(F.pmod(F.xxhash64(F.col(key)), partition_count) == i)
            for i in range(partition_count)
        ]


def load_tables(spark: SparkSession, sf_dir: str) -> Catalog:
    """Convenience: catalog over one scale-factor dir with views registered.

    Memoized per session object: a long-lived session (the bench harness,
    the driver, a user REPL) calls this before EVERY query, and
    re-registering ten parquet views costs catalog round trips per table.
    The cached Catalog is reused while (session, sf_dir) are unchanged —
    the exact contract of a metastore. YQL/CHYT statements run in clones
    of a template that registered its views once (:func:`statement_session`),
    so a statement calls this only when its ``sf_dir`` is not local.
    Resolving a view's relation without a schema runs Spark's one-stage
    schema-inference job per table; :func:`read_parquet` memoizes the
    schema per process, so that job runs once per table, not once per
    session.
    """
    root = os.path.abspath(sf_dir)
    cached = getattr(spark, "_ytsaurus_catalog_cache", None)
    if cached is not None and cached[0] == root:
        return cached[1]
    cat = Catalog(spark, sf_dir)
    cat.register_all()
    spark._ytsaurus_catalog_cache = (root, cat)
    return cat


# -- statement sessions --------------------------------------------------
#
# A CHYT or YQL statement runs isolated: its temp views and SQL conf never
# reach the caller or the next statement. Building that session from
# scratch re-registered the fixture views (and, for CHYT, the YSON UDFs)
# per statement, about 0.6 s of driver work on a 4-core host. The registry
# registers them once into a template per (SparkContext, sf_dir, flavour)
# and gives each statement a JVM ``cloneSession()`` of it (about 1 ms),
# which copies the temp views, UDFs and conf. Persisted star views stay
# shared through the CacheManager. A template is valid while the fixture
# listing, the key ``read_parquet`` memoizes on, is unchanged.

_templates: dict = {}
_templates_lock = threading.Lock()


def _fixture_listing(sf_dir: str):
    """``_local_listing`` of every ``*.parquet`` table in ``sf_dir``, or
    None when ``sf_dir`` or one of its tables is not local."""
    import glob

    u = urlparse(sf_dir)
    if u.scheme not in ("", "file"):
        return None
    local = os.path.abspath(u.path if u.scheme else sf_dir)
    listings = [
        _local_listing(p)
        for p in sorted(glob.glob(os.path.join(glob.escape(local), "*.parquet")))
    ]
    if any(li is None for li in listings):
        return None
    return tuple(listings)


def _register_flavour(s: SparkSession, sf_dir: str | None,
                      flavour: str) -> SparkSession:
    """Register ``flavour``'s views, functions and confs in the fresh
    session ``s``:

    - ``chyt``: the fixture views and the YSON UDFs;
    - ``yql``: the fixture views, ANSI off (YQL arithmetic is total);
    - ``star``, ``star_uncached``: the TPC-DS star views, persisted or
      not (``yql._star_session``);
    - ``star_wide``: the persisted star views with AQE off.

    Every flavour registers the part-file formats, so every clone has
    them: Spark looks a Python data source up on the JVM's active session,
    and a statement's ``createDataFrame`` leaves its clone active.
    """
    from ytsaurus_spark.sources import part_files

    part_files.register(s)
    if flavour.startswith("star"):
        from ytsaurus_spark.yql.tpcds_star import register_star_views

        register_star_views(s, sf_dir, persist=flavour != "star_uncached")
        if flavour == "star_wide":
            s.conf.set("spark.sql.adaptive.enabled", "false")
        return s
    if flavour == "chyt":
        from ytsaurus_spark.functions.chyt_yson import register_yson_functions

        register_yson_functions(s)
    else:
        s.conf.set("spark.sql.ansi.enabled", "false")
    if sf_dir is not None:
        load_tables(s, sf_dir)
    return s


def _release(template: SparkSession, flavour: str) -> None:
    """Unpersist a replaced star template's views (their CacheManager
    entries are shared by the whole SparkContext)."""
    if flavour in ("star", "star_wide"):
        from ytsaurus_spark.yql.tpcds_star import STAR_VIEW_SQL

        for name in STAR_VIEW_SQL:
            template.catalog.uncacheTable(name)


def statement_session(spark: SparkSession, sf_dir: str | None,
                      flavour: str) -> SparkSession:
    """An isolated session for one CHYT or YQL statement: a clone of the
    ``flavour`` template over ``sf_dir`` (see ``_register_flavour``).
    The template is rebuilt when the listing of ``sf_dir``'s tables
    changed since it was registered. A non-local ``sf_dir`` has no
    listing to check, so each statement registers a fresh session."""
    listing = () if sf_dir is None else _fixture_listing(sf_dir)
    if listing is None:
        return _register_flavour(spark.newSession(), sf_dir, flavour)
    root = None if sf_dir is None else os.path.abspath(sf_dir)
    key = (id(spark.sparkContext), root, flavour)
    with _templates_lock:
        entry = _templates.get(key)
        if entry is None or entry[0] != listing:
            if entry is not None:
                _release(entry[1], flavour)
            template = _register_flavour(spark.newSession(), sf_dir, flavour)
            entry = _templates[key] = (listing, template)
    template = entry[1]
    return SparkSession(template.sparkContext,
                        template._jsparkSession.cloneSession())


def _schema_to_json(schema) -> dict:
    import dataclasses

    return {
        "strict": schema.strict,
        "unique_keys": schema.unique_keys,
        "columns": [
            {k: v for k, v in dataclasses.asdict(c).items() if v not in (None, False)}
            for c in schema.columns
        ],
    }


def _schema_from_json(d: dict):
    from ytsaurus_spark.yt_types import ColumnSchema, TableSchema

    return TableSchema(
        columns=[ColumnSchema(**c) for c in d["columns"]],
        strict=d.get("strict", True),
        unique_keys=d.get("unique_keys", False),
    )


def set_table_schema(cat: Catalog, name: str, schema) -> None:
    """Attach a TableSchema to a stored table (the @schema attribute on a
    Cypress table node). Persisted in the `_yt_attrs.json` sidecar next
    to the data, like the sorted_by attribute."""
    from ytsaurus_spark.sources.formats import _write_attrs, table_attributes

    attrs = table_attributes(cat.table_path(name))
    attrs["schema"] = _schema_to_json(schema)
    _write_attrs(cat.table_path(name), attrs)


def get_table_schema(cat: Catalog, name: str):
    from ytsaurus_spark.sources.formats import table_attributes

    d = table_attributes(cat.table_path(name)).get("schema")
    return None if d is None else _schema_from_json(d)


def alter_table(cat: Catalog, name: str, new_schema) -> str:
    """AlterTable (reference `alter_table` / TAlterTableOptions): change a
    stored table's schema under the evolution rules. Applies
    `check_schema_compatibility` (check_schema_compatibility.cpp):

    - ``incompatible`` → refused (ValueError), schema unchanged;
    - ``requires_validation`` → the data is CHECKED first, distributed:
      required columns must hold no NULLs, and every narrowing-type
      column must round-trip through the new type exactly (one scan, an
      aggregate of violation counts — no driver-side rows);
    - ``fully_compatible`` (or validation passed) → metadata-only commit
      of the new schema, exactly like the reference's alter (data files
      are untouched; readers/writers consult the stored schema).

    Returns the verdict that allowed the alter."""
    from pyspark.sql import functions as F

    from ytsaurus_spark.yt_types import (
        _type_compat,
        check_schema_compatibility,
        yt_type_to_spark,
    )

    old = get_table_schema(cat, name)
    if old is None:
        raise ValueError(f"table {name!r} has no stored schema; set one first")
    verdict = check_schema_compatibility(old, new_schema)
    if verdict == "incompatible":
        raise ValueError(f"alter_table({name!r}): schemas are incompatible")
    if verdict == "requires_validation":
        df = cat.read(name)
        old_types = {c.name: c.type_name for c in old.columns}
        checks = []
        for nc in new_schema.columns:
            if nc.name not in df.columns:
                if nc.required:
                    # a required column the data doesn't carry at all is
                    # the all-NULLs case — every row violates it
                    raise ValueError(
                        f"alter_table({name!r}): validation failed: "
                        f"required column {nc.name!r} absent from data"
                    )
                continue
            oc_type = old_types.get(nc.name)
            if nc.required:
                checks.append(
                    F.sum(F.col(nc.name).isNull().cast("long")).alias(
                        f"null_{nc.name}"
                    )
                )
            if oc_type and _type_compat(oc_type, nc.type_name) == "validate":
                t = yt_type_to_spark(nc.type_name).simpleString()
                roundtrip = F.col(nc.name).cast(t).cast(
                    yt_type_to_spark(oc_type).simpleString()
                )
                checks.append(
                    F.sum(
                        (
                            ~roundtrip.eqNullSafe(F.col(nc.name))
                        ).cast("long")
                    ).alias(f"narrow_{nc.name}")
                )
        if checks:
            row = df.agg(*checks).collect()[0]
            bad = {k: v for k, v in row.asDict().items() if v}
            if bad:
                raise ValueError(
                    f"alter_table({name!r}): validation failed: {bad}"
                )
    set_table_schema(cat, name, new_schema)
    return verdict
