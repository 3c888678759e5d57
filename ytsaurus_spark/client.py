"""YtClient facade: the reference's primary user entry point
(``yt.wrapper.YtClient`` / ``yt.wrapper`` module-level functions,
yt/python/yt/wrapper/client.py) mapped 1:1 onto this engine, so code
written against the reference keeps its call sites:

    client = YtClient(root="/data/cluster", spark=spark)
    client.create("map_node", "//home/analytics")
    client.write_table("//home/analytics/clicks", df)
    rows = client.read_table("//home/analytics/clicks{user_id,ts}")
    client.run_sort("//home/analytics/clicks", sort_by=["user_id"])
    client.select_rows("user_id, sum(v) AS s FROM [//home/analytics/clicks] "
                       "GROUP BY user_id")

Cypress paths (``//a/b/c``) map to directories under ``root``; tables are
parquet dirs with the repo's attribute sidecars, so everything the engine
offers (rich-path reads, sorted attributes, dynamic tables, operations)
composes through the same path namespace. ``@attribute`` path suffixes
work on get(). Dynamic tables (``create("table", ...,
attributes={"dynamic": True, "schema": [...]})``) are LogTxTables — the
same MVCC/locks/TTL machinery as the rest of the repo.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.sources.formats import (
    read_table as _read_fmt,
    table_attributes,
    write_table as _write_fmt,
    _write_attrs,
)
from ytsaurus_spark.sources.tx_table import LogTxTable


class YPathError(ValueError):
    pass


class YtClient:
    def __init__(self, root: str, spark: SparkSession) -> None:
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)
        self._dyn_cache: dict[str, LogTxTable] = {}

    # -- path resolution ---------------------------------------------------

    def _fs(self, ypath: str) -> str:
        if not ypath.startswith("//"):
            raise YPathError(f"cypress paths start with //: {ypath!r}")
        rel = ypath[2:]
        if ".." in rel.split("/"):
            raise YPathError(f"path escapes the tree: {ypath!r}")
        return os.path.join(self.root, rel)

    @staticmethod
    def _split_attrs(ypath: str) -> tuple[dict, str]:
        """Parse a rich-YPath ATTRIBUTE PREFIX: ``<k=v;k2=v2>//path`` ->
        ({k: v}, '//path'). Scalar values decode (%true/%false, ints,
        floats); absent prefix returns ({}, ypath) unchanged."""
        if not ypath.startswith("<"):
            return {}, ypath
        # the prefix is YSON-ish: values may nest maps/lists
        # (<ranges=[{lower_limit={row_index=3}}]>), so both the closing
        # '>' and the ';' separators are found depth-aware
        depth, end = 0, -1
        for i, ch in enumerate(ypath):
            if ch in "{[":
                depth += 1
            elif ch in "}]":
                depth -= 1
            elif ch == ">" and depth == 0 and i > 0:
                end = i
                break
        if end < 0:
            raise YPathError(f"unterminated attribute prefix: {ypath!r}")
        parts, buf, depth = [], [], 0
        for ch in ypath[1:end]:
            if ch in "{[":
                depth += 1
            elif ch in "}]":
                depth -= 1
            if ch == ";" and depth == 0:
                parts.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        parts.append("".join(buf))
        attrs: dict = {}
        for part in parts:
            part = part.strip()
            if not part:
                continue
            k, _, v = part.partition("=")
            v = v.strip()
            if v.startswith(("[", "{")):
                attrs[k.strip()] = v  # structured value kept raw
                continue
            if v == "%true":
                val: object = True
            elif v == "%false":
                val = False
            else:
                try:
                    val = int(v)
                except ValueError:
                    try:
                        val = float(v)
                    except ValueError:
                        val = v.strip('"')
            attrs[k.strip()] = val
        return attrs, ypath[end + 1:]

    @staticmethod
    def _parse_ranges(raw: str) -> list[tuple[int | None, int | None]]:
        """``<ranges=[{lower_limit={tablet_index=0; row_index=3};
        upper_limit={tablet_index=0; row_index=8}}]>`` -> [(3, 8)].
        Single-tablet model: a limit addressing tablet_index > 0 is past
        the end of the data. Returns [lower, upper) row-index pairs."""
        import re as _re

        out: list[tuple[int | None, int | None]] = []
        for block in _re.finditer(r"\{\s*(lower_limit.*?)\}\s*\}", raw):
            body = block.group(0)
            bounds: dict[str, int | None] = {"lower": None, "upper": None}
            for which in ("lower", "upper"):
                m = _re.search(which + r"_limit\s*=\s*\{([^}]*)\}", body)
                if not m:
                    continue
                inner = m.group(1)
                t = _re.search(r"tablet_index\s*=\s*(\d+)", inner)
                r = _re.search(r"row_index\s*=\s*(\d+)", inner)
                idx = int(r.group(1)) if r else None
                if t and int(t.group(1)) > 0:
                    # beyond the single tablet: lower -> empty range,
                    # upper -> unbounded
                    idx = (1 << 62) if which == "lower" else None
                bounds[which] = idx
            out.append((bounds["lower"], bounds["upper"]))
        return out

    @staticmethod
    def _split_rich(ypath: str) -> tuple[str, str]:
        """Split '//a/b{cols}[range]' into (plain path, rich suffix)."""
        for i, ch in enumerate(ypath):
            if ch in "{[":
                return ypath[:i], ypath[i:]
        return ypath, ""

    # -- cypress-ish node commands ----------------------------------------

    def create(self, node_type: str, ypath: str, attributes: dict | None = None,
               recursive: bool = True, ignore_existing: bool = False) -> None:
        p = self._fs(ypath)
        if os.path.exists(p) and not ignore_existing:
            raise YPathError(f"node already exists: {ypath}")
        if node_type == "map_node":
            os.makedirs(p, exist_ok=True)
            return
        if node_type == "file":
            if recursive:
                os.makedirs(os.path.dirname(p), exist_ok=True)
            os.makedirs(p, exist_ok=True)
            _write_attrs(p, {**dict(attributes or {}), "type": "file"})
            with open(os.path.join(p, "_yt_file_data"), "wb"):
                pass
            return
        if node_type != "table":
            raise YPathError(f"unsupported node type {node_type!r}")
        attrs = dict(attributes or {})
        if attrs.get("dynamic"):
            schema = attrs.get("schema") or []
            keys = [c["name"] for c in schema if c.get("sort_order")]
            os.makedirs(p, exist_ok=True)
            if not keys:
                # no sorted key columns -> ORDERED dynamic table (an
                # append log / queue; reference: sorted_dynamic_store vs
                # ordered_dynamic_store, test_dynamic_tables.py:96).
                # Rows get a persisted $row_index; reads come back in
                # insertion order.
                _write_attrs(p, {"dynamic": True, "ordered": True,
                                 "key_columns": [], "row_count": 0,
                                 "schema": schema})
                return
            _write_attrs(p, {"dynamic": True, "key_columns": keys,
                             "schema": schema})
            return
        if recursive:
            os.makedirs(os.path.dirname(p), exist_ok=True)
        os.makedirs(p, exist_ok=True)
        _write_attrs(p, attrs)

    def exists(self, ypath: str) -> bool:
        _, ypath = self._split_attrs(ypath)
        path, _ = self._split_rich(ypath)
        return os.path.exists(self._fs(path))

    def remove(self, ypath: str, recursive: bool = False, force: bool = False) -> None:
        p = self._fs(ypath)
        if not os.path.exists(p):
            if force:
                return
            raise YPathError(f"no such node: {ypath}")
        if recursive:
            shutil.rmtree(p)
        else:
            entries = [e for e in os.listdir(p) if not e.startswith("_yt_")]
            if any(os.path.isdir(os.path.join(p, e)) for e in entries):
                raise YPathError(f"non-empty map node: {ypath} (use recursive)")
            shutil.rmtree(p)

    def list(self, ypath: str) -> list[str]:
        p = self._fs(ypath)
        return sorted(
            e for e in os.listdir(p)
            if not e.startswith("_yt_") and not e.startswith(".")
        )

    def copy(self, src: str, dst: str) -> None:
        shutil.copytree(self._fs(src), self._fs(dst))

    def move(self, src: str, dst: str) -> None:
        shutil.move(self._fs(src), self._fs(dst))

    # -- attributes (@ paths) ----------------------------------------------

    def get(self, ypath: str):
        """get('//a/b/@attr') or get('//a/b/@') for the whole attr dict;
        computed attributes row_count / schema resolve from data."""
        if "/@" not in ypath:
            raise YPathError("get() wants an @attribute path")
        node, attr = ypath.rsplit("/@", 1)
        p = self._fs(node)
        attrs = dict(table_attributes(p))
        if attr in ("row_count", ""):
            try:
                attrs.setdefault("row_count", self.read_table(node).count())
            except Exception:
                pass
        if attr == "":
            return attrs
        if attr not in attrs:
            raise YPathError(f"no attribute @{attr} on {node}")
        return attrs[attr]

    def set(self, ypath: str, value) -> None:
        if "/@" not in ypath:
            raise YPathError("set() wants an @attribute path")
        node, attr = ypath.rsplit("/@", 1)
        p = self._fs(node)
        attrs = dict(table_attributes(p))
        attrs[attr] = value
        _write_attrs(p, attrs)

    # -- static tables -----------------------------------------------------

    def write_table(self, ypath: str, df: DataFrame, append: bool | None = None) -> None:
        """Write ``df`` to the table at ``ypath``: append with ``append``
        (or an ``<append=%true>`` path attribute), else overwrite. An
        overwrite may read the table it replaces, and the table's
        attributes carry over (``sources/formats.write_table``)."""
        prefix, ypath = self._split_attrs(ypath)
        path, rich = self._split_rich(ypath)
        if append is None:
            append = (bool(prefix.get("append"))
                      or "append=%true" in rich or "append=true" in rich)
        _write_fmt(df, self._fs(path), mode="append" if append else "overwrite")

    # -- file nodes (reference: write_file/read_file over Cypress file
    # nodes — job attachments, the UDF registry's bitcode blobs) ----------

    def write_file(self, ypath: str, data: bytes) -> None:
        """Upload bytes to a Cypress file node (created if absent) — the
        reference's write_file. Content lands atomically (tmp + rename),
        matching every other manifest write in the repo."""
        import tempfile as _tf

        p = self._fs(ypath)
        if not os.path.exists(p):
            self.create("file", ypath)
        elif dict(table_attributes(p)).get("type") != "file":
            raise YPathError(f"not a file node: {ypath}")
        fd, tmp = _tf.mkstemp(dir=p, suffix=".bin.tmp")
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.replace(tmp, os.path.join(p, "_yt_file_data"))

    def read_file(self, ypath: str) -> bytes:
        """Read a Cypress file node's content — the reference's read_file."""
        p = self._fs(ypath)
        if not os.path.exists(p):
            raise YPathError(f"no such node: {ypath}")
        if dict(table_attributes(p)).get("type") != "file":
            raise YPathError(f"not a file node: {ypath}")
        with open(os.path.join(p, "_yt_file_data"), "rb") as f:
            return f.read()

    def read_table(self, ypath: str) -> DataFrame:
        from ytsaurus_spark.catalog import RichPath

        prefix, ypath = self._split_attrs(ypath)
        path, rich = self._split_rich(ypath)
        p = self._fs(path)
        attrs = table_attributes(p)
        if attrs.get("ordered"):
            # ordered dynamic table: rows come back in insertion order
            # (the persisted $row_index); <ranges=...> prefix limits by
            # row index, pushed down to the parquet scan's min/max
            if int(attrs.get("row_count", 0)) == 0:
                from pyspark.sql import types as T

                from ytsaurus_spark.yt_types import yt_type_to_spark

                fields = [
                    T.StructField(c["name"],
                                  yt_type_to_spark(c.get("type", "string")))
                    for c in attrs.get("schema", [])
                ] + [T.StructField("_yt_row_index", T.LongType())]
                df = self.spark.createDataFrame([], T.StructType(fields))
            else:
                df = _read_fmt(self.spark, p)
            if "ranges" in prefix:
                pairs = self._parse_ranges(str(prefix["ranges"]))
                if pairs:
                    conds = []
                    for lo, hi in pairs:
                        c = F.lit(True)
                        if lo is not None:
                            c = c & (F.col("_yt_row_index") >= lo)
                        if hi is not None:
                            c = c & (F.col("_yt_row_index") < hi)
                        conds.append(c)
                    acc = conds[0]
                    for c in conds[1:]:
                        acc = acc | c
                    df = df.filter(acc)
            df = df.orderBy("_yt_row_index").drop("_yt_row_index")
        elif attrs.get("dynamic"):
            # <timestamp=N> attribute: MVCC read as of the timestamp
            # (the reference's timestamped read, test_dynamic_tables.py:
            # 344; client_dynamic_tables_impl.cpp:1599)
            ts = prefix.get("timestamp")
            df = self._dyn(path).read(
                timestamp=float(ts) if ts is not None else None
            )
        else:
            df = _read_fmt(self.spark, p)
            if "ranges" in prefix:
                from ytsaurus_spark.catalog import _with_global_row_index

                pairs = self._parse_ranges(str(prefix["ranges"]))
                if pairs:
                    df = _with_global_row_index(df)
                    conds = []
                    for lo, hi in pairs:
                        c = F.lit(True)
                        if lo is not None:
                            c = c & (F.col("__row_index") >= lo)
                        if hi is not None:
                            c = c & (F.col("__row_index") < hi)
                        conds.append(c)
                    acc = conds[0]
                    for c in conds[1:]:
                        acc = acc | c
                    df = df.filter(acc).drop("__row_index")
        if rich and "append" not in rich:
            from ytsaurus_spark.catalog import apply_ranges

            rp = RichPath.parse("t" + rich)
            key_cols = list(attrs.get("key_columns")
                            or attrs.get("sorted_by") or [])
            df = apply_ranges(df, rp, key_cols)
            if rp.columns:
                df = df.select(*rp.columns)
        return df

    def row_count(self, ypath: str) -> int:
        return self.read_table(ypath).count()

    def concatenate(self, source_paths: list[str], dst: str, append: bool = False) -> None:
        from ytsaurus_spark.sources.formats import concatenate

        concatenate([self._fs(p) for p in source_paths], self._fs(dst), append=append)

    # -- dynamic tables ----------------------------------------------------

    def _dyn(self, ypath: str) -> LogTxTable:
        p = self._fs(ypath)
        if p not in self._dyn_cache:
            attrs = table_attributes(p)
            if not attrs.get("dynamic"):
                raise YPathError(f"{ypath} is not a dynamic table")
            self._dyn_cache[p] = LogTxTable(self.spark, p, attrs["key_columns"])
        return self._dyn_cache[p]

    def insert_rows(self, ypath: str, rows: DataFrame, update: bool = False) -> None:
        p = self._fs(ypath)
        attrs = table_attributes(p)
        if attrs.get("ordered"):
            # ordered dynamic table: append-only; each row gets the next
            # $row_index (persisted so read order survives file layout)
            from ytsaurus_spark.catalog import _with_global_row_index
            from ytsaurus_spark.sources.formats import _write_attrs

            base = int(attrs.get("row_count", 0))
            indexed = _with_global_row_index(rows, "_yt_row_index")
            indexed = indexed.withColumn(
                "_yt_row_index", F.col("_yt_row_index") + F.lit(base)
            )
            n = rows.count()
            self.write_table(ypath, indexed, append=True)
            new_attrs = dict(table_attributes(p))
            new_attrs["row_count"] = base + n
            _write_attrs(p, new_attrs)
            return
        t = self._dyn(ypath)
        if t.current_version() < 0:
            t.init(rows)
        else:
            t.insert_rows(rows, update=update)

    def delete_rows(self, ypath: str, keys: DataFrame) -> None:
        self._dyn(ypath).delete_rows(keys)

    def pull_queue(self, ypath: str, offset: int, max_rows: int,
                   partition_index: int = 0) -> DataFrame:
        """PullQueue over an ORDERED dynamic table
        (queue_client.h:115-127): rows with ``$row_index`` in
        [offset, offset + max_rows), returned WITH the reference's
        system columns ``$tablet_index``/``$row_index``. Single-tablet
        model: partition_index > 0 is past the data. The row-index
        filter sits on the PERSISTED index column, so it prunes at the
        parquet scan (a tablet-bounded read, not a table scan)."""
        p = self._fs(ypath)
        attrs = table_attributes(p)
        if not attrs.get("ordered"):
            raise YPathError(f"{ypath} is not an ordered (queue) table")
        if partition_index != 0 or int(attrs.get("row_count", 0)) == 0:
            from pyspark.sql import types as T

            from ytsaurus_spark.yt_types import yt_type_to_spark

            fields = [
                T.StructField(c["name"],
                              yt_type_to_spark(c.get("type", "string")))
                for c in attrs.get("schema", [])
            ] + [T.StructField("$tablet_index", T.LongType()),
                 T.StructField("$row_index", T.LongType())]
            return self.spark.createDataFrame([], T.StructType(fields))
        df = _read_fmt(self.spark, p)
        df = df.filter(
            (F.col("_yt_row_index") >= offset)
            & (F.col("_yt_row_index") < offset + int(max_rows))
        ).orderBy("_yt_row_index")
        return (
            df.withColumn("$tablet_index", F.lit(0).cast("long"))
            .withColumnRenamed("_yt_row_index", "$row_index")
        )

    def lookup_rows(self, ypath: str, keys: DataFrame, timestamp=None) -> DataFrame:
        return self._dyn(ypath).lookup_rows(keys, timestamp=timestamp)

    def select_rows(self, query: str, placeholder_values: dict | None = None) -> DataFrame:
        """QL over cypress paths: ``[//a/b]`` table refs read through this
        client (static or dynamic) and register as temp views."""
        from ytsaurus_spark.operators.select_rows import select_rows as _sr

        def resolver(path: str) -> str:
            name = "yt_" + path.strip("/").replace("/", "_").replace("-", "_")
            self.read_table("//" + path.strip("/")).createOrReplaceTempView(name)
            return name

        return _sr(self.spark, query, table_resolver=resolver,
                   placeholder_values=placeholder_values)

    def freeze_table(self, ypath: str) -> None:
        self._dyn(ypath).freeze()

    def unfreeze_table(self, ypath: str) -> None:
        self._dyn(ypath).unfreeze()

    # -- operations --------------------------------------------------------

    def run_operation(self, spec: dict, tracker=None):
        """Spec-dict submission (yt.wrapper.run_operation): the client is
        its own catalog adapter — spec paths read/write through the
        cypress namespace (operators/map_reduce.run_operation does the
        rest, including input_query/sampling/tracker)."""
        from ytsaurus_spark.operators.map_reduce import run_operation as _run_op

        client = self

        class _Adapter:
            spark = self.spark

            def read(self, p):
                return client.read_table(p if p.startswith("//") else "//" + p)

            def create_table(self, p, df, mode="overwrite"):
                client.write_table(p if p.startswith("//") else "//" + p, df)

        return _run_op(_Adapter(), spec, tracker=tracker)

    def run_sort(self, src: str, dst: str | None = None, sort_by: list[str] | None = None) -> None:
        from ytsaurus_spark.operators.map_reduce import run_sort

        dst = dst or src
        self.write_table(dst, run_sort(self.read_table(src), sort_by or []))
        self.set(dst + "/@sorted_by", sort_by or [])

    def run_merge(self, sources: list[str], dst: str, mode: str = "unordered") -> None:
        from ytsaurus_spark.operators.map_reduce import run_merge

        dfs = [self.read_table(s) for s in sources]
        merge_by = None
        if mode == "sorted":
            merge_by = list(table_attributes(self._fs(self._split_rich(sources[0])[0])).get("sorted_by") or [])
        self.write_table(dst, run_merge(dfs, mode=mode, merge_by=merge_by))

    def run_remote_copy(
        self,
        source_table,
        destination_table: str,
        *,
        source_client: "YtClient",
        copy_attributes: bool = True,
        repair_erasure_chunks: bool = False,
    ) -> dict:
        """Cross-cluster RemoteCopy (yt.wrapper.run_remote_copy,
        run_operation_commands.py:387): runs on THIS (destination)
        cluster, pulling chunks verbatim from ``source_client``'s
        cluster — chunk-parallel, checksummed, atomic commit
        (sources/remote_copy_job.py)."""
        from ytsaurus_spark.sources.remote_copy_job import run_remote_copy as _rc

        return _rc(
            self,
            source_table,
            destination_table,
            source_client=source_client,
            copy_attributes=copy_attributes,
            repair_erasure_chunks=repair_erasure_chunks,
        )

    def run_erase(self, ypath: str, predicate: str) -> None:
        from ytsaurus_spark.operators.map_reduce import run_erase

        path, _ = self._split_rich(ypath)
        self.write_table(path, run_erase(self.read_table(path), predicate))

    # -- ACLs (cypress access control subset) ------------------------------

    def check_permission(self, user: str, permission: str, ypath: str) -> str:
        """Cypress ACL check (reference check_permission command;
        ESecurityAction allow/deny): walk from the node to the root,
        first matching ACE wins (deny beats allow at the same node —
        reference ACE ordering), inherited entries apply unless
        ``inherit_acl`` is false at some node. ACEs live in the ``@acl``
        attribute: [{"subjects": [...], "permissions": [...],
        "action": "allow"|"deny"}]. Returns 'allow' or 'deny'
        (default-deny like the reference)."""
        node = ypath
        while True:
            p = self._fs(node)
            attrs = table_attributes(p) if os.path.exists(p) else {}
            decision = None
            for ace in attrs.get("acl", []):
                if user not in ace.get("subjects", []):
                    continue
                if permission not in ace.get("permissions", []):
                    continue
                if ace.get("action") == "deny":
                    return "deny"
                decision = "allow"
            if decision:
                return decision
            if not attrs.get("inherit_acl", True):
                return "deny"
            if node == "//":
                return "deny"
            parent = node.rsplit("/", 1)[0]
            node = parent if parent.startswith("//") else "//"
