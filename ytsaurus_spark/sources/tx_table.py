"""Durable transactional keyed table: a log of versioned parquet segments
with an atomic manifest — the on-disk backing for dynamic tables.

Reference semantics being reproduced: dynamic tables are ACID key-value
stores with timestamped reads (SURVEY §1.5); our in-memory ``KeyedTable``
gives the algebra (upsert/fold/delete), this module gives the durability.
``LogTxTable`` is log-structured (the reference's LSM design,
sorted_dynamic_store.h dynamic stores + chunk stores; same shape as
Delta's deltas+checkpoints): each commit appends ONLY the changed rows as
a delta segment — O(changes) writes; reads merge base + deltas on the fly
(merge-on-read), and ``compact()`` folds the log into a new base segment
(the reference's store compaction,
yt/yt/server/node/tablet_node/store_compactor.cpp). Every commit gets a
wall-clock timestamp, so ``read(timestamp=...)`` is the read-at-timestamp
contract (client_dynamic_tables_impl.cpp:1599-1603) at commit granularity.
With Delta jars on the classpath this module would collapse to MERGE INTO
+ time travel; the public API is shaped for that swap.

This module is the only owner of the on-disk format: the ``_log.json``
manifest (replaced atomically through ``jsonio.publish_json``, so a
reader always sees a complete committed version), the ``s{v}/`` segment
directories and the ``_yt_state.json`` tablet state. Cross-table
transactions (``sources/transactions.py``), replication
(``replicas.py``, ``chaos.py``) and RemoteCopy reach them only through
the module-level functions below, which need no Spark session, so
``transactions.recover()`` runs before one exists.

One gate: every operation that changes a table's files — staging a
segment, publishing a manifest entry, trimming history, shipping
segments — first calls ``_check_mounted``, before it touches any file.
A frozen table therefore rejects a write without leaving an orphan
segment, a transaction on a frozen participant aborts before its intent
is written, and a decided intent whose table was frozen after the
decision rolls forward in ``recover()`` once the table is unfrozen.
"""

from __future__ import annotations

import os
import shutil
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import (
    footer_min_max,
    parquet_footers,
    read_parquet,
    record_parquet_schema,
)
from ytsaurus_spark.jsonio import load_json, publish_json
from ytsaurus_spark.operators.keyed_tables import _check_folds


class FrozenTabletError(RuntimeError):
    """Write/compaction attempted on a frozen tablet (reference
    freeze_table semantics: reads OK, mutations rejected)."""


# -- on-disk format (module level: usable without a Spark session) ---------


def _manifest_path(table_path: str) -> str:
    return os.path.join(table_path, "_log.json")


def _state_path(table_path: str) -> str:
    return os.path.join(table_path, "_yt_state.json")


def _segment_dir(table_path: str, v: int) -> str:
    return os.path.join(table_path, f"s{v}")


def is_log_table(table_path: str) -> bool:
    return os.path.exists(_manifest_path(table_path))


def read_segments(table_path: str) -> list[dict]:
    return load_json(_manifest_path(table_path), {"segments": []})["segments"]


def _write_manifest(table_path: str, segs: list[dict]) -> None:
    publish_json(_manifest_path(table_path), {"segments": segs})


def _tablet_state(table_path: str) -> str:
    return load_json(_state_path(table_path), {"state": "mounted"})["state"]


def _check_mounted(table_path: str) -> None:
    """The gate every file-changing operation passes first."""
    if _tablet_state(table_path) == "frozen":
        raise FrozenTabletError(
            f"table {table_path} is frozen: writes and compaction are "
            "rejected until unfreeze()"
        )


def publish_entry(table_path: str, entry: dict) -> None:
    """Append one staged segment's manifest entry: the commit point of
    every write, and the participant publish of a cross-table
    transaction. Idempotence is decided by FULL identity — the entry's
    ``tx`` tag (and kind): only this transaction's own prior publish is
    skippable. Any other commit occupying the staged version — including
    another delta — raises, so a concurrent writer landing between stage
    and publish can never be mistaken for our own work (that would
    silently drop this transaction's rows for one table while others got
    theirs); a staged version that is not exactly next raises as stale."""
    _check_mounted(table_path)
    segs = read_segments(table_path)
    existing = [s for s in segs if s["v"] == entry["v"]]
    if existing:
        if (
            existing[0]["kind"] != entry["kind"]
            or existing[0].get("tx") != entry.get("tx")
        ):
            raise RuntimeError(
                f"version {entry['v']} of {table_path} was taken by a "
                "conflicting commit"
            )
        return
    if segs and entry["v"] != segs[-1]["v"] + 1:
        raise RuntimeError(
            f"staged version {entry['v']} is stale for {table_path} "
            f"(log is at {segs[-1]['v']}): concurrent writer"
        )
    _write_manifest(table_path, segs + [entry])


def remove_segment(table_path: str, v: int) -> None:
    """Delete segment ``v``'s directory (a staged segment that will never
    be published, or one a manifest swap has just retired)."""
    shutil.rmtree(_segment_dir(table_path, v), ignore_errors=True)


def ship_segments(src: "LogTxTable", dst: "LogTxTable") -> int:
    """Replicate src's log to dst by segment shipping: copy each missing
    segment's parquet dir, then publish the same manifest entries in one
    manifest swap, so a concurrent replica read never sees a half-applied
    state. Returns the number of segments shipped.

    ERA FENCING: if dst holds a segment version whose manifest entry
    differs from the source's (a write from a dead era — e.g. the lost
    tail of a demoted sync replica), dst's log is truncated back to the
    common prefix first, so the replica converges on the new era's
    history (the reference fences stale-era writes through the
    replication card's era checks). No stale-version check: a lagging
    replica legitimately receives a post-``trim_history`` base after a
    gap in versions."""
    _check_mounted(dst.path)
    src_segs = read_segments(src.path)
    dst_segs = read_segments(dst.path)
    dst_map = {s["v"]: s for s in dst_segs}
    cut = next(
        (s["v"] for s in src_segs if dst_map.get(s["v"], s) != s), None
    )
    if cut is not None:
        kept = [s for s in dst_segs if s["v"] < cut]
        _write_manifest(dst.path, kept)
        for s in dst_segs:
            if s["v"] >= cut:
                remove_segment(dst.path, s["v"])
                dst._seg_cache.pop(s["v"], None)
        dst._diff_cache = {
            r: d for r, d in dst._diff_cache.items() if r[1] < cut
        }
        dst_segs, dst_map = kept, {s["v"]: s for s in kept}
    shipped = [dict(s) for s in src_segs if s["v"] not in dst_map]
    for s in shipped:
        remove_segment(dst.path, s["v"])  # an unpublished leftover
        shutil.copytree(
            _segment_dir(src.path, s["v"]), _segment_dir(dst.path, s["v"])
        )
    if shipped:
        _write_manifest(dst.path, dst_segs + shipped)
    return len(shipped)


class LogTxTable:
    """Log-structured keyed table: O(changes) commits, merge-on-read.

    On-disk layout under ``path``::

        _log.json                    # atomic manifest (jsonio.publish_json)
        _yt_state.json               # tablet state, absent = mounted
        s0/ s1/ s2/ ...              # one parquet dir per committed segment

    Manifest entry per segment: ``{"v": N, "kind": "base"|"delta",
    "ts": wall_clock, "range": [key_min, key_max] | null}``. A delta holds
    only the rows written by that commit, each tagged ``__op`` ('u' upsert
    / 'd' delete); a base is a fully-resolved state (the initial seed, or
    a ``compact()`` / ``merge_rows()`` output). ``range`` is the first key
    column's min/max lifted from the segment's parquet footers at commit
    time (no extra pass); ranged reads and lookups use it to skip whole segments before
    any parquet IO — CHYT's granule min-max pruning
    (yt/chyt/server/granule_min_max_filter.cpp:24-83) at segment
    granularity, which is the LSM read-amplification fix at scale.
    Entries without ``range`` (older manifests, statless footers) are
    simply unprunable.

    Reads at version v: newest base ≤ v, plus every delta in between,
    resolved per key in ONE shuffle (window + groupBy share the key
    partitioning):

    - a delete tombstone at generation g discards all writes ≤ g;
    - plain columns: the newest surviving write wins (max_by generation);
    - aggregate columns fold across surviving generations (sum/min/max;
      'first' = oldest non-null — generation-ordered, deterministic);

    which is exactly the reference's versioned-row merge
    (yt/yt/client/table_client/versioned_row.h semantics) at row
    granularity. Read amplification = deltas since the last compaction —
    the LSM trade; ``compact()`` resets it and is itself one resolved
    write, so the maintenance cost matches the reference's background
    store compactor.

    Time travel: ``read(version=...)`` or ``read(timestamp=...)`` — old
    segments are never rewritten, so every historical version stays
    readable (compaction ADDS a base; it does not drop history) until
    ``trim_history(retention_timestamp)`` reclaims versions older than
    the retention point — the reference's TTL/retention compaction
    (min/max_data_ttl, max_data_versions); reads below the surviving
    floor then raise.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        aggregates: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        self.aggregates = aggregates or {}
        _check_folds(self.aggregates)
        os.makedirs(path, exist_ok=True)
        self._seg_cache: dict[int, DataFrame] = {}
        # (v1, v2) -> the last materialized changes_between diff. Committed
        # versions are immutable (an era-fencing truncation in
        # ship_segments drops the entry it invalidates). One entry: a
        # replay asks for the range just published, and keeping every
        # range would pin each diff's blocks for the table's lifetime.
        self._diff_cache: dict[tuple[int, int], DataFrame] = {}

    # -- manifest -------------------------------------------------------

    def _segments(self) -> list[dict]:
        return read_segments(self.path)

    def current_version(self) -> int:
        segs = self._segments()
        return segs[-1]["v"] if segs else -1

    # -- tablet state (mount/freeze lifecycle) --------------------------

    def tablet_state(self) -> str:
        """'mounted' (default) or 'frozen' — the reference's tablet
        lifecycle subset that matters for a single-host layout
        (freeze_table/unfreeze_table: frozen tablets serve reads but
        reject writes and suspend background compaction)."""
        return _tablet_state(self.path)

    def freeze(self) -> None:
        publish_json(_state_path(self.path), {"state": "frozen"})

    def unfreeze(self) -> None:
        publish_json(_state_path(self.path), {"state": "mounted"})

    def _stage_segment(self, df: DataFrame, kind: str, v: int | None = None) -> dict:
        """Write a segment's parquet WITHOUT publishing it: readers are
        manifest-driven, so a staged ``s{v}`` directory stays invisible
        until `publish_entry` lands its entry. This is the participant
        half of the cross-table two-phase commit
        (`sources/transactions.py`), which passes an explicit ``v`` when
        stacking several deltas on one table inside a transaction."""
        _check_mounted(self.path)
        if v is None:
            v = self.current_version() + 1
        seg_dir = _segment_dir(self.path, v)
        df.write.mode("overwrite").parquet(seg_dir)
        record_parquet_schema(self.spark, seg_dir, df.schema)
        return {"v": v, "kind": kind, "ts": time.time(),
                "range": self._footer_key_range(seg_dir)}

    def _write_segment(self, df: DataFrame, kind: str) -> int:
        entry = self._stage_segment(df, kind)
        publish_entry(self.path, entry)
        return entry["v"]

    def _footer_key_range(self, seg_dir: str):
        """[min, max] of the FIRST key column, read from the parquet
        footers the segment write just produced — no extra data pass, no
        Spark job. Stored in the manifest so readers can skip whole
        segments (CHYT's granule pruning, granule_min_max_filter.cpp:24-83
        — there from chunk meta, here from footer statistics). ``None`` =
        unprunable (stats missing / non-JSON key type, see
        ``catalog.footer_min_max``)."""
        try:
            return footer_min_max(parquet_footers(seg_dir), self.key_cols[0])
        except Exception:
            return None

    @staticmethod
    def _delta_key_bounds(segs: list[dict]):
        """``(lo, hi)`` of the first key column over ``segs``, from their
        manifest ranges: every key a delta touches lies in its range, so
        the union bounds the touched keys with no Spark job. ``(None,
        None)`` (unprunable) for no segment; None when a segment has no
        usable range."""
        if not segs:
            return None, None
        ranges = [s.get("range") for s in segs]
        if any(r is None or None in r for r in ranges):
            return None
        return min(r[0] for r in ranges), max(r[1] for r in ranges)

    def _key_bounds(self, keys: DataFrame) -> tuple:
        """(min, max) of the first key column over ``keys``: one tiny job."""
        k0 = self.key_cols[0]
        b = keys.agg(F.min(k0).alias("lo"), F.max(k0).alias("hi")).first()
        return b["lo"], b["hi"]

    def _keyed_segments(
        self, segs: list[dict], keys: DataFrame, key_bounds: tuple | None = None
    ) -> tuple[list[dict], DataFrame]:
        """The segments of ``segs`` that can hold a key of ``keys``, and the
        union of their rows semi-joined to ``keys``. ``key_bounds``: the
        first key column's (min, max) over ``keys`` when the caller knows
        them, else one ``_key_bounds`` job computes them.

        Segment pruning is a CONTRACT, not just an optimization: a segment
        whose manifest range cannot contain any requested key is never
        opened (test_log_tx_table_segment_range_pruning proves it
        file-level). A chain-length threshold once skipped the bounds job
        on short chains and broke that guarantee, so the job runs whenever
        anything is potentially prunable (more than one segment with a
        usable range). The key semi-join then applies to every surviving
        segment BEFORE the merge, so footer min/max pruning bounds IO
        within them — the reference's per-store key lookup."""
        if len(segs) > 1 and any(s.get("range") is not None for s in segs):
            lo, hi = key_bounds if key_bounds is not None else self._key_bounds(keys)
            segs = [s for s in segs if self._overlaps(s, lo, hi)]
        keyset = F.broadcast(keys.select(*self.key_cols))
        return segs, self._union(
            [self._seg_df(s).join(keyset, self.key_cols, "left_semi") for s in segs]
        )

    def _union(self, parts: list[DataFrame]) -> DataFrame:
        """unionByName of segment frames in order; the empty log frame when
        every segment was pruned."""
        return reduce(DataFrame.unionByName, parts) if parts else self._empty_log_df()

    @staticmethod
    def _overlaps(seg: dict, lo, hi) -> bool:
        """Conservative range test: unprunable segments always overlap."""
        rng = seg.get("range")
        if rng is None or lo is None or hi is None:
            return True
        mn, mx = rng
        if mn is None or mx is None:
            return True
        return not (mx < lo or mn > hi)

    # -- writes (each O(rows written), never O(table)) --------------------

    def init(self, df: DataFrame) -> int:
        """Seed commit: the first base segment."""
        if self._segments():
            raise ValueError(f"{self.path} already initialized")
        return self._write_segment(df, "base")

    def insert_rows(
        self, rows: DataFrame, update: bool = False, seq_col: str | None = None
    ) -> int:
        """Upsert commit: appends ONLY ``rows`` as a delta.

        ``update=True`` (partial-column upsert) fills omitted plain
        columns from the current resolved state at commit time — the
        write stays O(changes); only the fill-in read touches the log.
        Omitted aggregate columns contribute the fold identity (null).

        ``seq_col`` orders writes *within* this batch (sub-commit
        timestamps): when one batch carries several writes for the same
        key, the row with the highest ``seq_col`` wins the plain columns,
        and aggregate columns fold across all of them — the reference's
        per-row timestamp ordering inside a transaction
        (yt/yt/client/table_client/versioned_row.h write-timestamp lists).
        Without ``seq_col``, all rows of the batch share sub-position 0
        and per-key multiplicity within a batch is a caller error for
        plain columns (ambiguous winner)."""
        return self._write_segment(
            self._insert_delta(rows, update, seq_col), "delta"
        )

    def _insert_delta(
        self, rows: DataFrame, update: bool = False, seq_col: str | None = None
    ) -> DataFrame:
        schema_cols = self._schema_cols()
        missing = [c for c in schema_cols if c not in rows.columns]
        if missing and not update:
            raise ValueError(
                f"insert_rows missing columns {missing}; pass update=True "
                "for partial-column upsert"
            )
        if missing:
            plain_missing = [c for c in missing if c not in self.aggregates]
            if plain_missing:
                current = self.read().select(*self.key_cols, *plain_missing)
                rows = rows.join(current, self.key_cols, "left")
            base_types = self._base_types()
            for c in missing:
                if c in self.aggregates:
                    rows = rows.withColumn(c, F.lit(None).cast(base_types[c]))
        sub = (
            F.col(seq_col).cast("long") if seq_col is not None else F.lit(0).cast("long")
        )
        return (
            rows.withColumn("__sub", sub)
            .select(*schema_cols, "__sub")
            .withColumn("__op", F.lit("u"))
        )

    def _delete_delta(self, keys: DataFrame) -> DataFrame:
        schema_cols = self._schema_cols()
        base_types = self._base_types()
        delta = keys.select(*self.key_cols)
        for c in schema_cols:
            if c not in self.key_cols:
                delta = delta.withColumn(c, F.lit(None).cast(base_types[c]))
        return (
            delta.select(*schema_cols)
            .withColumn("__sub", F.lit(0).cast("long"))
            .withColumn("__op", F.lit("d"))
        )

    def delete_rows(self, keys: DataFrame) -> int:
        """Tombstone commit: appends only the keys, O(deleted keys)."""
        return self._write_segment(self._delete_delta(keys), "delta")

    def commit_many(self, ops: list[tuple[str, DataFrame]]) -> list[int]:
        """Several upsert/delete commits in one call, with the segment
        parquet writes running CONCURRENTLY: each delta is a tiny
        O(changes) Spark job whose fixed scheduling latency otherwise
        serializes, and the jobs are independent (every delta is a pure
        function of its argument frame, like the sequential path's), so
        overlapping them fills the idle cluster. Commit ORDER is exactly
        the sequential one: versions are assigned up front, manifest
        entries are published in list order, and each entry's wall-clock
        timestamp is stamped at PUBLISH time — so commit timestamps stay
        monotone with version order and a timestamp read can never see a
        later commit of the batch without every earlier one.

        ``ops``: ("u", rows) full-column upserts / ("d", keys) deletes —
        the same deltas ``insert_rows``/``delete_rows`` would write
        (partial-column ``update=True`` upserts are excluded: their
        fill-in read depends on the prior commit's state). Returns the
        committed versions, in order.
        """
        return self._publish_staged(self._stage_many(ops))

    def _stage_many(self, ops: list[tuple[str, DataFrame]]) -> list[dict]:
        """Stage ``ops``' deltas concurrently at the next versions, in
        order; nothing is published. The pool threads carry the caller's
        job group and tags, so their jobs are attributed to the caller."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        _check_mounted(self.path)  # before any of the concurrent stagings
        v0 = self.current_version() + 1
        deltas = []
        for op, df in ops:
            if op == "u":
                deltas.append(self._insert_delta(df))
            elif op == "d":
                deltas.append(self._delete_delta(df))
            else:
                raise ValueError(f"unknown op {op!r} (expected 'u' or 'd')")
        stage = inheritable_thread_target(self.spark)(
            lambda iv: self._stage_segment(iv[1], "delta", v0 + iv[0])
        )
        with ThreadPoolExecutor(max_workers=max(1, len(deltas))) as pool:
            return list(pool.map(stage, enumerate(deltas)))

    def _publish_staged(self, entries: list[dict]) -> list[int]:
        """Publish staged entries in list order; returns their versions."""
        for e in entries:
            e["ts"] = time.time()  # commit time = publish time
            publish_entry(self.path, e)
        return [e["v"] for e in entries]

    def compact(self, retention_timestamp: float | None = None) -> int:
        """Fold the log into a new base segment (store compaction). Later
        reads touch one segment; historical versions remain readable
        unless ``retention_timestamp`` is passed, in which case history
        committed before it is trimmed afterwards (see trim_history)."""
        v = self._write_segment(self.read(), "base")
        if retention_timestamp is not None:
            self.trim_history(retention_timestamp)
        return v

    def merge_rows(self, source: DataFrame, **merge_kwargs) -> int:
        """SQL:2003 MERGE INTO this table (operators/merge.py): one
        full-outer join on the key columns, multi-clause update / delete /
        insert, committed as a new base segment — a full-state commit of
        the same shape as ``compact()`` (the Delta ``MERGE INTO`` analog).
        Earlier versions stay readable; like a compaction base, the merge
        base is a derived state, so ``versioned_lookup`` does not list it
        as a write."""
        from ytsaurus_spark.operators.merge import merge_into

        merge_kwargs.setdefault("on", list(self.key_cols))
        return self._write_segment(
            merge_into(self.read(), source, **merge_kwargs), "base"
        )

    def trim_history(self, retention_timestamp: float) -> int:
        """Drop row history committed before ``retention_timestamp`` —
        the reference's TTL/retention compaction (``min_data_ttl`` /
        ``max_data_ttl`` / ``max_data_versions`` in the tablet retention
        config, applied by the store compactor): old versions stop being
        readable and their storage is reclaimed, while the current state
        (and every commit at/after the retention point) is untouched.

        Mechanics: the newest base is the retention anchor — every
        segment OLDER than the anchor whose commit time predates the
        retention point is retired (manifest entry removed first, atomic
        publish; directories deleted after, so a concurrent reader of the
        old manifest never sees a half-removed segment). Reads at a
        version/timestamp below the surviving floor raise, mirroring the
        reference's retention-timestamp validation
        (client_dynamic_tables_impl.cpp:1599-1603). Returns the number of
        segments reclaimed; metadata-only except the directory removal —
        no data pass, O(segments) not O(rows)."""
        _check_mounted(self.path)
        segs = self._segments()
        bases = [s for s in segs if s["kind"] == "base"]
        if not bases:
            return 0
        anchor = bases[-1]["v"]
        retire = [
            s for s in segs if s["v"] < anchor and s["ts"] < retention_timestamp
        ]
        if not retire:
            return 0
        _write_manifest(self.path, [s for s in segs if s not in retire])
        for s in retire:
            remove_segment(self.path, s["v"])
        return len(retire)

    # -- reads ------------------------------------------------------------

    def _resolve_version(
        self, version: int | None, timestamp: float | None
    ) -> int:
        """version/timestamp args → concrete committed version."""
        segs = self._segments()
        if not segs:
            raise FileNotFoundError(f"no committed version in {self.path}")
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version or timestamp, not both")
            upto = [s for s in segs if s["ts"] <= timestamp]
            if not upto:
                raise ValueError(f"no commit at or before timestamp {timestamp}")
            return upto[-1]["v"]
        if version is None:
            return segs[-1]["v"]
        if not any(s["v"] == version for s in segs):
            if version < segs[0]["v"]:
                raise ValueError(
                    f"version {version} predates the retention floor "
                    f"(oldest retained segment is v{segs[0]['v']})"
                )
            raise ValueError(f"version {version} not committed")
        return version

    def _chain(self, version: int) -> list[dict]:
        """Segments a read at ``version`` must merge: newest base ≤ v plus
        the deltas after it."""
        visible = [s for s in self._segments() if s["v"] <= version]
        base_idxs = [i for i, s in enumerate(visible) if s["kind"] == "base"]
        if not base_idxs:
            raise ValueError(
                f"version {version} predates the retention floor "
                "(history trimmed by trim_history)"
            )
        return visible[base_idxs[-1]:]

    def _seg_raw(self, v: int) -> DataFrame:
        """Parquet relation for segment ``v``, memoized: committed segments
        are immutable, and re-resolving the same directory is a driver
        round trip per read that multiplies across the merge chain."""
        df = self._seg_cache.get(v)
        if df is None:
            df = read_parquet(self.spark, _segment_dir(self.path, v))
            self._seg_cache[v] = df
        return df

    def _seg_df(self, s: dict) -> DataFrame:
        df = self._seg_raw(s["v"])
        if s["kind"] == "base":
            df = df.withColumn("__op", F.lit("u"))
        if "__sub" not in df.columns:  # bases + pre-sub-commit deltas
            df = df.withColumn("__sub", F.lit(0).cast("long"))
        return df.withColumn("__gen", F.lit(s["v"]))

    def _gen_ts_col(self):
        """Map expression commit generation → wall-clock commit timestamp
        (segment count is small; stays a literal, no join)."""
        pairs: list = []
        for s in self._segments():
            pairs += [F.lit(s["v"]), F.lit(float(s["ts"]))]
        return F.element_at(F.create_map(*pairs), F.col("__gen"))

    def _empty_log_df(self) -> DataFrame:
        """Zero-row frame with the full log schema (for reads whose every
        segment was pruned). Schema comes from the seed segment's footer —
        the one piece of metadata a reader always holds."""
        df = self._seg_raw(self._segments()[0]["v"])
        if "__sub" not in df.columns:
            df = df.withColumn("__sub", F.lit(0).cast("long"))
        return (
            df.withColumn("__op", F.lit("u"))
            .withColumn("__gen", F.lit(0))
            .filter(F.lit(False))
        )

    def read(
        self,
        version: int | None = None,
        timestamp: float | None = None,
        with_timestamps: bool = False,
        key_range: tuple | None = None,
    ) -> DataFrame:
        """Resolved state as of a version / wall-clock timestamp (newest
        committed ≤ timestamp), defaulting to the latest commit.

        ``with_timestamps=True`` appends a ``__write_ts`` column — the
        commit wall-clock of each row's newest surviving write, the
        reference's per-row ``$timestamp`` system column
        (versioned_row.h write-timestamp semantics) at commit granularity.

        ``key_range=(lo, hi)`` (inclusive, on the first key column) prunes
        non-overlapping segments from the manifest BEFORE any parquet IO —
        the LSM read-amplification fix: a ranged read of an old key region
        skips every delta that only touched other regions (CHYT's granule
        min-max filter applied at segment granularity).
        """
        version = self._resolve_version(version, timestamp)
        chain = self._chain(version)
        lo, hi = key_range if key_range is not None else (None, None)
        chain = [s for s in chain if self._overlaps(s, lo, hi)]
        u = self._union([self._seg_df(s) for s in chain])
        if key_range is not None:
            u = u.filter(F.col(self.key_cols[0]).between(lo, hi))
        if len(chain) == 1 and chain[0]["kind"] == "base" and not with_timestamps:
            return u.drop("__op", "__gen", "__sub")
        return self._resolve(u, with_timestamps=with_timestamps)

    def lookup_rows(
        self,
        keys: DataFrame,
        version: int | None = None,
        timestamp: float | None = None,
        with_timestamps: bool = False,
        key_bounds: tuple | None = None,
    ) -> DataFrame:
        """Point lookups, optionally at a historical version/timestamp
        (the reference's timestamped LookupRows contract,
        client_dynamic_tables_impl.cpp:1599-1603).

        Two pruning levels (``_keyed_segments``): the manifest's
        per-segment key ranges drop whole segments that cannot contain any
        requested key — no parquet IO at all for them (one tiny min/max
        job on the key set buys it); the key semi-join bounds IO within
        the surviving ones.

        ``key_bounds=(lo, hi)``: caller-supplied min/max of the first key
        column over ``keys`` — skips the bounds job when the caller
        already knows them (changes_between looks up the SAME key set at
        two versions and computes the bounds once); pruning behavior is
        identical."""
        version = self._resolve_version(version, timestamp)
        chain, u = self._keyed_segments(self._chain(version), keys, key_bounds)
        if (
            len(chain) == 1
            and chain[0]["kind"] == "base"
            and not with_timestamps
        ):
            return u.drop("__op", "__gen", "__sub")
        return self._resolve(u, with_timestamps=with_timestamps)

    def versioned_lookup(self, keys: DataFrame) -> DataFrame:
        """Row-version history: every write/tombstone for the given keys
        across the whole log, annotated with ``__gen`` (commit version),
        ``__write_ts`` (commit wall-clock) and ``__op`` ('u'/'d') —
        the reference's versioned read (VersionedLookupRows returning
        TVersionedRow write/delete timestamp lists, versioned_row.h).
        History spans all RETAINED segments (compaction adds a base and
        keeps deltas; trim_history reclaims those beyond retention),
        newest first per key."""
        segs = self._segments()
        if not segs:
            raise FileNotFoundError(f"no committed version in {self.path}")
        # deltas + the seed only: compaction bases are derived states, not
        # writes
        writes = [s for s in segs if s["kind"] != "base" or s["v"] == 0]
        _, u = self._keyed_segments(writes, keys)
        return (
            u.withColumn("__write_ts", self._gen_ts_col())
            .orderBy(*self.key_cols, F.col("__gen").desc(), F.col("__sub").desc())
        )

    def changes_between(
        self,
        from_version: int | None = None,
        to_version: int | None = None,
        from_timestamp: float | None = None,
        to_timestamp: float | None = None,
    ) -> DataFrame:
        """Net row-image diff between two committed states — the CDC /
        replication-log surface (the reference ships row deltas to
        replicas and consumers as ordered write/delete records; this is
        that stream collapsed to one record per changed key).

        Output: key columns, ``change`` ('insert' | 'update' | 'delete'),
        and ``old_<col>`` / ``new_<col>`` per value column. A key whose
        final value at ``to`` equals its value at ``from`` emits nothing
        (NET diff — intermediate churn inside the range cancels out).

        Scale shape — O(changes), not O(state): the delta segments inside
        ``(from, to]`` are read ONLY to learn the touched key set; both
        row images then come from ``lookup_rows`` at the two versions,
        which prunes untouched segments through the manifest key ranges
        AND applies the full merge-on-read resolution — so aggregate
        (fold) columns diff by their RESOLVED values, not raw deltas.
        The full table state is never scanned unless a compaction base
        landed inside the range (the base rewrites history, so the diff
        falls back to a full outer join of the two resolved states —
        still one shuffle).

        The diff is materialized once (one ``localCheckpoint``) and the
        last one is memoized per resolved ``(from, to)`` on this instance:
        committed versions are immutable, so a repeated call — the
        exactly-once replay of ``publish_changes`` — runs no Spark job."""
        v1 = self._resolve_version(from_version, from_timestamp)
        v2 = self._resolve_version(to_version, to_timestamp)
        if v2 < v1:
            raise ValueError(f"to-version {v2} precedes from-version {v1}")
        self._chain(v1)  # a from-state trimmed away raises, memo or not
        diff = self._diff_cache.get((v1, v2))
        if diff is None:
            diff = self._net_diff(v1, v2).localCheckpoint()
            self._diff_cache = {(v1, v2): diff}
        return diff

    def _net_diff(self, v1: int, v2: int) -> DataFrame:
        """The lazy ``changes_between`` plan for resolved versions."""
        val_cols = [c for c in self._schema_cols() if c not in self.key_cols]
        in_range = [s for s in self._segments() if v1 < s["v"] <= v2]
        if any(s["kind"] == "base" for s in in_range):
            # compaction rewrote history inside the range: the touched-key
            # set is unknowable from deltas, diff the two resolved states.
            new_state, old_state = self.read(version=v2), self.read(version=v1)
        else:
            # the raw key column of the deltas: both lookups semi-join a
            # broadcast of it, so duplicates cost nothing and no distinct
            # (or its materialization) is needed
            touched = self._union(
                [self._seg_df(s) for s in in_range]
            ).select(*self.key_cols)
            bounds = self._delta_key_bounds(in_range) or self._key_bounds(touched)
            new_state = self.lookup_rows(touched, version=v2, key_bounds=bounds)
            old_state = self.lookup_rows(touched, version=v1, key_bounds=bounds)
        newer = new_state.select(
            *self.key_cols,
            F.lit(True).alias("__in_new"),
            *[F.col(c).alias(f"new_{c}") for c in val_cols],
        )
        older = old_state.select(
            *self.key_cols,
            F.lit(True).alias("__in_old"),
            *[F.col(c).alias(f"old_{c}") for c in val_cols],
        )
        j = newer.join(older, self.key_cols, "full")
        in_new = F.coalesce(F.col("__in_new"), F.lit(False))
        in_old = F.coalesce(F.col("__in_old"), F.lit(False))
        same = F.lit(True)
        for c in val_cols:
            same = same & F.col(f"new_{c}").eqNullSafe(F.col(f"old_{c}"))
        change = (
            F.when(in_old & ~in_new, "delete")
            .when(in_new & ~in_old, "insert")
            .when(in_new & in_old & ~same, "update")
        )
        out_old = [
            F.when(in_old, F.col(f"old_{c}")).alias(f"old_{c}")
            for c in val_cols
        ]
        out_new = [
            F.when(in_new, F.col(f"new_{c}")).alias(f"new_{c}")
            for c in val_cols
        ]
        return (
            j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(*self.key_cols, "change", *out_old, *out_new)
        )

    def apply_changes(self, changes: DataFrame) -> int | None:
        """Apply a ``changes_between`` diff to THIS table — the consumer
        half of the CDC pair: ``replica.apply_changes(
        source.changes_between(from_version=last_synced))`` brings an
        async replica to the source state (the reference's
        replication-log apply, with the log collapsed to net row images).

        Writes a tombstone for EVERY changed key, then re-inserts the
        new images for inserts/updates. The delete-then-reinsert shape is
        what makes the apply correct for aggregate (fold) columns too: a
        plain upsert would FOLD the image into the replica's current
        value instead of replacing it. Two O(changes) commits; and
        because the image lands on a fresh (post-tombstone) key, applying
        the same diff twice converges to the same state (idempotent).

        Returns the last committed version (None when the diff is empty).
        """
        val_cols = [
            c[len("new_"):] for c in changes.columns if c.startswith("new_")
        ]
        # One localCheckpoint pins the (possibly lazily-built) diff before
        # the first commit mutates this table's manifest; both splits then
        # derive from the materialized rows.
        changes = changes.localCheckpoint()
        upserts = changes.filter(F.col("change").isin("insert", "update")).select(
            *self.key_cols,
            *[F.col(f"new_{c}").alias(c) for c in val_cols],
        )
        # Same commits in the same order as the sequential path (tombstone
        # version first, image version second), both staged concurrently.
        # Their footers' row counts decide what is published, with no
        # count job: the tombstone holds every changed key, so an empty
        # tombstone is an empty diff and an empty image a delete-only one
        # — the published entries are always a prefix of the staged ones.
        staged = self._stage_many(
            [("d", changes.select(*self.key_cols)), ("u", upserts)]
        )
        keep = [
            e for e in staged
            if sum(md.num_rows
                   for md in parquet_footers(_segment_dir(self.path, e["v"])))
        ]
        for e in staged[len(keep):]:
            remove_segment(self.path, e["v"])
        return self._publish_staged(keep)[-1] if keep else None

    # -- merge-on-read resolution ------------------------------------------

    def _resolve(self, u: DataFrame, with_timestamps: bool = False) -> DataFrame:
        """One-shuffle merge: window (last tombstone per key) + groupBy
        (fold survivors) share the key partitioning."""
        from pyspark.sql import Window as W

        from ytsaurus_spark.operators.keyed_tables import _fold_expr

        cols = [c for c in u.columns if c not in ("__op", "__gen", "__sub")]
        w = W.partitionBy(*self.key_cols)
        last_del = F.max(F.when(F.col("__op") == "d", F.col("__gen"))).over(w)
        live = u.withColumn("__last_del", last_del).filter(
            (F.col("__op") == "u")
            & (F.col("__last_del").isNull() | (F.col("__gen") > F.col("__last_del")))
        )
        # write order = (commit generation, within-batch sub-position):
        # struct comparison gives the lexicographic "newest write wins"
        ver = F.struct(F.col("__gen"), F.col("__sub"))
        aggs = []
        for c in cols:
            if c in self.key_cols:
                continue
            if c in self.aggregates:
                aggs.append(_fold_expr(c, self.aggregates[c]))
            else:
                aggs.append(F.max_by(F.col(c), ver).alias(c))
        if with_timestamps:
            aggs.append(F.max("__gen").alias("__gen"))
            merged = live.groupBy(*self.key_cols).agg(*aggs)
            return merged.withColumn("__write_ts", self._gen_ts_col()).select(
                *cols, "__write_ts"
            )
        return live.groupBy(*self.key_cols).agg(*aggs).select(*cols)

    def _schema_cols(self) -> list[str]:
        first = self._seg_raw(self._segments()[0]["v"])
        return [c for c in first.columns if c not in ("__op", "__gen", "__sub")]

    def _base_types(self) -> dict[str, str]:
        """Column → dtype from the SEED segment's footer — the log schema
        is fixed at init, so this avoids analyzing a full merged-read plan
        just to learn types (formerly ``dict(self.read().dtypes)``)."""
        first = self._seg_raw(self._segments()[0]["v"])
        return {
            c: t for c, t in first.dtypes if c not in ("__op", "__gen", "__sub")
        }
