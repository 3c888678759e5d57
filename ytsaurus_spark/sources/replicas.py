"""Replicated keyed tables: sync/async replicas with fallback reads.

Reference semantics (yt/yt/ytlib/api/native/client_dynamic_tables_impl.cpp:
1620-1642): a replicated dynamic table has N replica tables; SYNC replicas
are written as part of the commit, ASYNC replicas catch up in the
background, and reads pick an in-sync replica with automatic fallback.

Spark-first model: the main table and every replica are independent
``LogTxTable`` directories. Replication is **segment shipping** — a replica
catches up by copying the main log's missing segment parquet dirs and
appending the same manifest entries (the file-level replication RemoteCopy
does for static tables, applied to the commit log). A replica's state is
therefore byte-identical to the main table at its applied version; lag is
"segments not yet shipped", and every replica remains independently
readable storage (not a view over the main table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ytsaurus_spark.sources.tx_table import LogTxTable, ship_segments


class Replica:
    """One replica: a LogTxTable directory + its replication mode."""

    def __init__(self, table: LogTxTable, mode: str = "async") -> None:
        if mode not in ("sync", "async"):
            raise ValueError(f"replica mode must be sync|async, got {mode!r}")
        self.table = table
        self.mode = mode

    def applied_version(self) -> int:
        return self.table.current_version()


class ReplicatedTable:
    """Main table + N replicas; sync replicas commit with the write."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        aggregates: dict | None = None,
    ) -> None:
        self.spark = spark
        self.main = LogTxTable(spark, os.path.join(path, "main"), key_cols, aggregates)
        self.path = path
        self.key_cols = key_cols
        self.aggregates = aggregates
        self.replicas: dict[str, Replica] = {}

    def add_replica(self, name: str, mode: str = "async") -> Replica:
        t = LogTxTable(
            self.spark,
            os.path.join(self.path, f"replica_{name}"),
            self.key_cols,
            self.aggregates,
        )
        r = Replica(t, mode)
        self.replicas[name] = r
        self._catch_up(r)  # a new replica bootstraps from the current log
        return r

    # -- replication: segment shipping ---------------------------------

    def _catch_up(self, r: Replica) -> int:
        """Ship the main log's missing segments to the replica
        (tx_table.ship_segments). Returns segments shipped."""
        return ship_segments(self.main, r.table)

    def tick(self) -> dict[str, int]:
        """Background replication step: async replicas catch up. Returns
        segments shipped per replica (the reference's replicator loop)."""
        return {
            name: self._catch_up(r)
            for name, r in self.replicas.items()
            if r.mode == "async"
        }

    # -- writes: sync replicas commit with the write --------------------

    def _after_write(self) -> None:
        for r in self.replicas.values():
            if r.mode == "sync":
                self._catch_up(r)

    def init(self, df: DataFrame) -> int:
        v = self.main.init(df)
        self._after_write()
        return v

    def insert_rows(self, rows: DataFrame, **kw) -> int:
        v = self.main.insert_rows(rows, **kw)
        self._after_write()
        return v

    def delete_rows(self, keys: DataFrame) -> int:
        v = self.main.delete_rows(keys)
        self._after_write()
        return v

    # -- reads: in-sync pick with fallback ------------------------------

    def in_sync_replicas(self) -> list[str]:
        """Replicas whose applied version matches the main table's —
        GetInSyncReplicas (client_dynamic_tables_impl.cpp)."""
        cur = self.main.current_version()
        return sorted(
            n for n, r in self.replicas.items() if r.applied_version() == cur
        )

    def read(
        self, prefer: list[str] | None = None, require_sync: bool = True
    ) -> DataFrame:
        """Read from a replica, preferring ``prefer`` order, restricted to
        in-sync replicas when ``require_sync``; falls back to the main
        table when no replica qualifies — the reference's replica pick &
        fallback. Stale (lagging) replicas are readable explicitly via
        ``require_sync=False`` (they serve their applied version)."""
        in_sync = set(self.in_sync_replicas())
        order = (prefer or []) + sorted(
            n for n in self.replicas if not prefer or n not in prefer
        )
        for name in order:
            r = self.replicas.get(name)
            if r is None:
                continue
            if require_sync and name not in in_sync:
                continue
            return r.table.read()
        return self.main.read()

    def replica_lag(self) -> dict[str, int]:
        """Segments behind main, per replica (replication lag metric)."""
        cur = self.main.current_version()
        return {n: cur - r.applied_version() for n, r in self.replicas.items()}


def replica_states(rt: ReplicatedTable) -> dict[str, dict]:
    """Snapshot of replication state for observability/tests."""
    return {
        n: {
            "mode": r.mode,
            "applied": r.applied_version(),
            "in_sync": n in rt.in_sync_replicas(),
        }
        for n, r in rt.replicas.items()
    }
