"""Chaos replication: multi-cluster replicated dynamic tables with a
replication card, eras, and coordinated switchover/failover.

Reference semantics (yt/yt/client/chaos_client/replication_card.h;
yt/yt/server/lib/chaos_node/):

- a chaos-replicated table is described by a REPLICATION CARD: a map of
  replicas — each with ClusterName, ReplicaPath, ContentType
  (data | queue), Mode (sync | async, with the transitional
  async_to_sync / sync_to_async states of ETableReplicaMode), State
  (enabled | disabled) and a per-replica History of
  (Era, Timestamp, Mode, State) items — plus the card-wide Era;
- writers commit into QUEUE replicas (sync queues inside the write
  transaction); DATA replicas apply rows from the queues
  asynchronously, tracking ReplicationProgress;
- any mode/state change advances the Era and appends a history item;
  promotion of an async replica to sync first requires catch-up (the
  async_to_sync transitional mode);
- when a cluster becomes unavailable its replicas are disabled and a
  surviving async replica is promoted — writes continue in the new
  era; the returning cluster's replicas re-enable and catch up.

Spark-first model: each replica lives on an independent cluster
(``YtClient`` root) as a ``LogTxTable``. The card is a JSON document on
the chaos-cell directory (the replication-card watcher's source of
truth). Replication is cross-cluster segment shipping — the same
chunk-verbatim transport as RemoteCopy, applied to commit-log segments;
a data replica's state is byte-identical to the queue at its applied
version. Timestamps are deterministic commit versions (the repo-wide
MVCC granularity choice, sources/tx_table.py).

At scale the card is O(replicas) metadata; catch-up ships only missing
segments (never re-reads history), and every replica remains
independently readable storage on its own cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ytsaurus_spark.jsonio import load_json, publish_json
from ytsaurus_spark.sources.tx_table import LogTxTable, ship_segments

SYNC = "sync"
ASYNC = "async"
ASYNC_TO_SYNC = "async_to_sync"
SYNC_TO_ASYNC = "sync_to_async"

ENABLED = "enabled"
DISABLED = "disabled"


class ChaosError(RuntimeError):
    pass


class ChaosReplicatedTable:
    """A replication card + replicas across independent clusters.

    ``clusters`` maps cluster name → YtClient; replicas are created with
    ``create_table_replica`` and written through ``insert_rows`` /
    ``delete_rows`` — sync replicas commit with the write, async ones
    catch up on ``tick()`` (the chaos replicator loop)."""

    def __init__(
        self,
        spark: SparkSession,
        card_dir: str,
        key_cols: list[str],
        clusters: dict[str, object],
        aggregates: dict | None = None,
    ) -> None:
        self.spark = spark
        self.card_dir = card_dir
        self.key_cols = key_cols
        self.aggregates = aggregates
        self.clusters = clusters
        os.makedirs(card_dir, exist_ok=True)
        self._tables: dict[str, LogTxTable] = {}
        if not os.path.exists(self._card_path()):
            self._save_card({"era": 1, "ts": 0, "replicas": {}})

    # -- replication card ----------------------------------------------

    def _card_path(self) -> str:
        return os.path.join(self.card_dir, "_replication_card.json")

    def get_replication_card(self) -> dict:
        return load_json(self._card_path())

    def _save_card(self, card: dict) -> None:
        publish_json(self._card_path(), card)

    def _bump_era(self, card: dict, rid: str, mode: str, state: str) -> None:
        """Any mode/state change advances the era and appends a history
        item (TReplicaHistoryItem: Era, Timestamp, Mode, State)."""
        card["era"] += 1
        card["ts"] += 1
        r = card["replicas"][rid]
        r["mode"] = mode
        r["state"] = state
        r["history"].append(
            {"era": card["era"], "ts": card["ts"], "mode": mode, "state": state}
        )

    # -- replica management --------------------------------------------

    def _table(self, rid: str) -> LogTxTable:
        if rid not in self._tables:
            card = self.get_replication_card()
            info = card["replicas"][rid]
            client = self.clusters[info["cluster_name"]]
            self._tables[rid] = LogTxTable(
                self.spark,
                client._fs(info["replica_path"]),
                self.key_cols,
                self.aggregates,
            )
        return self._tables[rid]

    def create_table_replica(
        self,
        rid: str,
        cluster_name: str,
        replica_path: str,
        content_type: str = "data",
        mode: str = ASYNC,
        enabled: bool = True,
    ) -> str:
        if content_type not in ("data", "queue"):
            raise ChaosError(f"content_type data|queue, got {content_type!r}")
        if mode not in (SYNC, ASYNC):
            raise ChaosError(f"mode sync|async, got {mode!r}")
        card = self.get_replication_card()
        if rid in card["replicas"]:
            raise ChaosError(f"replica {rid} exists")
        if cluster_name not in self.clusters:
            raise ChaosError(f"unknown cluster {cluster_name}")
        card["replicas"][rid] = {
            "cluster_name": cluster_name,
            "replica_path": replica_path,
            "content_type": content_type,
            "mode": mode,
            "state": ENABLED if enabled else DISABLED,
            "history": [],
        }
        self._bump_era(
            card, rid, mode, ENABLED if enabled else DISABLED
        )
        self._save_card(card)
        # bootstrap from an existing queue if the table already has data
        if enabled:
            self._catch_up(rid, card)
        return rid

    # -- replication: cross-cluster segment shipping --------------------

    def _queue_rids(self, card: dict, require_enabled: bool = True) -> list[str]:
        return sorted(
            rid
            for rid, r in card["replicas"].items()
            if r["content_type"] == "queue"
            and (not require_enabled or r["state"] == ENABLED)
        )

    def _source_for_catch_up(self, card: dict, rid: str) -> str | None:
        """Best replication source: an enabled queue, preferring sync,
        then the most advanced."""
        qs = self._queue_rids(card)
        qs = [q for q in qs if q != rid]
        if not qs:
            return None
        return max(
            qs,
            key=lambda q: (
                card["replicas"][q]["mode"] == SYNC,
                self._table(q).current_version(),
            ),
        )

    def _catch_up(self, rid: str, card: dict | None = None) -> int:
        card = card or self.get_replication_card()
        info = card["replicas"][rid]
        if info["state"] != ENABLED:
            return 0
        src_rid = self._source_for_catch_up(card, rid)
        if src_rid is None:
            return 0
        # era-fenced shipping (tx_table.ship_segments): a replica holding a
        # dead era's tail is truncated to the common prefix first
        return ship_segments(self._table(src_rid), self._table(rid))

    def tick(self) -> dict[str, int]:
        """Replicator loop: every enabled async replica (data or queue)
        catches up from the best queue. Returns segments shipped."""
        card = self.get_replication_card()
        out = {}
        for rid, r in card["replicas"].items():
            if r["state"] == ENABLED and r["mode"] in (ASYNC, ASYNC_TO_SYNC):
                out[rid] = self._catch_up(rid, card)
        return out

    # -- writes: commit into enabled sync queues ------------------------

    def _sync_queues(self, card: dict) -> list[str]:
        return [
            q
            for q in self._queue_rids(card)
            if card["replicas"][q]["mode"] == SYNC
        ]

    def _write(self, op: str, df: DataFrame, **kw) -> int:
        card = self.get_replication_card()
        syncs = self._sync_queues(card)
        if not syncs:
            raise ChaosError(
                "no enabled sync queue replica — writes have nowhere to "
                "commit (the chaos write path requires a sync queue)"
            )
        v = -1
        for q in syncs:
            t = self._table(q)
            if op == "init" or t.current_version() < 0:
                v = t.init(df)
            elif op == "insert":
                v = t.insert_rows(df, **kw)
            else:
                v = t.delete_rows(df)
        # sync DATA replicas apply within the commit
        for rid, r in card["replicas"].items():
            if (
                r["content_type"] == "data"
                and r["state"] == ENABLED
                and r["mode"] == SYNC
            ):
                self._catch_up(rid, card)
        card["ts"] += 1
        self._save_card(card)
        return v

    def init(self, df: DataFrame) -> int:
        return self._write("init", df)

    def insert_rows(self, rows: DataFrame, **kw) -> int:
        return self._write("insert", rows, **kw)

    def delete_rows(self, keys: DataFrame) -> int:
        return self._write("delete", keys)

    # -- era transitions ------------------------------------------------

    def alter_table_replica(
        self, rid: str, mode: str | None = None, enabled: bool | None = None
    ) -> None:
        """Coordinated mode/state change. async→sync goes through the
        transitional catch-up (ETableReplicaMode::AsyncToSync): the
        replica first applies everything, then the era advances with the
        new mode — writes never see a stale 'sync' replica."""
        card = self.get_replication_card()
        if rid not in card["replicas"]:
            raise ChaosError(f"no replica {rid}")
        info = card["replicas"][rid]
        new_state = (
            info["state"] if enabled is None else (ENABLED if enabled else DISABLED)
        )
        new_mode = info["mode"] if mode is None else mode
        if new_mode not in (SYNC, ASYNC):
            raise ChaosError(f"mode sync|async, got {new_mode!r}")
        if new_mode == SYNC and info["mode"] != SYNC and new_state == ENABLED:
            # transitional catch-up before the promotion becomes visible
            self._bump_era(card, rid, ASYNC_TO_SYNC, new_state)
            self._save_card(card)
            self._catch_up(rid, card)
        self._bump_era(card, rid, new_mode, new_state)
        self._save_card(card)

    def switchover(self, new_sync_rid: str) -> None:
        """Planned switch of the sync role within a content type: promote
        ``new_sync_rid`` (catch-up first), demote current sync peers of
        the same content type to async."""
        card = self.get_replication_card()
        if new_sync_rid not in card["replicas"]:
            raise ChaosError(f"no replica {new_sync_rid}")
        ct = card["replicas"][new_sync_rid]["content_type"]
        old_syncs = [
            rid
            for rid, r in card["replicas"].items()
            if r["content_type"] == ct and r["mode"] == SYNC and rid != new_sync_rid
        ]
        self.alter_table_replica(new_sync_rid, mode=SYNC)
        for rid in old_syncs:
            self.alter_table_replica(rid, mode=ASYNC)

    def fail_cluster(self, cluster_name: str) -> None:
        """Cluster outage: disable its replicas (era bumps); if the sync
        queue was lost, promote the most-advanced surviving async queue
        so writes continue in the new era."""
        card = self.get_replication_card()
        for rid, r in card["replicas"].items():
            if r["cluster_name"] == cluster_name and r["state"] == ENABLED:
                self._bump_era(card, rid, r["mode"], DISABLED)
        self._save_card(card)
        card = self.get_replication_card()
        if not self._sync_queues(card):
            survivors = self._queue_rids(card)
            if survivors:
                best = max(
                    survivors, key=lambda q: self._table(q).current_version()
                )
                self.alter_table_replica(best, mode=SYNC)

    def recover_cluster(self, cluster_name: str) -> None:
        """Outage ends: re-enable the cluster's replicas as ASYNC (they
        lost any sync role they held) and let them catch up on tick()."""
        card = self.get_replication_card()
        for rid, r in card["replicas"].items():
            if r["cluster_name"] == cluster_name and r["state"] == DISABLED:
                self._bump_era(card, rid, ASYNC, ENABLED)
        self._save_card(card)

    # -- reads ----------------------------------------------------------

    def era(self) -> int:
        return self.get_replication_card()["era"]

    def replica_lag(self) -> dict[str, int]:
        card = self.get_replication_card()
        qs = self._queue_rids(card)
        head = max((self._table(q).current_version() for q in qs), default=-1)
        return {
            rid: head - self._table(rid).current_version()
            for rid, r in card["replicas"].items()
            if r["state"] == ENABLED
        }

    def read(self, rid: str | None = None) -> DataFrame:
        """Read a data replica: explicit ``rid``, else an enabled sync
        data replica, else the most-advanced enabled data replica, else
        the sync queue itself (a queue is also readable storage)."""
        card = self.get_replication_card()
        if rid is not None:
            return self._table(rid).read()
        data = [
            (r["mode"] == SYNC, self._table(i).current_version(), i)
            for i, r in card["replicas"].items()
            if r["content_type"] == "data" and r["state"] == ENABLED
        ]
        if data:
            return self._table(max(data)[2]).read()
        qs = self._sync_queues(card) or self._queue_rids(card)
        if not qs:
            raise ChaosError("no readable replica")
        return self._table(qs[0]).read()
