"""Cross-table atomic transactions over LogTxTable — the reference's
tablet transactions span tables through a transaction supervisor running
two-phase commit across participant tablet cells
(yt/yt/server/lib/transaction_supervisor/; client surface
`start_transaction` / tablet tx in yt/yt/client/api/transaction.h).

Spark-side shape — write-ahead intent + presumed roll-forward:

1. **Prepare**: every staged write lands as an UNPUBLISHED segment
   (`LogTxTable._stage_segment` — readers are manifest-driven, so staged
   parquet stays invisible). Staging passes the table's mount gate, so a
   frozen participant aborts the transaction here.
2. **Intent**: one JSON record listing every (table path, manifest entry)
   is published atomically (`jsonio.publish_json`). THIS is the commit
   point: before it, a crash leaves only invisible orphan files; after
   it, the transaction is durably decided.
3. **Publish**: each participant's manifest gains its entry through
   `tx_table.publish_entry` (idempotent — this transaction's entry
   already present is skipped, so re-running after a crash is safe).
   4. The intent is removed.

`recover(coordinator_dir)` rolls every decided-but-unfinished intent
FORWARD (pure JSON manipulation — no Spark needed), which is the
presumed-commit half of 2PC; a pre-intent failure inside `commit()`
removes its own staged dirs. Single writer per table is assumed (the reference's
tablet write path serializes through the tablet cell leader the same
way); `publish_entry` still verifies the staged version is the next
version and raises on a conflicting interleaved commit rather than
corrupting the log. The manifest format itself belongs to
`sources/tx_table.py`.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame

from ytsaurus_spark.jsonio import load_json, publish_json
from ytsaurus_spark.sources import tx_table
from ytsaurus_spark.sources.tx_table import LogTxTable


class MultiTableTransaction:
    """Stage writes against several LogTxTables, commit atomically.

    Usage::

        tx = MultiTableTransaction(coord_dir)
        tx.insert_rows(accounts, debit_rows)
        tx.insert_rows(ledger, entry_rows)
        tx.delete_rows(holds, released_keys)
        tx.commit()          # all-or-nothing across the three tables

    Writes stay invisible in EVERY table until commit; after the intent
    record is durable, `recover()` finishes publication even across a
    crash, so no reader can ever observe one table updated without the
    others (beyond the instant between the individual manifest swaps —
    the same read-skew window the reference closes with timestamps,
    closed here the same way: `read(timestamp=...)` below the commit's
    ts is consistent by construction since old segments are immutable).
    """

    def __init__(self, coordinator_dir: str) -> None:
        self.dir = coordinator_dir
        os.makedirs(coordinator_dir, exist_ok=True)
        self.tx_id = uuid.uuid4().hex[:16]
        self._ops: list[tuple[LogTxTable, str, DataFrame, dict]] = []
        self._state = "open"
        self._snapshots: dict[str, int] = {}
        self._held: list[str] = []  # table paths with shared/exclusive locks

    # -- staging ----------------------------------------------------------

    def insert_rows(
        self,
        table: LogTxTable,
        rows: DataFrame,
        update: bool = False,
        seq_col: str | None = None,
    ) -> None:
        self._check_open()
        if update and any(t.path == table.path for t, _, _, _ in self._ops):
            # update=True fills omitted columns from the PUBLISHED state;
            # inside a tx that would silently revert columns written by an
            # earlier op on the same table (staged segments are invisible
            # to read()), so refuse rather than corrupt.
            raise ValueError(
                "partial-column update of a table already written in this "
                "transaction is not supported; write full rows"
            )
        self._take_lock(table, "shared")
        self._ops.append(
            (table, "insert", rows, {"update": update, "seq_col": seq_col})
        )

    def delete_rows(self, table: LogTxTable, keys: DataFrame) -> None:
        self._check_open()
        self._take_lock(table, "shared")
        self._ops.append((table, "delete", keys, {}))

    # -- locks ------------------------------------------------------------

    def lock(self, table: LogTxTable, mode: str = "shared") -> None:
        """Take a table lock (reference lock modes, transaction.h /
        Cypress lock semantics):

        - ``snapshot`` — pin the table's CURRENT version for this
          transaction's ``read()``; never conflicts, never blocks anyone
          (immutable old segments make it free);
        - ``shared``   — many holders; blocks exclusive. Writes staged
          through this transaction take it implicitly;
        - ``exclusive`` — sole holder; conflicts with every other lock.

        Conflicting acquisition raises LockConflictError immediately
        (fail-fast, the reference's concurrent-lock error) rather than
        queueing — lease-based waiting needs a lock manager process this
        single-host layout doesn't have."""
        self._check_open()
        if mode == "snapshot":
            self._snapshots.setdefault(table.path, table.current_version())
            return
        if mode not in ("shared", "exclusive"):
            raise ValueError(f"unknown lock mode {mode!r}")
        self._take_lock(table, mode)

    def _take_lock(self, table: LogTxTable, mode: str) -> None:
        locks = _read_locks(table.path)
        mine = [l for l in locks if l["tx"] == self.tx_id]
        others = [l for l in locks if l["tx"] != self.tx_id]
        if any(l["mode"] == "exclusive" for l in others) or (
            mode == "exclusive" and others
        ):
            holder = next(iter(others))
            raise LockConflictError(
                f"cannot take {mode} lock on {table.path}: "
                f"{holder['mode']} lock held by concurrent transaction "
                f"{holder['tx']}"
            )
        if any(l["mode"] == mode or l["mode"] == "exclusive" for l in mine):
            return  # already held at sufficient strength
        locks = others + mine + [
            {"tx": self.tx_id, "mode": mode, "acquired_at": time.time()}
        ]
        _write_locks(table.path, locks)
        if table.path not in self._held:
            self._held.append(table.path)

    def read(self, table: LogTxTable) -> DataFrame:
        """Transaction-scoped read: under a snapshot lock, the pinned
        version (repeatable reads regardless of concurrent commits);
        otherwise the current published state."""
        v = self._snapshots.get(table.path)
        return table.read(version=v) if v is not None else table.read()

    def _release_locks(self) -> None:
        for path in self._held:
            _write_locks(
                path, [l for l in _read_locks(path) if l["tx"] != self.tx_id]
            )
        self._held.clear()

    def _check_open(self) -> None:
        if self._state != "open":
            raise RuntimeError(f"transaction is {self._state}")

    # -- 2PC --------------------------------------------------------------

    @property
    def _intent_path(self) -> str:
        return os.path.join(self.dir, f"tx_{self.tx_id}.json")

    def commit(self) -> None:
        """Prepare → intent → publish → forget. The atomic publish of the
        intent record is the commit point."""
        self._check_open()
        if not self._ops:
            self._release_locks()
            self._state = "committed"
            return
        # phase 1: stage every segment through the participant's own
        # staging path (one entry shape, one footer-range reader —
        # tx_table._stage_segment); multiple ops on one table stack
        # deltas v, v+1, ... and publish in staging order. A failure
        # before the intent record is durable aborts cleanly: staged
        # dirs are removed and nothing was ever visible.
        staged: list[dict] = []
        next_v: dict[str, int] = {}
        try:
            for table, kind, df, kw in self._ops:
                delta = (
                    table._insert_delta(df, **kw)
                    if kind == "insert"
                    else table._delete_delta(df)
                )
                v = next_v.get(table.path, table.current_version() + 1)
                entry = table._stage_segment(delta, "delta", v)
                entry["tx"] = self.tx_id
                staged.append({"table_path": table.path, "entry": entry})
                next_v[table.path] = v + 1
            # phase 2: durable intent = the commit decision
            publish_json(
                self._intent_path, {"tx_id": self.tx_id, "participants": staged}
            )
        except Exception:
            for p in staged:
                tx_table.remove_segment(p["table_path"], p["entry"]["v"])
            raise
        # phase 3: publish everywhere (idempotent), then forget
        for p in staged:
            tx_table.publish_entry(p["table_path"], p["entry"])
        os.remove(self._intent_path)
        self._release_locks()
        self._state = "committed"

    def abort(self) -> None:
        """Discard the transaction. Staging only happens inside commit(),
        which cleans its own segment dirs on pre-intent failure, so
        abort() has no disk state to reclaim — it just closes the tx."""
        self._check_open()
        self._release_locks()
        self._state = "aborted"
        self._ops.clear()


def recover(coordinator_dir: str) -> int:
    """Roll forward every decided-but-unpublished transaction (presumed
    commit). Pure filesystem/JSON work — callable before any Spark
    session exists, exactly like the reference's supervisor replaying
    its commit log on cell restart. Returns the number of transactions
    completed."""
    if not os.path.isdir(coordinator_dir):
        return 0
    n = 0
    failures: list[str] = []
    for name in sorted(os.listdir(coordinator_dir)):
        if not (name.startswith("tx_") and name.endswith(".json")):
            continue
        path = os.path.join(coordinator_dir, name)
        # one damaged/conflicted intent must not block the others: roll
        # forward everything that can be, then report what could not
        try:
            for p in load_json(path)["participants"]:
                tx_table.publish_entry(p["table_path"], p["entry"])
            os.remove(path)
            n += 1
        except Exception as e:
            failures.append(f"{name}: {type(e).__name__}: {e}")
    if failures:
        raise RuntimeError(
            f"recovered {n} transaction(s); unrecoverable: {failures}"
        )
    return n


# -- table locks -----------------------------------------------------------


class LockConflictError(RuntimeError):
    """Concurrent transaction lock conflict (the reference's
    ``Cannot take lock … since … taken by concurrent transaction``)."""


def _locks_path(table_path: str) -> str:
    return os.path.join(table_path, "_yt_locks.json")


def _read_locks(table_path: str) -> list[dict]:
    return load_json(_locks_path(table_path), {"locks": []})["locks"]


def _write_locks(table_path: str, locks: list[dict]) -> None:
    publish_json(_locks_path(table_path), {"locks": locks})


def clear_locks(table_path: str, older_than: float | None = None) -> int:
    """Administrative lock sweep (a crashed tx's locks outlive it; the
    reference expires them with the transaction lease — the lease-less
    analogue is an explicit sweep). Returns the number removed."""
    locks = _read_locks(table_path)
    keep = [
        l for l in locks if older_than is not None and l["acquired_at"] >= older_than
    ]
    _write_locks(table_path, keep)
    return len(locks) - len(keep)
