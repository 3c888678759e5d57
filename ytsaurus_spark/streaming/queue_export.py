"""Queue static exports: periodic snapshots of an ordered-table queue
into static tables under an export directory.

Reference: the queue agent's queue exporter
(yt/yt/server/queue_agent/queue_exporter.cpp) groups a queue's flushed
chunks by the export-period slot containing each chunk's max commit
timestamp (GetExportUnixTsRange / GetMinExportUnixTs,
queue_exporter.cpp:87-101), creates ONE static table per populated slot
whose end lies at or before the task instant's slot floor, names it from
``output_table_name_pattern`` (%UNIX_TS / %PERIOD / %ISO / strftime —
config.h TQueueStaticExportConfig:64-93), and records progress as the
last exported slot's unix ts so retries resume idempotently
(TQueueExportProgress, queue_exporter.h:45-67). Behavior is pinned by
yt/yt/tests/integration/queues/test_queue_agent.py (test_multicell_export,
test_table_name_formatting, test_export_retries).

Spark re-expression: a :class:`~ytsaurus_spark.streaming.queues.
DurableQueue`'s manifest already carries one entry per flushed segment
(the chunk analog), now stamped with its commit instant. An export task
is a driver-side metadata pass over that manifest — grouping segment
ENTRIES, never rows — followed by one distributed parquet write per
populated slot (the segments' union; no data moves through the driver).
Progress lives in an atomic manifest in the export directory (published
through ``jsonio.publish_json``, like the queue's own), so a crashed task re-runs
its incomplete slot and already-created tables raise — the reference's
create-conflict-then-retry discipline (config.h:82-84).

At 100 TB: slots bound work per task part, the per-slot write is a
distributed union of parquet segment dirs (scan + write, zero shuffle),
and the manifest pass is O(segments since last export).
"""

from __future__ import annotations

import datetime
import os
import uuid

from ytsaurus_spark.catalog import read_parquet
from ytsaurus_spark.jsonio import load_json, publish_json
from ytsaurus_spark.streaming.queues import DurableQueue

__all__ = ["QueueStaticExporter", "format_export_table_name"]


def format_export_table_name(pattern: str, unix_ts: int, period: int) -> str:
    """Expand the output_table_name_pattern specifiers (config.h:76-85):
    %UNIX_TS, %PERIOD, %ISO, then everything else through strftime over
    the table's unix timestamp (UTC)."""
    dt = datetime.datetime.fromtimestamp(unix_ts, tz=datetime.timezone.utc)
    out = pattern.replace("%UNIX_TS", str(unix_ts))
    out = out.replace("%PERIOD", str(period))
    out = out.replace("%ISO", dt.strftime("%Y-%m-%dT%H:%M:%SZ"))
    if "%" in out:
        out = dt.strftime(out)
    return out


class QueueStaticExporter:
    """One named export of a queue (a ``@static_export_config`` entry).

    ``client`` (a YtClient) owns the export directory; ``export_period``
    is in SECONDS (the reference config takes ms; its tests pass
    ``seconds * 1000``)."""

    PROGRESS = "_export_progress.json"

    def __init__(
        self,
        queue: DurableQueue,
        client,
        export_directory: str,
        export_period: int,
        *,
        output_table_name_pattern: str = "%UNIX_TS-%PERIOD",
        use_upper_bound_for_table_names: bool = False,
        export_ttl: int | None = None,
    ) -> None:
        if export_period <= 0:
            raise ValueError("export_period must be positive")
        self.queue = queue
        self.client = client
        self.export_directory = export_directory.rstrip("/")
        self.period = int(export_period)
        self.pattern = output_table_name_pattern
        self.upper_bound_names = use_upper_bound_for_table_names
        self.export_ttl = export_ttl
        if not client.exists(self.export_directory):
            client.create("map_node", self.export_directory, recursive=True)

    # -- progress manifest (atomic, jsonio.publish_json) -----------------

    @property
    def _progress_path(self) -> str:
        return os.path.join(self.client._fs(self.export_directory),
                            self.PROGRESS)

    def get_export_progress(self) -> dict:
        """TQueueExportProgress analog: last exported slot ts + per-table
        row counts."""
        return load_json(
            self._progress_path,
            {"last_export_unix_ts": 0, "tables": {},
             "last_successful_task_instant": None},
        )

    def _publish(self, progress: dict) -> None:
        publish_json(self._progress_path, progress)

    # -- the export task --------------------------------------------------

    def export_task(self, now: float | None = None) -> list[str]:
        """One exporter pass (queue_exporter.cpp Task): export every
        populated period slot whose END is <= floor(now / period) * period
        and past the recorded progress. Returns created table paths.

        A slot's table name collision raises (the reference treats it as
        a task-part error and re-attempts next pass — progress is only
        advanced past slots whose table committed)."""
        import time as _time

        now = float(now if now is not None else _time.time())
        upper = (int(now) // self.period) * self.period
        progress = self.get_export_progress()
        last = int(progress.get("last_export_unix_ts", 0))
        if last >= upper:
            progress["last_successful_task_instant"] = now
            self._publish(progress)
            return []

        # group segment ENTRIES by the slot containing their commit ts
        # (GetMinExportUnixTs: the slot's END identifies the export)
        by_slot: dict[int, list[dict]] = {}
        for seg in self.queue._state()["segments"]:
            slot_end = (int(seg.get("ts", 0)) // self.period + 1) * self.period
            if last < slot_end <= upper:
                by_slot.setdefault(slot_end, []).append(seg)

        created: list[str] = []
        for slot_end in sorted(by_slot):
            name_ts = slot_end if self.upper_bound_names \
                else slot_end - self.period
            name = format_export_table_name(self.pattern, name_ts,
                                            self.period)
            dst = f"{self.export_directory}/{name}"
            if self.client.exists(dst):
                # Adopt (overwrite) ONLY a table this exporter created
                # itself: the 'pending' marker must match AND the table
                # must carry the pass-unique token our create stamped
                # into its attributes. A matching marker alone is not
                # proof of ownership — if we crashed between publishing
                # 'pending' and creating the table, a foreign process
                # may have created the same name; that is the
                # reference's create-conflict task-part error.
                pend = progress.get("pending") or {}
                try:
                    own_tok = self.client.get(
                        dst + "/@queue_export_token")
                except Exception:
                    own_tok = None
                if not (pend.get("name") == name
                        and int(pend.get("slot_end", -1)) == slot_end
                        and pend.get("token")
                        and own_tok == pend.get("token")):
                    raise ValueError(
                        f"export table {dst} already exists (will retry "
                        f"on the next pass)"
                    )
                progress["pending"] = pend  # keep the owning token
                self._publish(progress)
            else:
                token = uuid.uuid4().hex
                progress["pending"] = {
                    "slot_end": slot_end, "name": name, "token": token,
                }
                self._publish(progress)
                # create-with-token BEFORE the write: raises on a foreign
                # same-name race, and a crash after this point leaves a
                # token-stamped orphan the next pass can prove is ours
                self.client.create(
                    "table", dst,
                    attributes={"queue_export_token": token},
                )
            dirs = [os.path.join(self.queue.path, s["dir"])
                    for s in by_slot[slot_end]]
            df = read_parquet(self.queue.spark, *dirs)
            self.client.write_table(dst, df, append=False)
            if self.export_ttl:
                exp = datetime.datetime.fromtimestamp(
                    now + self.export_ttl, tz=datetime.timezone.utc
                ).strftime("%Y-%m-%dT%H:%M:%SZ")
                self.client.set(dst + "/@expiration_time", exp)
            created.append(dst)
            # advance progress per committed table, not per task — a
            # failure mid-pass resumes at the first unexported slot
            progress.pop("pending", None)
            progress["last_export_unix_ts"] = slot_end
            progress["tables"][name] = {
                "unix_ts": name_ts,
                "rows": sum(s["hi"] - s["lo"] + 1 for s in by_slot[slot_end]),
            }
            self._publish(progress)
        progress["last_successful_task_instant"] = now
        self._publish(progress)
        return created
