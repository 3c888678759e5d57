"""Queue / consumer-offset semantics on ordered tables (SURVEY §2.6).

Reference: queues are ordered dynamic tables with system columns
``$tablet_index``/``$row_index``; consumers advance named offsets via
``PullQueue`` / ``PullQueueConsumer`` / ``AdvanceConsumer``
(yt/yt/client/api/queue_client.h:115-143, consumer state in
yt/yt/client/queue_client/consumer_client.h).

Spark re-expression: an ordered table is any DataFrame with a monotonically
increasing row-index column (``event_id`` in the fixtures ≈ ``$row_index``).
A consumer is a tiny offset record; ``pull`` reads ``[offset, offset+n)`` as
a pushed-down range filter (partition-prunable at scale when the table is
range-partitioned on the index — exactly how tablets bound a pull to one
store). Real incremental pipelines use Structured Streaming (see
streaming_q.py); this class covers the reference's *explicit-offset* API
which is replay-from-anywhere by design.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import (
    footer_min_max,
    parquet_footers,
    read_parquet,
    record_parquet_schema,
)
from ytsaurus_spark.jsonio import load_json, publish_json


@dataclass
class QueueConsumer:
    """Named consumer with per-partition offsets (partition_index ≈
    $tablet_index; single-partition queues use partition 0)."""

    name: str
    offsets: dict[int, int] = field(default_factory=dict)

    def offset(self, partition: int = 0) -> int:
        return self.offsets.get(partition, 0)

    def advance(self, new_offset: int, partition: int = 0) -> None:
        # AdvanceConsumer semantics: monotonic, idempotent re-advance allowed
        # (queue_client.h:136-143).
        if new_offset < self.offset(partition):
            raise ValueError(
                f"consumer {self.name}: offset moves backwards "
                f"({self.offset(partition)} -> {new_offset})"
            )
        self.offsets[partition] = new_offset


def pull_queue(
    queue: DataFrame,
    row_index_col: str,
    offset: int,
    max_rows: int,
    partition_col: str | None = None,
    partition: int = 0,
) -> DataFrame:
    """PullQueue: rows with index in [offset, offset + max_rows).

    The range predicate pushes down to the scan (parquet min/max pruning),
    so a pull touches only the row groups covering the range — the same
    store-pruning the reference's tablet readers do."""
    df = queue
    if partition_col is not None:
        df = df.filter(F.col(partition_col) == partition)
    return df.filter(
        (F.col(row_index_col) >= offset) & (F.col(row_index_col) < offset + max_rows)
    )


def pull_and_advance(
    queue: DataFrame,
    consumer: QueueConsumer,
    row_index_col: str,
    max_rows: int,
    partition_col: str | None = None,
    partition: int = 0,
) -> DataFrame:
    """PullQueueConsumer + AdvanceConsumer in one step (at-least-once:
    advance only after the batch is durably processed in real use).

    The consumer advances to ``max(row_index) + 1`` of the rows actually
    returned — NOT ``start + max_rows`` — so a short pull (fewer rows than
    requested) never skips indexes that a later producer may still fill;
    the reference's AdvanceConsumer derives the new offset from rows read
    (queue_client.h:136-143). On a multi-partition queue, ``partition_col``
    scopes both the pull and the offset to one partition ($tablet_index)."""
    start = consumer.offset(partition)
    batch = pull_queue(
        queue,
        row_index_col,
        start,
        max_rows,
        partition_col=partition_col,
        partition=partition,
    )
    hi = batch.agg(F.max(row_index_col).alias("hi")).first()["hi"]
    if hi is not None:
        consumer.advance(int(hi) + 1, partition)
    return batch


def trim_queue(
    queue: DataFrame,
    row_index_col: str,
    trim_up_to: int,
    partition_col: str | None = None,
    partition: int = 0,
) -> DataFrame:
    """TrimTable analog: drop rows with index < ``trim_up_to`` (rows every
    registered consumer has passed). With a partition column, only that
    partition trims — other tablets keep their rows."""
    below = F.col(row_index_col) < trim_up_to
    if partition_col is not None:
        below = below & (F.col(partition_col) == partition)
    return queue.filter(~below)


class ZombieEpochError(RuntimeError):
    """A fenced-out producer session tried to push (error code ZombieEpoch
    3102, yt/yt/client/queue_client/public.h:15): a newer ``create_session``
    for the same session id bumped the epoch, so this writer's pushes must
    be rejected to preserve exactly-once."""


class InvalidRowSequenceNumbersError(ValueError):
    """Sequence numbers inside one push batch must be strictly increasing
    (InvalidRowSequenceNumbers 3103, public.h:16)."""


# raised by the segment-write task that meets a repeated sequence number,
# and recognised in the failed write's error
_DUPLICATE_SEQ = "duplicate sequence numbers within one push batch"


class DurableQueue:
    """Ordered-table queue persisted as parquet segments under ``path``,
    with exactly-once producer sessions.

    Reference: producer sessions are identified by ``(session_id, epoch,
    sequence_number)`` (yt/yt/client/queue_client/public.h:38-40); a session
    is (re)created with ``CreateSession`` which returns the last acknowledged
    sequence number and a fresh epoch that fences zombie writers
    (producer_client.h:57-87). A push whose sequence numbers were already
    acknowledged is dropped silently — that replay-dedup is what makes
    retried pushes exactly-once.

    Spark re-expression: segments are append-only parquet directories named
    by the row-index range they cover; the atomically published manifest
    (``jsonio.publish_json``) carries the segment list, the
    next ``$row_index``, and per-session ``{epoch, last_seq}`` state. Reads
    union the manifested segments — a pull with a row-index range prunes to
    the overlapping segments via the manifest before any parquet IO, the
    same store-pruning a tablet pull does. At 100 TB the manifest stays tiny
    (one line per flush batch, compactable); row data never moves through
    the driver — only the pushed batch's DataFrame is written.
    """

    MANIFEST = "_queue.json"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- manifest (atomic publish, jsonio.publish_json) ----------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, self.MANIFEST)

    def _state(self) -> dict:
        return load_json(
            self._manifest_path,
            {"segments": [], "next_row_index": 0, "sessions": {}},
        )

    def _publish(self, state: dict) -> None:
        publish_json(self._manifest_path, state)

    # -- producer sessions ---------------------------------------------

    def create_session(self, session_id: str) -> "ProducerSession":
        """CreateSession (producer_client.h:83-87): bump the session epoch
        (fencing any still-running writer with the old epoch) and return
        the last acknowledged sequence number so the producer can resume
        exactly where it stopped."""
        state = self._state()
        sess = state["sessions"].get(session_id, {"epoch": -1, "last_seq": -1})
        sess = {"epoch": sess["epoch"] + 1, "last_seq": sess["last_seq"]}
        state["sessions"][session_id] = sess
        self._publish(state)
        return ProducerSession(self, session_id, sess["epoch"], sess["last_seq"])

    # -- reads ----------------------------------------------------------

    def read(self, lo: int | None = None, hi: int | None = None) -> DataFrame:
        """Union of manifested segments; a [lo, hi) row-index range prunes
        non-overlapping segments from the manifest before any parquet IO."""
        return self._read(self._state()["segments"], lo, hi)

    def _read(self, segs: list[dict], lo: int | None, hi: int | None) -> DataFrame:
        if lo is not None:
            segs = [s for s in segs if s["hi"] >= lo]
        if hi is not None:
            segs = [s for s in segs if s["lo"] < hi]
        if not segs:
            return self.spark.createDataFrame([], schema="`$row_index` long")
        df = read_parquet(
            self.spark, *[os.path.join(self.path, s["dir"]) for s in segs])
        if lo is not None:
            df = df.filter(F.col("$row_index") >= lo)
        if hi is not None:
            df = df.filter(F.col("$row_index") < hi)
        return df

    def pull(self, consumer: QueueConsumer, max_rows: int) -> DataFrame:
        """PullQueueConsumer + AdvanceConsumer on this queue: the rows in
        ``[offset, min(offset + max_rows, next_row_index))``. ``$row_index``
        is dense, so the manifest alone gives the new offset (the returned
        rows' max index + 1) and the pull runs no Spark job; a consumer at
        the end of the queue gets an empty frame and stays put."""
        state = self._state()
        lo = consumer.offset()
        hi = min(lo + max_rows, state["next_row_index"])
        batch = self._read(state["segments"], lo, hi)
        if hi > lo:
            consumer.advance(hi)
        return batch


@dataclass
class ProducerSession:
    """One producer's exactly-once write session (IProducerSession,
    producer_client.h:57-75). ``push_batch`` returns the number of rows
    actually appended — a full replay returns 0."""

    queue: DurableQueue
    session_id: str
    epoch: int
    last_seq: int

    def push_batch(self, rows: DataFrame, seq_col: str | None = None,
                   commit_ts: float | None = None) -> int:
        """Append ``rows`` once, even if the same batch is pushed again.

        With ``seq_col`` the caller supplies explicit sequence numbers
        (strictly increasing within the batch); without it, numbers are
        auto-assigned (AutoSequenceNumber, producer_client.h:37) in the
        batch's current order. Rows whose sequence number is <= the last
        acknowledged one are dropped (the replay-dedup); a session whose
        epoch was superseded raises ZombieEpochError.

        ``commit_ts`` stamps the segment's commit instant (unix seconds;
        defaults to the wall clock) — the analog of a chunk's max commit
        timestamp, which queue static exports group by
        (queue_exporter.cpp GetMinExportUnixTs).

        The batch is one producer flush (BatchOptions, producer_client.h:
        22-28) — bounded, so the seq ordering window below runs over one
        flush's rows, not the queue; segment data is written distributed.

        No Spark job runs before the segment write: one
        single-partition window ordered by sequence number gives each
        fresh row its ``$row_index`` (the running count of fresh rows) and
        flags a sequence number equal to the previous row's (two NULLs
        included; one NULL is allowed and, like every stale row, not
        written). A flagged row fails its task through ``raise_error``,
        the way Delta Lake enforces CHECK constraints inside the write; the
        staged directory is then removed and InvalidRowSequenceNumbersError
        raised. On a cluster the failing task is retried up to
        ``spark.task.maxFailures`` times before the push fails. The row
        count and the new high-water sequence number come from the written
        footers; a push that writes no row removes its staged directory
        and returns 0, leaving the manifest and ``last_seq`` unchanged.
        """
        from pyspark.sql import Window as W

        state = self.queue._state()
        sess = state["sessions"].get(self.session_id)
        if sess is None or sess["epoch"] != self.epoch:
            raise ZombieEpochError(
                f"session {self.session_id!r} epoch {self.epoch} fenced "
                f"(current: {None if sess is None else sess['epoch']})"
            )
        if seq_col is None:
            seq_col = "$sequence_number"
            w = W.orderBy(F.monotonically_increasing_id())
            rows = rows.withColumn(
                seq_col,
                F.row_number().over(w).cast("long") + self.last_seq,
            )
        else:
            rows = rows.withColumn(seq_col, F.col(seq_col).cast("long"))
        # The write answers every pre-write question: the window flags
        # repeated sequence numbers (the task raises) and numbers the
        # fresh rows; its footers give the row count and high-water.
        lo = state["next_row_index"]
        seq = F.col(seq_col)
        is_fresh = seq > self.last_seq  # NULL for a NULL sequence number
        by_seq = W.orderBy(seq_col)
        running = by_seq.rowsBetween(W.unboundedPreceding, W.currentRow)
        fresh = (
            rows.withColumn(
                "$row_index",
                F.count(F.when(is_fresh, 1)).over(running) + (lo - 1),
            )
            .withColumn(
                "__dup",
                (F.row_number().over(by_seq) > 1)
                & seq.eqNullSafe(F.lag(seq).over(by_seq)),
            )
            .filter(
                F.when(F.col("__dup"), F.raise_error(F.lit(_DUPLICATE_SEQ)))
                .otherwise(is_fresh)
            )
            .drop("__dup")
        )
        staged = os.path.join(self.queue.path, f"_staged_{uuid.uuid4().hex}")
        try:
            fresh.write.mode("overwrite").parquet(staged)
            footers = parquet_footers(staged)
        except Exception as e:
            shutil.rmtree(staged, ignore_errors=True)
            if _DUPLICATE_SEQ in str(e):
                raise InvalidRowSequenceNumbersError(_DUPLICATE_SEQ) from e
            raise
        n = sum(md.num_rows for md in footers)
        seq_range = footer_min_max(footers, seq_col)
        if n == 0 or seq_range is None:
            shutil.rmtree(staged, ignore_errors=True)
            if n:
                raise RuntimeError(
                    f"the pushed segment's footers have no {seq_col} "
                    "statistics"
                )
            return 0
        hi = lo + n - 1
        seg_dir = f"seg_{lo}_{hi}"
        seg_path = os.path.join(self.queue.path, seg_dir)
        shutil.rmtree(seg_path, ignore_errors=True)  # an unpublished leftover
        os.rename(staged, seg_path)
        record_parquet_schema(self.queue.spark, seg_path, fresh.schema)
        # Re-check the fence AFTER the (slow) write, right before publish:
        # a writer fenced mid-write must not land its manifest entry.
        latest = self.queue._state()
        cur = latest["sessions"].get(self.session_id)
        if cur is None or cur["epoch"] != self.epoch:
            raise ZombieEpochError(
                f"session {self.session_id!r} fenced during push"
            )
        latest["segments"].append({
            "dir": seg_dir, "lo": lo, "hi": hi,
            "ts": float(commit_ts if commit_ts is not None else time.time()),
        })
        latest["next_row_index"] = hi + 1
        self.last_seq = int(seq_range[1])
        latest["sessions"][self.session_id] = {
            "epoch": self.epoch,
            "last_seq": self.last_seq,
        }
        self.queue._publish(latest)
        return n


def with_row_index(df: DataFrame, order_by: list[str]) -> DataFrame:
    """Materialize a ``$row_index``-style column for a table that lacks one.

    Uses a global row_number window — acceptable for bounded snapshots;
    production ordered tables should persist the index at write time
    (the reference assigns it on commit, ordered_dynamic_store.cpp:288)."""
    from pyspark.sql import Window as W

    w = W.orderBy(*order_by)
    return df.withColumn("$row_index", F.row_number().over(w).cast("long") - 1)


def publish_changes(
    table,
    queue: DurableQueue,
    session_id: str,
    from_version: int | None = None,
    to_version: int | None = None,
) -> int:
    """Ship a LogTxTable's net row-image diff into a DurableQueue — the
    reference's replication-log/changelog delivery: row change records
    flow to consumers through an ordered queue, and the producer-session
    replay dedup makes redelivery exactly-once (a retried publish of the
    same version range appends nothing).

    Sequence numbers are DETERMINISTIC: ``to_version * 2^32 + rank``
    where rank orders the diff by its key columns — so the same diff
    always carries the same numbers (that is what the session's
    replay-dedup keys on), and diffs of later version ranges always sort
    after earlier ones. Returns the number of records actually appended.

    Consumer side: ``pull_queue``/``pull_and_advance`` deliver the change
    records in order; ``LogTxTable.apply_changes`` applies them (the
    other half of the CDC pair, sources/tx_table.py).

    Scale note: rank assignment is a single-partition window over the
    DIFF (not the table) — the same one-flush bound as push_batch's
    auto-sequencing; a publish is one producer flush by contract. For
    diffs beyond one flush, publish per key range (each range is its own
    deterministic record block).
    """
    from pyspark.sql import Window as W

    v2 = (
        to_version
        if to_version is not None
        else table.current_version()
    )
    diff = table.changes_between(
        from_version=from_version, to_version=v2
    )
    w = W.orderBy(*[F.col(c) for c in table.key_cols])
    records = diff.withColumn(
        "$sequence_number",
        (F.lit(int(v2) * (1 << 32)) + F.row_number().over(w)).cast("long"),
    )
    session = queue.create_session(session_id)
    return session.push_batch(records, seq_col="$sequence_number")
