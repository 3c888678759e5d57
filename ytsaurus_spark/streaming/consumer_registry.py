"""Queue consumer registrations: RegisterQueueConsumer /
UnregisterQueueConsumer / ListQueueConsumerRegistrations, consumer-offset
CAS advance, and the vital-consumer trim guarantee.

Reference semantics (yt/yt/client/api/queue_client.h:56-151):

- a CONSUMER is itself a cypress node holding per-partition offsets;
- consumers must be REGISTERED to a queue before PullQueueConsumer is
  allowed (queue_client.h:124 "requires … the consumer being registered");
  registrations carry a ``vital`` flag and an optional partition list;
- ``AdvanceConsumer(consumer, queue, partition, old_offset, new_offset)``
  is a compare-and-swap: with ``old_offset`` given, the advance fails if
  the stored offset moved (the transactional at-least-once handoff);
- VITAL consumers gate auto-trim: the queue agent never trims past the
  minimum offset of a vital registered consumer, so vital lag retains
  data (the reference's retention guarantee; non-vital consumers can
  lose unread rows to trimming).

Storage model: registrations live in the queue node's attribute sidecar;
consumer offsets live in the consumer node's sidecar — both O(consumers)
metadata, matching the reference's registration-table scale."""

from __future__ import annotations


class ConsumerRegistrationError(RuntimeError):
    pass


def _attrs(client, ypath: str) -> dict:
    from ytsaurus_spark.sources.formats import table_attributes

    return dict(table_attributes(client._fs(ypath)))


def _set_attrs(client, ypath: str, attrs: dict) -> None:
    from ytsaurus_spark.sources.formats import _write_attrs

    _write_attrs(client._fs(ypath), attrs)


def register_queue_consumer(
    client,
    queue_path: str,
    consumer_path: str,
    vital: bool = False,
    partitions: list[int] | None = None,
) -> None:
    if not client.exists(queue_path):
        raise ConsumerRegistrationError(f"no such queue: {queue_path}")
    if not client.exists(consumer_path):
        client.create("table", consumer_path, attributes={"treat_as_queue_consumer": True})
    attrs = _attrs(client, queue_path)
    regs = [
        r for r in attrs.get("consumer_registrations", [])
        if r["consumer"] != consumer_path
    ]
    regs.append(
        {"consumer": consumer_path, "vital": bool(vital), "partitions": partitions}
    )
    attrs["consumer_registrations"] = regs
    _set_attrs(client, queue_path, attrs)


def unregister_queue_consumer(client, queue_path: str, consumer_path: str) -> None:
    attrs = _attrs(client, queue_path)
    regs = attrs.get("consumer_registrations", [])
    kept = [r for r in regs if r["consumer"] != consumer_path]
    if len(kept) == len(regs):
        raise ConsumerRegistrationError(
            f"{consumer_path} is not registered for {queue_path}"
        )
    attrs["consumer_registrations"] = kept
    _set_attrs(client, queue_path, attrs)


def list_queue_consumer_registrations(
    client, queue_path: str | None = None, consumer_path: str | None = None
) -> list[dict]:
    """Filterable registration listing (TListQueueConsumerRegistrationsResult
    rows: queue, consumer, vital, partitions). With ``queue_path`` None,
    walks every queue node under the root (the cluster-wide listing)."""
    import os

    queues: list[str] = []
    if queue_path is not None:
        queues = [queue_path]
    else:
        for root, _dirs, files in os.walk(client.root):
            if "_yt_attrs.json" in files:
                rel = os.path.relpath(root, client.root)
                queues.append("//" + rel.replace(os.sep, "/"))
    out = []
    for q in queues:
        for r in _attrs(client, q).get("consumer_registrations", []):
            if consumer_path is not None and r["consumer"] != consumer_path:
                continue
            out.append(
                {
                    "queue": q,
                    "consumer": r["consumer"],
                    "vital": r["vital"],
                    "partitions": r["partitions"],
                }
            )
    return sorted(out, key=lambda r: (r["queue"], r["consumer"]))


def _registration(client, queue_path: str, consumer_path: str) -> dict:
    for r in _attrs(client, queue_path).get("consumer_registrations", []):
        if r["consumer"] == consumer_path:
            return r
    raise ConsumerRegistrationError(
        f"{consumer_path} is not registered for {queue_path} — "
        "PullQueueConsumer requires a registration (queue_client.h:124)"
    )


def consumer_offset(client, consumer_path: str, partition: int = 0) -> int:
    return int(
        _attrs(client, consumer_path).get("offsets", {}).get(str(partition), 0)
    )


def advance_consumer(
    client,
    consumer_path: str,
    queue_path: str,
    partition_index: int,
    old_offset: int | None,
    new_offset: int,
) -> None:
    """AdvanceConsumer with the reference's CAS contract: ``old_offset``
    (when given) must equal the stored offset or the advance fails;
    offsets are monotonic."""
    _registration(client, queue_path, consumer_path)
    attrs = _attrs(client, consumer_path)
    offsets = dict(attrs.get("offsets", {}))
    cur = int(offsets.get(str(partition_index), 0))
    if old_offset is not None and cur != old_offset:
        raise ConsumerRegistrationError(
            f"CAS failure: stored offset {cur} != expected {old_offset}"
        )
    if new_offset < cur:
        raise ConsumerRegistrationError(
            f"offset moves backwards ({cur} -> {new_offset})"
        )
    offsets[str(partition_index)] = int(new_offset)
    attrs["offsets"] = offsets
    _set_attrs(client, consumer_path, attrs)


def pull_queue_consumer(
    client,
    consumer_path: str,
    queue_path: str,
    offset: int | None,
    max_rows: int,
    row_index_col: str = "row_index",
    partition_index: int = 0,
    partition_col: str | None = None,
):
    """PullQueueConsumer: registration-checked pull; ``offset=None`` reads
    from the consumer's stored offset (the common tailing loop)."""
    from ytsaurus_spark.streaming.queues import pull_queue

    reg = _registration(client, queue_path, consumer_path)
    if reg["partitions"] is not None and partition_index not in reg["partitions"]:
        raise ConsumerRegistrationError(
            f"registration scopes partitions {reg['partitions']}, "
            f"pull asked for {partition_index}"
        )
    if offset is None:
        offset = consumer_offset(client, consumer_path, partition_index)
    if _attrs(client, queue_path).get("ordered"):
        # client-backed ORDERED dynamic table: the persisted $row_index
        # IS the queue offset — pull through the tablet-bounded read
        return client.pull_queue(
            queue_path, offset, max_rows, partition_index)
    queue = client.read_table(queue_path)
    return pull_queue(
        queue,
        row_index_col,
        offset,
        max_rows,
        partition_col=partition_col,
        partition=partition_index,
    )


def vital_trim_horizon(client, queue_path: str, partition: int = 0) -> int | None:
    """The queue agent's retention bound: the minimum stored offset over
    VITAL registered consumers (None = no vital consumers, trim freely).
    Auto-trim must never pass this row index."""
    vitals = [
        r["consumer"]
        for r in _attrs(client, queue_path).get("consumer_registrations", [])
        if r["vital"]
    ]
    if not vitals:
        return None
    return min(consumer_offset(client, c, partition) for c in vitals)


def trim_queue_safe(
    client,
    queue_path: str,
    trim_up_to: int,
    row_index_col: str = "row_index",
    partition: int = 0,
    partition_col: str | None = None,
) -> int:
    """Trim the queue, CLAMPED to the vital-consumer horizon — the
    reference's guarantee that vital lag retains data. Returns the
    effective trim point."""
    from ytsaurus_spark.streaming.queues import trim_queue

    horizon = vital_trim_horizon(client, queue_path, partition)
    effective = trim_up_to if horizon is None else min(trim_up_to, horizon)
    trimmed = trim_queue(
        client.read_table(queue_path),
        row_index_col,
        effective,
        partition_col=partition_col,
        partition=partition,
    )
    client.write_table(queue_path, trimmed)
    return effective
