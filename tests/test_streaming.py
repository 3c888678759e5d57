"""Structured Streaming tests: watermarked windows with late data, stateful
applyInPandasWithState, exactly-once foreachBatch, queue consumer replay.
Mirrors the reference's queue/consumer integration tests
(yt/yt/tests/integration/queues/) on Spark's streaming machinery.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from ytsaurus_spark.streaming.queues import QueueConsumer, pull_and_advance, with_row_index
from ytsaurus_spark.streaming.stateful import idempotent_batch_writer, running_counter

EVENTS_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, value double"


def _write_events(spark, path, rows):
    import datetime as _dt

    rows = [
        (e, _dt.datetime.fromisoformat(ts), u, v) for (e, ts, u, v) in rows
    ]
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


@pytest.fixture()
def stream_dir():
    with tempfile.TemporaryDirectory() as d:
        yield d


def test_watermark_tumbling_with_late_data(spark, stream_dir):
    src_dir = os.path.join(stream_dir, "src")
    _write_events(
        spark,
        src_dir,
        [
            (1, "2024-01-01 10:05:00", 1, 1.0),
            (2, "2024-01-01 10:20:00", 1, 2.0),
            (3, "2024-01-01 11:40:00", 2, 3.0),   # advances watermark past 10:xx
            (4, "2024-01-01 10:10:00", 1, 9.0),   # late but within tolerance? no: wm=10:40
        ],
    )
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wm_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.ws: r.n for r in spark.table("wm_out").collect()}
    finally:
        q.stop()
    # all 4 events within watermark tolerance at arrival -> both windows count
    assert got["2024-01-01 10:00:00"] == 3
    assert got["2024-01-01 11:00:00"] == 1


def test_apply_in_pandas_with_state(spark, stream_dir):
    src_dir = os.path.join(stream_dir, "src")
    _write_events(
        spark,
        src_dir,
        [(1, "2024-01-01 10:00:00", 1, 1.0), (2, "2024-01-01 10:01:00", 1, 2.5),
         (3, "2024-01-01 10:02:00", 2, 4.0)],
    )
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    fn, out_schema, state_schema = running_counter(src, "user_id")
    out = src.groupBy("user_id").applyInPandasWithState(
        fn,
        T._parse_datatype_string(out_schema),
        T._parse_datatype_string(state_schema),
        "append",
        GroupStateTimeout.NoTimeout,
    )
    q = out.writeStream.format("memory").queryName("state_out").start()
    try:
        q.processAllAvailable()
        got = {r.user_id: (r.n, r.total) for r in spark.table("state_out").collect()}
    finally:
        q.stop()
    assert got[1] == (2, 3.5)
    assert got[2] == (1, 4.0)


def test_foreach_batch_idempotent(spark, stream_dir):
    src_dir = os.path.join(stream_dir, "src")
    _write_events(spark, src_dir, [(1, "2024-01-01 10:00:00", 1, 1.0)])
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    sunk: list[tuple[int, int]] = []
    writer = idempotent_batch_writer(lambda df, epoch: sunk.append((epoch, df.count())))
    q = src.writeStream.foreachBatch(writer).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # replaying the same epoch through the wrapper is a no-op
    epochs = [e for e, _ in sunk]
    assert len(epochs) == len(set(epochs))
    assert sum(n for _, n in sunk) == 1


def test_queue_consumer_replay(spark):
    import datetime as _dt

    ev = spark.createDataFrame(
        [
            (i, _dt.datetime(2024, 1, 1, 10, i, 0), 1, float(i))
            for i in range(10)
        ],
        EVENTS_SCHEMA,
    )
    q = with_row_index(ev, ["event_id"])
    c = QueueConsumer("c1")
    b1 = pull_and_advance(q, c, "$row_index", 4)
    assert [r.event_id for r in b1.orderBy("event_id").collect()] == [0, 1, 2, 3]
    assert c.offset() == 4
    b2 = pull_and_advance(q, c, "$row_index", 4)
    assert [r.event_id for r in b2.orderBy("event_id").collect()] == [4, 5, 6, 7]
    # replay-from-anywhere: a second consumer reads the same rows again
    c2 = QueueConsumer("c2")
    again = pull_and_advance(q, c2, "$row_index", 4)
    assert [r.event_id for r in again.orderBy("event_id").collect()] == [0, 1, 2, 3]
    with pytest.raises(ValueError):
        c.advance(0)


def test_queue_multi_partition_pull(spark):
    """$tablet_index-style partitioned queue: per-partition offsets."""
    import datetime as _dt

    from ytsaurus_spark.streaming.queues import QueueConsumer, pull_queue

    rows = [
        (i, _dt.datetime(2024, 1, 1, 10, 0, i % 60), i % 2, float(i))
        for i in range(20)
    ]
    q = spark.createDataFrame(rows, EVENTS_SCHEMA).withColumn(
        "$tablet_index", F.col("user_id").cast("int")
    )
    # row index within each tablet = event order per partition
    from pyspark.sql import Window as W

    q = q.withColumn(
        "$row_index",
        F.row_number().over(
            W.partitionBy("$tablet_index").orderBy("event_id")
        ).cast("long") - 1,
    )
    c = QueueConsumer("mp")
    b0 = pull_queue(q, "$row_index", c.offset(0), 3, "$tablet_index", 0)
    b1 = pull_queue(q, "$row_index", c.offset(1), 3, "$tablet_index", 1)
    c.advance(3, 0)
    c.advance(3, 1)
    assert [r.event_id for r in b0.orderBy("event_id").collect()] == [0, 2, 4]
    assert [r.event_id for r in b1.orderBy("event_id").collect()] == [1, 3, 5]
    assert c.offset(0) == 3 and c.offset(1) == 3


def test_flow_pipeline_batch_and_stream_resume(spark, stream_dir):
    from ytsaurus_spark.streaming.flow import FlowPipeline

    src = os.path.join(stream_dir, "src")
    sink = os.path.join(stream_dir, "sink")
    ckpt = os.path.join(stream_dir, "ckpt")
    _write_events(spark, src, [(1, "2024-01-01 10:00:00", 1, 2.0),
                               (2, "2024-01-01 10:01:00", 2, 3.0)])

    def enrich(df):
        return df.withColumn("v2", F.col("value") * 2)

    def keep_big(df):
        return df.filter(F.col("v2") >= 5.0)

    pipe = FlowPipeline(
        spark, src, EVENTS_SCHEMA, sink, ckpt
    ).map(enrich).map(keep_big)

    # streaming pass 1: only event 2 (v2=6) survives
    pipe.run_stream()
    assert [r.event_id for r in spark.read.parquet(sink).collect()] == [2]
    # append new files; restart resumes from the checkpoint (no reprocess)
    _write_events(spark, src, [(3, "2024-01-01 10:02:00", 1, 9.0)])
    pipe.run_stream()
    got = sorted(r.event_id for r in spark.read.parquet(sink).collect())
    assert got == [2, 3]  # event 2 not duplicated, event 3 picked up
    # batch mode over the same pipeline definition
    n = pipe.run_batch()
    assert n == 2


def test_stream_stream_interval_join(spark, stream_dir):
    """Stream-stream join with watermarks: purchases join clicks by user
    within a 10-minute lookback — the streaming join the reference's Flow
    pipelines compose from YtflowMap state."""
    src = os.path.join(stream_dir, "ss")
    _write_events(
        spark,
        src,
        [
            (1, "2024-01-01 10:00:00", 1, 1.0),   # click
            (2, "2024-01-01 10:05:00", 1, 50.0),  # purchase, 5m later -> joins
            (3, "2024-01-01 11:00:00", 1, 2.0),   # click
            (4, "2024-01-01 11:30:00", 1, 70.0),  # purchase, 30m later -> no join
        ],
    )
    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    clicks = events.filter(F.col("event_id") % 2 == 1).select(
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("c_ts", "1 hour")
    purchases = events.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    ).withWatermark("ts", "1 hour")
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_uid"))
        & (F.col("c_ts") <= F.col("ts"))
        & (F.col("c_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("purchase_id", "click_id")
    q = joined.writeStream.format("memory").queryName("ss_out").start()
    try:
        q.processAllAvailable()
        got = {(r.purchase_id, r.click_id) for r in spark.table("ss_out").collect()}
    finally:
        q.stop()
    assert got == {(2, 1)}


def test_run_reduce_batched_single_giant_group(spark):
    """Carry-buffer correctness: one key spanning many Arrow batches must
    reach the batch reducer whole, exactly once."""
    import pandas as pd

    from ytsaurus_spark.operators import map_reduce as mr

    n = 200_000  # >> 65536 Arrow batch size -> the group spans 4+ batches
    df = spark.range(n).select(
        F.lit(1).alias("k"), F.col("id").alias("v")
    ).union(
        spark.range(10).select(F.lit(2).alias("k"), F.col("id").alias("v"))
    )

    def batch_reducer(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby("k", sort=False)
        return g.agg(n=("v", "size"), sv=("v", "sum")).reset_index()

    out = mr.run_reduce_batched(
        df, ["k"], batch_reducer, "k bigint, n bigint, sv bigint"
    )
    got = {r.k: (r.n, r.sv) for r in out.collect()}
    assert got[1] == (n, n * (n - 1) // 2)
    assert got[2] == (10, 45)


def test_trim_queue(spark):
    import datetime as _dt

    from ytsaurus_spark.streaming.queues import trim_queue, with_row_index

    ev = spark.createDataFrame(
        [(i, _dt.datetime(2024, 1, 1, 10, i, 0), 1, float(i)) for i in range(10)],
        EVENTS_SCHEMA,
    )
    q = with_row_index(ev, ["event_id"])
    trimmed = trim_queue(q, "$row_index", 6)
    assert sorted(r.event_id for r in trimmed.collect()) == [6, 7, 8, 9]


def test_queue_to_txtable_durable_pipeline(spark, stream_dir):
    """End-to-end: pull a queue in batches, fold each batch into a DURABLE
    transactional keyed table; final state == batch aggregate, and every
    intermediate version is time-travel readable."""
    import datetime as _dt

    from ytsaurus_spark.sources.tx_table import LogTxTable
    from ytsaurus_spark.streaming.queues import QueueConsumer, pull_and_advance

    ev = spark.createDataFrame(
        [(i, _dt.datetime(2024, 1, 1, 10, 0, i), i % 3, float(i)) for i in range(30)],
        EVENTS_SCHEMA,
    )
    t = LogTxTable(
        spark,
        os.path.join(stream_dir, "agg"),
        key_cols=["user_id"],
        aggregates={"n": "sum", "total": "sum"},
    )
    t.init(
        spark.createDataFrame([], "user_id bigint, n bigint, total double")
    )
    consumer = QueueConsumer("durable")
    for _ in range(3):
        batch = pull_and_advance(ev, consumer, "event_id", 10)
        t.insert_rows(
            batch.select(
                "user_id",
                F.lit(1).cast("long").alias("n"),
                F.col("value").alias("total"),
            )
        )
    final = {r.user_id: (r.n, r.total) for r in t.read().collect()}
    expect = {
        r.user_id: (r.n, r.total)
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert final == expect
    # versions: v0 empty, v1 after first batch of 10
    assert t.read(0).count() == 0
    assert sum(r.n for r in t.read(1).collect()) == 10


def test_match_recognize_stream_state_across_batches(spark, stream_dir):
    """Streaming MATCH_RECOGNIZE: a pattern started in batch 1 completes in
    batch 2 via carried state; completed matches emit exactly once."""
    from ytsaurus_spark.operators.match_recognize import match_recognize_stream

    src_dir = os.path.join(stream_dir, "src")
    # user 1: view(v) add(a) in batch 1 ... buy(b) in batch 2 -> one "vab"
    # user 2: full "vab" within batch 1
    _write_events(
        spark,
        src_dir,
        [
            (1, "2024-01-01 10:00:00", 1, 1.0),   # v  (value<=2)
            (2, "2024-01-01 10:01:00", 1, 3.0),   # a  (2<value<=4)
            (3, "2024-01-01 10:00:00", 2, 1.0),   # v
            (4, "2024-01-01 10:01:00", 2, 3.0),   # a
            (5, "2024-01-01 10:02:00", 2, 9.0),   # b  (value>4)
        ],
    )
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    out = match_recognize_stream(
        src,
        partition_by=["user_id"],
        order_col="event_id",
        symbols=[
            ("v", F.col("value") <= 2),
            ("a", (F.col("value") > 2) & (F.col("value") <= 4)),
            ("b", F.col("value") > 4),
        ],
        pattern="vab",
    )
    q = out.writeStream.format("memory").queryName("mr_stream").start()
    try:
        q.processAllAvailable()
        got1 = [(r.user_id, r.match_seq) for r in spark.table("mr_stream").collect()]
        assert got1 == [(2, "vab")]  # user 1 still pending in state
        # batch 2 completes user 1's match and starts+completes another for 2
        _write_events(
            spark,
            src_dir,
            [
                (6, "2024-01-01 10:03:00", 1, 9.0),   # b -> completes v,a
                (7, "2024-01-01 10:03:00", 2, 1.5),   # v
                (8, "2024-01-01 10:04:00", 2, 2.5),   # a
                (9, "2024-01-01 10:05:00", 2, 5.0),   # b -> second match
            ],
        )
        q.processAllAvailable()
        got2 = sorted(
            (r.user_id, r.match_seq) for r in spark.table("mr_stream").collect()
        )
        assert got2 == [(1, "vab"), (2, "vab"), (2, "vab")]
    finally:
        q.stop()


def test_match_recognize_stream_shared_bucket_isolated_state(spark, stream_dir):
    """Bucketed state co-location: with key_buckets=1 EVERY key shares one
    state group, and per-key buffers must still be isolated — a match
    completing for one key must not consume or corrupt another key's
    pending buffer across batches."""
    from ytsaurus_spark.operators.match_recognize import match_recognize_stream

    src_dir = os.path.join(stream_dir, "src")
    # batch 1: user 1 pending "va", user 2 pending "v", user 3 full "vab"
    _write_events(
        spark,
        src_dir,
        [
            (1, "2024-01-01 10:00:00", 1, 1.0),   # v (value<=2)
            (2, "2024-01-01 10:01:00", 1, 3.0),   # a (2<value<=4)
            (3, "2024-01-01 10:00:00", 2, 1.0),   # v
            (4, "2024-01-01 10:00:00", 3, 1.0),   # v
            (5, "2024-01-01 10:01:00", 3, 3.0),   # a
            (6, "2024-01-01 10:02:00", 3, 9.0),   # b -> match in batch 1
        ],
    )
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    out = match_recognize_stream(
        src,
        partition_by=["user_id"],
        order_col="event_id",
        symbols=[
            ("v", F.col("value") <= 2),
            ("a", (F.col("value") > 2) & (F.col("value") <= 4)),
            ("b", F.col("value") > 4),
        ],
        pattern="vab",
        key_buckets=1,
    )
    q = out.writeStream.format("memory").queryName("mr_bucket1").start()
    try:
        q.processAllAvailable()
        got1 = sorted(
            (r.user_id, r.match_seq) for r in spark.table("mr_bucket1").collect()
        )
        assert got1 == [(3, "vab")]
        # batch 2: user 1's b completes its carried "va"; user 2's a keeps
        # it pending — its buffer must have survived user 3's batch-1 match
        _write_events(
            spark,
            src_dir,
            [
                (7, "2024-01-01 10:03:00", 1, 9.0),   # b -> completes user 1
                (8, "2024-01-01 10:03:00", 2, 3.0),   # a -> user 2 still pending
            ],
        )
        q.processAllAvailable()
        got2 = sorted(
            (r.user_id, r.match_seq) for r in spark.table("mr_bucket1").collect()
        )
        assert got2 == [(1, "vab"), (3, "vab")]
        # batch 3: user 2 completes from its two-batch-old carried prefix
        _write_events(spark, src_dir, [(9, "2024-01-01 10:04:00", 2, 9.0)])
        q.processAllAvailable()
        got3 = sorted(
            (r.user_id, r.match_seq) for r in spark.table("mr_bucket1").collect()
        )
        assert got3 == [(1, "vab"), (2, "vab"), (3, "vab")]
    finally:
        q.stop()


def test_time_order_recover_reorders_within_delay(spark, stream_dir):
    from ytsaurus_spark.streaming.stateful import time_order_recover

    src_dir = os.path.join(stream_dir, "oo")
    schema = "user_id bigint, ts_us bigint, event_id bigint, value double"
    # batch 1: out-of-order arrivals 100, 40, 70 (delay 30 -> horizon 70)
    spark.createDataFrame(
        [(1, 100, 10, 1.0), (1, 40, 11, 2.0), (1, 70, 12, 3.0)], schema
    ).coalesce(1).write.mode("append").parquet(src_dir)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    fn, out_schema, state_schema = time_order_recover(
        "user_id", ts_col="ts_us", delay_us=30
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        fn,
        T._parse_datatype_string(out_schema),
        T._parse_datatype_string(state_schema),
        "append",
        GroupStateTimeout.NoTimeout,
    )
    q = out.writeStream.format("memory").queryName("oo_out").start()
    try:
        q.processAllAvailable()
        first = [(r.ts_us, r.emit_seq) for r in
                 spark.table("oo_out").orderBy("emit_seq").collect()]
        # 100 stays buffered (inside delay); 40, 70 emit in EVENT-TIME order
        assert first == [(40, 0), (70, 1)]
        # batch 2 advances max ts to 130 -> horizon 100 releases 90 and 100
        spark.createDataFrame(
            [(1, 130, 13, 4.0), (1, 90, 14, 5.0)], schema
        ).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        rows = [(r.ts_us, r.emit_seq) for r in
                spark.table("oo_out").orderBy("emit_seq").collect()]
        assert rows == [(40, 0), (70, 1), (90, 2), (100, 3)]
    finally:
        q.stop()


# -- exactly-once producer sessions (producer_client.h:57-87) -------------


def test_producer_session_exactly_once_and_fencing(spark, stream_dir):
    from ytsaurus_spark.streaming.queues import (
        DurableQueue,
        InvalidRowSequenceNumbersError,
        ZombieEpochError,
    )

    q = DurableQueue(spark, os.path.join(stream_dir, "q"))
    rows = spark.range(10).select(
        F.col("id").alias("seq"), (F.col("id") * 2).alias("payload")
    )
    s1 = q.create_session("sess")
    assert s1.epoch == 0 and s1.last_seq == -1
    assert s1.push_batch(rows, seq_col="seq") == 10
    # replay of the same batch appends nothing
    assert s1.push_batch(rows, seq_col="seq") == 0
    assert q.read().count() == 10

    # recreate: epoch bumps, last_seq resumes; the old session is fenced
    s2 = q.create_session("sess")
    assert s2.epoch == 1 and s2.last_seq == 9
    with pytest.raises(ZombieEpochError):
        s1.push_batch(rows, seq_col="seq")

    # overlapping push from the resumed session lands only the fresh tail
    more = spark.range(5, 15).select(
        F.col("id").alias("seq"), (F.col("id") * 2).alias("payload")
    )
    assert s2.push_batch(more, seq_col="seq") == 5
    got = q.read()
    assert got.count() == 15
    # $row_index is dense 0..14 and ordered like seq
    idx = [r["$row_index"] for r in got.orderBy("seq").collect()]
    assert idx == list(range(15))

    # duplicate seqs inside one batch are rejected
    dup = spark.createDataFrame([(100, 1), (100, 2)], "seq long, payload long")
    with pytest.raises(InvalidRowSequenceNumbersError):
        s2.push_batch(dup, seq_col="seq")


def test_producer_session_auto_sequence_and_range_read(spark, stream_dir):
    from ytsaurus_spark.streaming.queues import DurableQueue

    q = DurableQueue(spark, os.path.join(stream_dir, "q2"))
    s = q.create_session("auto")
    a = spark.createDataFrame([(x,) for x in "abc"], "v string")
    b = spark.createDataFrame([(x,) for x in "de"], "v string")
    assert s.push_batch(a) == 3
    assert s.push_batch(b) == 2
    # seq continued across batches: a second auto push of 2 rows follows 3
    assert s.last_seq == 4
    # range read prunes to the covering segment(s) via the manifest
    mid = q.read(lo=1, hi=4).orderBy("$row_index")
    assert [r["v"] for r in mid.collect()] == ["b", "c", "d"]


def test_producer_session_random_walk_matches_model(spark, stream_dir):
    """Model-based randomized check (the reference's systest style): a
    seeded walk of pushes, replays, overlapping retries, and session
    recreations must leave the queue holding each sequence number exactly
    once — the exactly-once invariant under any interleaving."""
    import random

    from ytsaurus_spark.streaming.queues import DurableQueue, ZombieEpochError

    rng = random.Random(20260814)
    q = DurableQueue(spark, os.path.join(stream_dir, "walk"))
    session = q.create_session("walk")
    stale = None
    model_max_seq = -1

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("seq"), (F.col("id") * 7).alias("payload")
        )

    for _ in range(12):
        op = rng.choice(["fresh", "replay", "overlap", "recreate", "zombie"])
        if op == "fresh":
            n = rng.randint(1, 40)
            lo, hi = model_max_seq + 1, model_max_seq + 1 + n
            assert session.push_batch(batch(lo, hi), seq_col="seq") == n
            model_max_seq = hi - 1
        elif op == "replay" and model_max_seq >= 0:
            lo = rng.randint(0, model_max_seq)
            assert (
                session.push_batch(batch(lo, model_max_seq + 1), seq_col="seq")
                == 0
            )
        elif op == "overlap" and model_max_seq >= 0:
            lo = rng.randint(0, model_max_seq)
            n_new = rng.randint(1, 20)
            hi = model_max_seq + 1 + n_new
            assert (
                session.push_batch(batch(lo, hi), seq_col="seq") == n_new
            )
            model_max_seq = hi - 1
        elif op == "recreate":
            stale = session
            session = q.create_session("walk")
            assert session.last_seq == model_max_seq
        elif op == "zombie" and stale is not None:
            with pytest.raises(ZombieEpochError):
                stale.push_batch(batch(0, 1), seq_col="seq")

    got = q.read()
    seqs = sorted(r["seq"] for r in got.collect())
    assert seqs == list(range(model_max_seq + 1)), "gaps or duplicates"
    # payloads intact and row indexes dense
    assert got.filter(F.col("payload") != F.col("seq") * 7).count() == 0
    idx = sorted(r["$row_index"] for r in got.collect())
    assert idx == list(range(model_max_seq + 1))


def test_rocksdb_state_store_matches_default(spark, sf_dir):
    """Large-state streaming backend: the RocksDB state store provider
    (disk-backed, the 100 TB-state answer to the in-memory HDFS-backed
    default) produces identical results on a stateful dedup. At cluster
    scale this is the difference between state that must fit in executor
    heap and state bounded only by local disk."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema

    def run(name):
        src = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        agg = src.withWatermark("ts", "1 hour").dropDuplicates(
            ["user_id", "event_type"]
        )
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                agg.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return {
            (r.user_id, r.event_type, r.event_id)
            for r in spark.table(name).collect()
        }

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    default_rows = run("state_default_out")
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        rocks_rows = run("state_rocks_out")
    finally:
        if old:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert rocks_rows == default_rows and len(rocks_rows) > 0



def test_publish_changes_exactly_once(spark, tmp_path):
    from ytsaurus_spark.sources.tx_table import LogTxTable
    from ytsaurus_spark.streaming.queues import DurableQueue, publish_changes

    src = LogTxTable(spark, str(tmp_path / "cdcq_src"), key_cols=["k"])
    v0 = src.init(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    src.insert_rows(spark.createDataFrame([(1, 11), (3, 30)], "k long, v long"))
    v2 = src.delete_rows(spark.createDataFrame([(2,)], "k long"))

    q = DurableQueue(spark, str(tmp_path / "cdcq"))
    n = publish_changes(src, q, "repl", from_version=v0, to_version=v2)
    assert n == 3  # update k=1, insert k=3, delete k=2
    got = {r["k"]: r["change"] for r in q.read().collect()}
    assert got == {1: "update", 3: "insert", 2: "delete"}

    # retried publish of the same range: replay-dedup appends nothing
    assert publish_changes(src, q, "repl", from_version=v0, to_version=v2) == 0
    assert q.read().count() == 3

    # a later range appends only its own records
    src.insert_rows(spark.createDataFrame([(4, 40)], "k long, v long"))
    assert publish_changes(src, q, "repl", from_version=v2) == 1
    assert q.read().count() == 4


def test_cusum_monitor_fold_matches_reset_identity():
    """The stateful fold s=max(0, s+d) equals cum - least(0, min-prefix-cum),
    and state carries the fold across calls (micro-batches)."""
    import pandas as pd

    from ytsaurus_spark.streaming.stateful import cusum_monitor

    fn, out_schema, state_schema = cusum_monitor(
        "k", order_col="oid", val_col="x", reference=10, threshold=15
    )

    class StubState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, v

    state = StubState()
    xs = [5, 30, 2, 40, 1, 1, 50]  # d = x-10: -5,20,-8,30,-9,-9,40
    batch1 = pd.DataFrame({"oid": [0, 1, 2], "x": xs[:3]})
    batch2 = pd.DataFrame({"oid": [3, 4, 5, 6], "x": xs[3:]})
    out1 = list(fn(("a",), iter([batch1]), state))[0]
    out2 = list(fn(("a",), iter([batch2]), state))[0]
    got = list(out1.s) + list(out2.s)

    # reference: the batch reset identity over the whole series
    cum, mn, want = 0, 0, []
    for x in xs:
        cum += x - 10
        mn = min(mn, cum)
        want.append(cum - min(0, mn))
    assert got == want
    assert list(out2.alarm) == [s > 15 for s in got[3:]]
    assert state.get[1] == len(xs)  # n carried across batches


# --- consumer registrations (queue_client.h:56-151) -------------------------


def test_consumer_registration_lifecycle(spark, tmp_path):
    import pytest

    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.streaming import consumer_registry as cr

    c = YtClient(root=str(tmp_path / "q"), spark=spark)
    q = spark.createDataFrame(
        [(i, f"m{i}") for i in range(10)], "row_index bigint, payload string"
    )
    c.write_table("//queues/events", q)

    # pull before registration is refused (queue_client.h:124)
    with pytest.raises(cr.ConsumerRegistrationError):
        cr.pull_queue_consumer(c, "//consumers/a", "//queues/events", None, 5)

    cr.register_queue_consumer(c, "//queues/events", "//consumers/a", vital=True)
    cr.register_queue_consumer(
        c, "//queues/events", "//consumers/b", vital=False, partitions=[0]
    )
    regs = cr.list_queue_consumer_registrations(c, "//queues/events")
    assert [(r["consumer"], r["vital"]) for r in regs] == [
        ("//consumers/a", True),
        ("//consumers/b", False),
    ]
    # cluster-wide + by-consumer filters
    assert cr.list_queue_consumer_registrations(c) == regs
    assert cr.list_queue_consumer_registrations(
        c, consumer_path="//consumers/b"
    )[0]["consumer"] == "//consumers/b"

    # stored-offset pull + CAS advance
    batch = cr.pull_queue_consumer(c, "//consumers/a", "//queues/events", None, 4)
    assert [r.row_index for r in batch.orderBy("row_index").collect()] == [0, 1, 2, 3]
    cr.advance_consumer(c, "//consumers/a", "//queues/events", 0, 0, 4)
    assert cr.consumer_offset(c, "//consumers/a") == 4
    with pytest.raises(cr.ConsumerRegistrationError):  # CAS mismatch
        cr.advance_consumer(c, "//consumers/a", "//queues/events", 0, 0, 6)
    with pytest.raises(cr.ConsumerRegistrationError):  # backwards
        cr.advance_consumer(c, "//consumers/a", "//queues/events", 0, 4, 2)
    nxt = cr.pull_queue_consumer(c, "//consumers/a", "//queues/events", None, 2)
    assert [r.row_index for r in nxt.orderBy("row_index").collect()] == [4, 5]

    # unregister forbids further pulls
    cr.unregister_queue_consumer(c, "//queues/events", "//consumers/b")
    with pytest.raises(cr.ConsumerRegistrationError):
        cr.pull_queue_consumer(c, "//consumers/b", "//queues/events", None, 1)


def test_vital_consumer_gates_trim(spark, tmp_path):
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.streaming import consumer_registry as cr

    c = YtClient(root=str(tmp_path / "q2"), spark=spark)
    q = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "row_index bigint, v bigint"
    )
    c.write_table("//queues/t", q)
    cr.register_queue_consumer(c, "//queues/t", "//consumers/vital", vital=True)
    cr.register_queue_consumer(c, "//queues/t", "//consumers/lazy", vital=False)
    cr.advance_consumer(c, "//consumers/vital", "//queues/t", 0, None, 7)
    cr.advance_consumer(c, "//consumers/lazy", "//queues/t", 0, None, 3)

    # horizon = the VITAL consumer's offset; the lazy one doesn't gate
    assert cr.vital_trim_horizon(c, "//queues/t") == 7
    eff = cr.trim_queue_safe(c, "//queues/t", trim_up_to=15)
    assert eff == 7  # clamped: vital lag retains data
    remaining = c.read_table("//queues/t")
    assert remaining.count() == 13
    assert remaining.agg(F.min("row_index")).collect()[0][0] == 7


def test_queue_static_export(spark, tmp_path):
    """Queue static exports (queue_exporter.cpp; pinned to
    test_queue_agent.py::test_multicell_export/test_table_name_formatting/
    test_export_retries semantics)."""
    import json
    import os

    import pytest

    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.streaming.queue_export import (
        QueueStaticExporter,
        format_export_table_name,
    )
    from ytsaurus_spark.streaming.queues import DurableQueue

    # name pattern expansion (config.h:76-85 specifiers)
    assert format_export_table_name("%UNIX_TS-%PERIOD", 900, 300) == "900-300"
    assert format_export_table_name(
        "%ISO-period-is-%PERIOD-fmt-%Y.%m.%d", 3600, 3
    ) == "1970-01-01T01:00:00Z-period-is-3-fmt-1970.01.01"

    q = DurableQueue(spark, str(tmp_path / "q"))
    s = q.create_session("w")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "seq bigint, v string")
    s.push_batch(df, seq_col="seq", commit_ts=905)
    client = YtClient(root=str(tmp_path / "yt"), spark=spark)

    # upper-bound naming: the table named 1200 covers [900, 1200)
    exp = QueueStaticExporter(
        q, client, "//exp/up", 300, use_upper_bound_for_table_names=True,
        export_ttl=600,
    )
    created = exp.export_task(now=1500)
    assert [p.rsplit("/", 1)[-1] for p in created] == ["1200-300"]
    assert client.read_table(created[0]).count() == 2
    # TTL landed as an expiration attribute
    assert client.get(created[0] + "/@expiration_time").startswith("1970-01-01")

    # progress is durable and idempotent
    assert exp.export_task(now=1500) == []
    prog = exp.get_export_progress()
    assert prog["last_export_unix_ts"] == 1200
    assert prog["tables"]["1200-300"]["rows"] == 2

    # retry discipline: a pre-existing output table raises and progress
    # does NOT advance past it (config.h:82-84)
    s.push_batch(
        spark.createDataFrame([(3, "c")], "seq bigint, v string"),
        seq_col="seq", commit_ts=1250,
    )
    client.write_table(
        "//exp/up/1500-300",
        spark.createDataFrame([(99, "x")], "seq bigint, v string"),
    )
    with pytest.raises(ValueError, match="already exists"):
        exp.export_task(now=1800)
    assert exp.get_export_progress()["last_export_unix_ts"] == 1200
    # operator removes the conflict -> next pass succeeds
    client.remove("//exp/up/1500-300", recursive=True)
    assert [p.rsplit("/", 1)[-1] for p in exp.export_task(now=1800)] == [
        "1500-300"]

    # a second export of the same queue keeps independent progress
    exp2 = QueueStaticExporter(q, client, "//exp/low", 300)
    names = [p.rsplit("/", 1)[-1] for p in exp2.export_task(now=1800)]
    assert names == ["900-300", "1200-300"]  # lower-bound naming


def test_queue_export_orphan_adoption(spark, tmp_path):
    """A crash between write_table and the progress commit leaves the
    slot's table on disk with progress unadvanced. The next pass must
    ADOPT the exporter's own orphan (the 'pending' marker proves
    ownership) instead of wedging forever; a foreign collision — no
    pending record — still raises (queue_exporter.cpp retry discipline)."""
    import pytest

    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.streaming.queue_export import QueueStaticExporter
    from ytsaurus_spark.streaming.queues import DurableQueue

    q = DurableQueue(spark, str(tmp_path / "q"))
    s = q.create_session("w")
    s.push_batch(
        spark.createDataFrame([(1, "a"), (2, "b")], "seq bigint, v string"),
        seq_col="seq", commit_ts=905,
    )
    client = YtClient(root=str(tmp_path / "yt"), spark=spark)
    exp = QueueStaticExporter(q, client, "//exp/orph", 300)

    # simulate the crash: table created+written (partially, even) with
    # the pass token stamped, pending marker published, progress NOT
    # advanced
    client.create("table", "//exp/orph/900-300",
                  attributes={"queue_export_token": "tok-905"})
    client.write_table(
        "//exp/orph/900-300",
        spark.createDataFrame([(1, "a")], "seq bigint, v string"),
    )
    prog = exp.get_export_progress()
    prog["pending"] = {"slot_end": 1200, "name": "900-300",
                       "token": "tok-905"}
    exp._publish(prog)

    created = exp.export_task(now=1500)
    assert [p.rsplit("/", 1)[-1] for p in created] == ["900-300"]
    assert client.read_table(created[0]).count() == 2  # full re-export
    prog = exp.get_export_progress()
    assert prog["last_export_unix_ts"] == 1200
    assert "pending" not in prog

    # foreign collision: table exists but no pending marker -> raise
    s.push_batch(
        spark.createDataFrame([(3, "c")], "seq bigint, v string"),
        seq_col="seq", commit_ts=1250,
    )
    client.write_table(
        "//exp/orph/1200-300",
        spark.createDataFrame([(99, "x")], "seq bigint, v string"),
    )
    with pytest.raises(ValueError, match="already exists"):
        exp.export_task(now=1800)
    assert exp.get_export_progress()["last_export_unix_ts"] == 1200

    # foreign-after-crash: pending marker matches the slot, but the
    # table was created by SOMEONE ELSE (no token attribute) while we
    # were down — must raise, never overwrite the foreign table
    prog = exp.get_export_progress()
    prog["pending"] = {"slot_end": 1500, "name": "1200-300",
                       "token": "tok-ours"}
    exp._publish(prog)
    with pytest.raises(ValueError, match="already exists"):
        exp.export_task(now=1800)
    rows = client.read_table("//exp/orph/1200-300").collect()
    assert [(r.seq, r.v) for r in rows] == [(99, "x")]


def test_ordered_table_queue_pull(spark, tmp_path):
    """PullQueue over a client-backed ORDERED dynamic table
    (queue_client.h:115-127): the persisted $row_index is the offset,
    pulls come back with the $tablet_index/$row_index system columns,
    and the registered-consumer loop (pull -> advance -> pull) tails
    the queue."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.streaming.consumer_registry import (
        advance_consumer,
        consumer_offset,
        pull_queue_consumer,
        register_queue_consumer,
    )

    c = YtClient(root=str(tmp_path), spark=spark)
    c.create("table", "//q/log", attributes={
        "dynamic": True, "schema": [{"name": "msg", "type": "string"}]})
    c.insert_rows("//q/log", spark.createDataFrame(
        [(f"m{i}",) for i in range(10)], "msg string"))

    got = [(r["msg"], r["$tablet_index"], r["$row_index"])
           for r in c.pull_queue("//q/log", 3, 4).collect()]
    assert got == [(f"m{i}", 0, i) for i in range(3, 7)]
    # partition 1 is past the single tablet
    assert c.pull_queue("//q/log", 0, 5, partition_index=1).count() == 0

    c.create("table", "//q/consumer", attributes={
        "treat_as_queue_consumer": True,
        "schema": [{"name": "queue", "sort_order": "ascending"},
                   {"name": "offset"}]})
    register_queue_consumer(c, "//q/log", "//q/consumer", vital=True)
    rows = pull_queue_consumer(c, "//q/consumer", "//q/log", None, 3)
    assert [r["msg"] for r in rows.collect()] == ["m0", "m1", "m2"]
    advance_consumer(c, "//q/consumer", "//q/log", 0, 0, 3)
    assert consumer_offset(c, "//q/consumer") == 3
    rows = pull_queue_consumer(c, "//q/consumer", "//q/log", None, 3)
    assert [r["msg"] for r in rows.collect()] == ["m3", "m4", "m5"]
