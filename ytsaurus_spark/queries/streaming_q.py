"""Streaming surface queries (SURVEY §2.6).

YQL GROUP BY HOPPING (mkql_hopping.cpp) → Spark ``window()``; SessionWindow
→ ``session_window()``; queue Pull/Advance → offset-range reads. The window
operators are registered in *batch* mode here (identical semantics, exact
oracle); ``stream_tumbling_live`` runs the real Structured Streaming path
(readStream → memory sink) to prove the streaming machinery, with the same
batch oracle.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import load_tables, read_parquet
from ytsaurus_spark.operators import scratch_dir
from ytsaurus_spark.queries import local_result, register
from ytsaurus_spark.streaming.queues import QueueConsumer, pull_and_advance

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@contextmanager
def _state_width(spark: SparkSession, *paths: str):
    """Stateful-stream shuffle width derived from input bytes (guide §2.2).

    A stateful streaming query instantiates ``spark.sql.shuffle.partitions``
    state stores per stateful operator per micro-batch (×4 for a
    stream-stream join: two sides × two maps), and every instance pays a
    fixed open/commit cost regardless of how many state rows it holds —
    measured ~50-400 ms summed per instance on the interval joins. AQE
    coalesces BATCH exchanges by size but cannot touch stateful streaming
    exchanges (the partition count is pinned into the checkpoint at query
    start), so this derives the width the same way AQE would: one
    partition per ``maxPartitionBytes`` of stream input (``input_splits``
    over ``paths``, the derivation ``keyed_cache_width`` shares), never
    above the session's configured width. At 100 TB the byte-derived
    count exceeds any configured width, so this is a no-op (exactly like
    spread_scan's converse decision); locally a KB-scale stream stops
    paying for dozens of idle state stores per micro-batch. An input of
    unknowable size (non-local or file-less) keeps the configured width.
    Keyed-state results are partitioning-independent (hash-partitioned
    state, per-key logic), so outputs are identical at any width — every
    wrapped query stays oracle-checked. The width respects (never
    exceeds) whatever core count the bench was launched with.
    """
    from ytsaurus_spark.operators import input_splits

    old = spark.conf.get("spark.sql.shuffle.partitions")
    splits = input_splits(spark, paths)
    if splits is not None:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(min(splits, int(old)))
        )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain_to_memory(
    spark: SparkSession, name: str, build, paths, mode: str = "append",
    read=None,
) -> DataFrame:
    """Run a streaming query to completion into the memory sink ``name``
    and return the sink's rows as a local frame.

    ``build()`` makes the streaming frame INSIDE the ``_state_width``
    context over ``paths``: a build-time read of the shuffle width
    (match_recognize_stream's key buckets) then sees the byte-derived
    state width. ``read`` maps the sink table before the collect; the
    rows are materialized before the sink table goes away."""
    import tempfile

    # re-runnable in one session: a previous sink view of this name goes
    # (dropTempView returns False, not raises, when there is none)
    spark.catalog.dropTempView(name)
    with tempfile.TemporaryDirectory() as ckpt, _state_width(spark, *paths):
        q = (
            build().writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.table(name)
        if read is not None:
            out = read(out)
        rows = out.collect()
    return local_result(spark, rows, out.schema)


def _events_stream(spark: SparkSession, sf_dir: str):
    """readStream over the events fixture with the raw on-disk schema
    (older fixture generations stored ts as int64 nanos — readStream
    can't re-infer nanos timestamps, so normalize after the read). The
    file source wants a directory, so the sf dir is streamed with a glob
    for this one table. Single definition: every live-streaming query
    reads events through here so a fixture ts-encoding change lands in
    ONE place. The raw schema comes from ``catalog.read_parquet``'s memo
    (keyed by the file listing and the schema-relevant confs), so a
    warm call reads no footer."""
    import os

    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(src.dtypes).get("ts") == "bigint":
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return src


# --- tumbling window (GROUP BY HOPPING with hop == interval) ---------------

@register(
    "stream_tumbling",
    f"""
    SELECT strftime(date_trunc('hour', ts), '{_TS_FMT_DUCK}') AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("win_start"),
            "event_type",
            "n",
            "total",
        )
    )


# --- sliding window (hop < interval): each row lands in size/hop windows ---

@register(
    "stream_sliding",
    f"""
    SELECT strftime(date_trunc('hour', ts) - i * INTERVAL 1 HOUR,
                    '{_TS_FMT_DUCK}') AS win_start,
           CAST(count(*) AS BIGINT) AS n
    FROM events, unnest([0, 1]) AS t(i)
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("events")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", _TS_FMT_SPARK).alias("win_start"), "n")
    )


# --- session window (gap-based; SessionWindow yql_opt_window.cpp:2344) -----

@register(
    "stream_session_window",
    f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '{_TS_FMT_DUCK}') AS session_end,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total
    FROM numbered
    GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return (
        cat.read("events")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            "user_id",
            F.date_format("sw.start", _TS_FMT_SPARK).alias("session_start"),
            F.date_format("sw.end", _TS_FMT_SPARK).alias("session_end"),
            "n",
            "total",
        )
    )


# --- stateful dedup (streaming dropDuplicates; deterministic keep-first) ---

@register(
    "stream_dedup",
    """
    SELECT user_id, event_type, min(event_id) AS first_event_id
    FROM events
    GROUP BY user_id, event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    # Streaming path is dropDuplicates(["user_id","event_type"]) with a
    # watermark bounding state; batch-deterministic equivalent keeps the
    # first event per key (min event_id ≈ arrival order in the fixture).
    return (
        cat.read("events")
        .groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_event_id"))
    )


# --- queue pull + consumer advance (PullQueue/AdvanceConsumer) -------------

@register(
    "stream_queue_pull",
    """
    SELECT event_id, user_id, event_type
    FROM events
    WHERE event_id >= 100 AND event_id < 164
    """,
)
def stream_queue_pull(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    consumer = QueueConsumer("analytics")
    consumer.advance(100)  # position established by prior pulls
    batch = pull_and_advance(ev, consumer, "event_id", 64)
    assert consumer.offset() == 164
    return batch.select("event_id", "user_id", "event_type")


# --- live Structured Streaming: readStream → window agg → memory sink ------

@register(
    "stream_tumbling_live",
    f"""
    SELECT strftime(date_trunc('hour', ts), '{_TS_FMT_DUCK}') AS win_start,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    """,
)
def stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    load_tables(spark, sf_dir)
    return _drain_to_memory(
        spark,
        "stream_tumbling_live_out",
        lambda: _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", _TS_FMT_SPARK).alias("win_start"), "n"),
        [os.path.join(sf_dir, "events.parquet")],
        mode="complete",
    )


# --- incremental processing: queue pulls folded into a keyed table ---------

@register(
    "stream_incremental_agg",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total
    FROM events WHERE event_id < 900
    GROUP BY user_id
    """,
)
def stream_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-offset incremental pipeline: pull the queue in batches,
    fold each batch into a keyed aggregate table (aggregate columns =
    sum/sum). After 3 pulls the table state must equal the batch aggregate
    over everything consumed — incremental ≡ batch, the core guarantee of
    the reference's queue+dynamic-table pattern."""
    from ytsaurus_spark.operators.keyed_tables import KeyedTable
    from ytsaurus_spark.streaming.queues import QueueConsumer, pull_and_advance

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    deltas_schema = ev.select(
        "user_id",
        F.lit(1).cast("long").alias("n_events"),
        F.col("value").alias("total"),
    )
    table = KeyedTable(
        df=deltas_schema.filter(F.lit(False)),
        key_cols=["user_id"],
        aggregates={"n_events": "sum", "total": "sum"},
    )
    consumer = QueueConsumer("incremental_agg")
    for _ in range(3):
        batch = pull_and_advance(ev, consumer, "event_id", 300)
        deltas = batch.select(
            "user_id",
            F.lit(1).cast("long").alias("n_events"),
            F.col("value").alias("total"),
        )
        table = table.insert_rows(deltas)
    return table.df.select(
        "user_id", "n_events", F.round("total", 4).alias("total")
    )


@register(
    "stream_queue_to_logtable",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total
    FROM events WHERE event_id < 900
    GROUP BY user_id
    """,
)
def stream_queue_to_logtable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable incremental pipeline: each queue pull is committed to a
    log-structured keyed table as ONE delta segment — commit cost is
    O(batch), never O(table) — and the merged read after 3 pulls equals
    the batch aggregate over everything consumed.

    This is the reference's queue → aggregate-column dynamic table
    pattern with its real write path: deltas accumulate in the log
    (dynamic stores), reads merge on the fly, and compaction folds them
    in the background (store_compactor.cpp). The in-memory variant above
    proves the algebra; this one proves the durability layer at
    O(changes) commit cost (client_dynamic_tables_impl.cpp:1599-1603
    read-at-timestamp contract at commit granularity)."""
    from ytsaurus_spark.sources.tx_table import LogTxTable

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events")
    deltas_of = lambda batch: batch.select(  # noqa: E731
        "user_id",
        F.lit(1).cast("long").alias("n_events"),
        F.col("value").alias("total"),
    )
    table = LogTxTable(
        spark,
        scratch_dir("ytspark_logtx_"),
        key_cols=["user_id"],
        aggregates={"n_events": "sum", "total": "sum"},
    )
    table.init(deltas_of(ev).filter(F.lit(False)))
    consumer = QueueConsumer("incremental_agg_durable")
    for _ in range(3):
        batch = pull_and_advance(ev, consumer, "event_id", 300)
        table.insert_rows(deltas_of(batch))
    return table.read().select(
        "user_id", "n_events", F.round("total", 4).alias("total")
    )


@register(
    "stream_producer_exactly_once",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 4)     AS total
    FROM events WHERE event_id < 400
    GROUP BY user_id
    """,
)
def stream_producer_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once producer sessions on a durable queue (SURVEY §2.6).

    Reference semantics (yt/yt/client/queue_client/producer_client.h:57-87,
    public.h:38-40): a producer session is ``(session_id, epoch, seq)``;
    re-pushing already-acknowledged sequence numbers is a silent no-op, and
    recreating the session bumps the epoch so the old writer is fenced.

    The scenario pushes event_id<200 twice (the replay appends 0 rows),
    recreates the session (fencing the first writer — its next push raises
    ZombieEpochError), then pushes the overlapping range [100, 400) from
    the resumed session: only [200, 400) lands. If any dedup or fence
    leaked, counts/sums would double somewhere and the oracle hash over
    plain ``events WHERE event_id < 400`` would catch it."""
    from ytsaurus_spark.streaming.queues import DurableQueue, ZombieEpochError

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events").select("event_id", "user_id", "value")
    q = DurableQueue(spark, scratch_dir("ytspark_queue_"))
    s1 = q.create_session("pipeline-a")
    batch1 = ev.filter(F.col("event_id") < 200)
    s1.push_batch(batch1, seq_col="event_id")
    replayed = s1.push_batch(batch1, seq_col="event_id")
    assert replayed == 0, "replay must append nothing"
    s2 = q.create_session("pipeline-a")  # fences s1, resumes last_seq
    try:
        s1.push_batch(batch1, seq_col="event_id")
        raise AssertionError("fenced session must not push")
    except ZombieEpochError:
        pass
    overlap = ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 400))
    s2.push_batch(overlap, seq_col="event_id")
    return (
        q.read()
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("value"), 4).alias("total"),
        )
    )


@register(
    "stream_match_recognize",
    """
    WITH enc AS (
      SELECT user_id, event_id,
             CASE WHEN value <= 50 THEN 'v'
                  WHEN value <= 200 THEN 'a'
                  ELSE 'b' END AS sym
      FROM events
    ), seqs AS (
      SELECT user_id, string_agg(sym, '' ORDER BY event_id) AS seq
      FROM enc GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(regexp_extract_all(seq, 'va+b')) AS BIGINT) AS n_matches
    FROM seqs
    WHERE len(regexp_extract_all(seq, 'va+b')) > 0
    ORDER BY user_id
    """,
)
def stream_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MATCH_RECOGNIZE over the live event stream
    (mkql_match_recognize.cpp streaming mode → applyInPandasWithState):
    per-user pattern va+b with state carried across micro-batches. The
    pattern ends in a fixed symbol, so completed streaming matches equal
    the batch regex over each user's full ordered sequence — which is
    exactly what the DuckDB oracle computes."""
    import os

    from ytsaurus_spark.operators.match_recognize import match_recognize_stream

    load_tables(spark, sf_dir)
    # built inside the drain's width context: key_buckets derives from the
    # shuffle width at build time, so the per-group Python round trips
    # shrink with the state width (both byte-derived, both capped at the
    # configured width)
    return _drain_to_memory(
        spark,
        "stream_match_recognize_out",
        lambda: match_recognize_stream(
            _events_stream(spark, sf_dir),
            partition_by=["user_id"],
            order_col="event_id",
            symbols=[
                ("v", F.col("value") <= 50),
                ("a", (F.col("value") > 50) & (F.col("value") <= 200)),
                ("b", F.col("value") > 200),
            ],
            pattern="va+b",
        ),
        [os.path.join(sf_dir, "events.parquet")],
        read=lambda sink: sink.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy("user_id"),
    )


@register(
    "stream_time_order_recover",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id
      FROM events WHERE user_id < 40
    ), horizon AS (
      SELECT user_id, max(ts_us) - 1800000000 AS h FROM e GROUP BY user_id
    ), ready AS (
      SELECT e.user_id, e.ts_us, e.event_id
      FROM e JOIN horizon USING (user_id) WHERE e.ts_us <= h
    )
    SELECT user_id, ts_us, event_id,
           CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id) - 1 AS BIGINT)
             AS emit_seq
    FROM ready
    """,
)
def stream_time_order_recover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeOrderRecover (mkql_time_order_recover.cpp): a real streaming
    pass re-emits each user's events in EVENT-TIME order, buffering
    anything younger than 30 min behind the key's max-seen timestamp.
    The oracle derives the same emitted set + order from the static table:
    per key, rows at or below (max ts - delay), event-time ordered with a
    0-based emit sequence."""
    import os

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ytsaurus_spark.streaming.stateful import time_order_recover

    load_tables(spark, sf_dir)
    fn, out_schema, state_schema = time_order_recover(
        "user_id", ts_col="ts_us", delay_us=30 * 60 * 1_000_000,
        payload_cols=("event_id",),
        output_schema="user_id bigint, ts_us bigint, event_id bigint, emit_seq bigint",
    )
    return _drain_to_memory(
        spark,
        "stream_time_order_recover_out",
        lambda: _events_stream(spark, sf_dir)
        .filter(F.col("user_id") < 40)
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            T._parse_datatype_string(out_schema),
            T._parse_datatype_string(state_schema),
            "append",
            GroupStateTimeout.NoTimeout,
        ),
        [os.path.join(sf_dir, "events.parquet")],
    )


# --- stream-stream interval join: clicks joined to purchases within 4 h ---

@register(
    "stream_stream_join",
    """
    SELECT c.user_id AS user_id,
           CAST(c.event_id AS BIGINT) AS click_id,
           CAST(p.event_id AS BIGINT) AS purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS delay_us,
           round(p.value, 4) AS amount
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL join — the attribution staple the reference
    expresses as a Flow pipeline of two queue readers into a keyed join
    (yt/yt/flow/lib; queue semantics in queue_client.h): every click
    joined to same-user purchases landing within the next 4 hours.

    Runs the REAL Structured Streaming path: two readStream sources over
    the same parquet, both watermarked, inner-joined on key + event-time
    range; Spark keeps per-key state only inside the watermark horizon,
    so state is bounded at any corpus size (the 100 TB shape — an
    unbounded-buffer join would OOM). With the file source every row is
    on time, so the emitted set equals the batch join, giving an exact
    DuckDB oracle. Delay flows as exact integer microseconds."""
    import os

    load_tables(spark, sf_dir)

    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts > c_ts "
            "AND p_ts <= c_ts + interval 4 hours"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        F.col("click_id").cast("long").alias("click_id"),
        F.col("purchase_id").cast("long").alias("purchase_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("delay_us"),
        F.round("p_value", 4).alias("amount"),
    )
    return _drain_to_memory(
        spark, "stream_stream_join_out", lambda: joined,
        [os.path.join(sf_dir, "events.parquet")],
    )


# --- composite: stream-stream join folded into a keyed table ---------------

@register(
    "pipeline_stream_attribution",
    """
    SELECT c.user_id AS user_id,
           CAST(count(*) AS BIGINT) AS n_attributed,
           CAST(sum(CAST(round(p.value * 10000, 0) AS BIGINT)) AS BIGINT)
             AS total_tt
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR
    GROUP BY c.user_id
    """,
)
def pipeline_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship streaming composition — two queues joined
    and folded into a dynamic table (Flow pipeline into an
    aggregate-column table): the watermarked stream-stream interval join
    feeds foreachBatch, each batch pre-aggregates per user and UPSERTS
    into a LogTxTable whose columns fold with `sum` — so arbitrarily
    many micro-batches accumulate exactly like the reference's
    aggregate-column writes, durably, and the final table state must
    hash-match the one-shot batch SQL. Amounts fold as exact BIGINT
    ten-thousandths (doubles would drift across fold order)."""
    import os
    import tempfile

    from ytsaurus_spark.sources.tx_table import LogTxTable

    load_tables(spark, sf_dir)
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts > c_ts "
            "AND p_ts <= c_ts + interval 4 hours"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        F.round(F.col("p_value") * 10000, 0).cast("long").alias("amount_tt"),
    )
    root = scratch_dir("ytspark_attr_")
    table = LogTxTable(
        spark,
        os.path.join(root, "attribution"),
        ["user_id"],
        aggregates={"n_attributed": "sum", "total_tt": "sum"},
    )
    table.init(
        local_result(
            spark, [], "user_id bigint, n_attributed bigint, total_tt bigint"
        )
    )

    def fold_batch(batch, epoch_id):
        agg = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_attributed"),
            F.sum("amount_tt").cast("long").alias("total_tt"),
        )
        if agg.take(1):
            table.insert_rows(agg)

    with tempfile.TemporaryDirectory() as ckpt, _state_width(
        spark, os.path.join(sf_dir, "events.parquet")
    ):
        q = (
            joined.writeStream.outputMode("append")
            .foreachBatch(fold_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return table.read().select("user_id", "n_attributed", "total_tt")


# --- stream-stream LEFT OUTER interval join: null rows on state expiry ----

@register(
    "stream_stream_left_join",
    """
    SELECT c.user_id AS user_id,
           CAST(c.event_id AS BIGINT) AS click_id,
           CAST(p.event_id AS BIGINT) AS purchase_id,
           round(p.value, 4) AS amount
    FROM events c LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR
    WHERE c.event_type = 'click'
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — unmatched clicks emit
    with NULL purchase columns only after the watermark passes their
    join horizon (Spark evicts the state row and emits the outer
    result). That expiry needs the watermark to ADVANCE past the last
    real click + 4 h, which a finite file stream never does on its own —
    so the events file is staged into a directory with a far-future
    sentinel file, maxFilesPerTrigger=1 forces a second trigger, and the
    sentinel drags the watermark forward to flush every pending outer
    row. The emitted set then equals the batch LEFT join (oracle).

    Scale shape: identical to the inner interval join (bounded per-key
    state inside the watermark horizon); the outer rows are emitted
    incrementally as state expires — no end-of-stream buffering."""
    import os
    import shutil

    load_tables(spark, sf_dir)
    src_file = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src_file).schema

    stage = scratch_dir("ytspark_ssleft_")
    shutil.copy(src_file, os.path.join(stage, "events.parquet"))
    max_ts = spark.read.parquet(src_file).agg(F.max("ts")).collect()[0][0]
    # one sentinel per SIDE: each must survive its branch's event_type
    # filter, or the watermark node never sees it and never advances.
    # Built as a ONE-slice local frame (local_result): a plain
    # createDataFrame parallelizes 2 rows into defaultParallelism
    # Python-backed slices, and the former coalesce(1) then fetched all
    # of them SEQUENTIALLY in one task — ~32 Python-worker round trips,
    # measured 6-7 s for a 2-row write (guide §2.2: partition count from
    # data size, not cluster width; the wall-clock shift moves into
    # Python, the identical +12 h wall-clock add).
    import datetime as _dt

    far_ts = max_ts + _dt.timedelta(hours=12)
    sentinel = local_result(
        spark,
        [(-1, far_ts, -1, "click", 0.0, "{}"), (-2, far_ts, -1, "purchase", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sent_dir = os.path.join(stage, "zz_sentinel")
    sentinel.write.mode("overwrite").parquet(sent_dir)
    for i, f in enumerate(sorted(os.listdir(sent_dir))):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(sent_dir, f), os.path.join(stage, "zz_sentinel.parquet"))
    shutil.rmtree(sent_dir)
    # the sentinel file must sort AFTER the data file for trigger order
    os.utime(os.path.join(stage, "zz_sentinel.parquet"), None)

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(stage)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts > c_ts "
            "AND p_ts <= c_ts + interval 4 hours"
        ),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"),
        F.col("click_id").cast("long").alias("click_id"),
        F.col("purchase_id").cast("long").alias("purchase_id"),
        F.round("p_value", 4).alias("amount"),
    )
    return _drain_to_memory(
        spark, "stream_stream_left_join_out", lambda: joined, [stage],
        read=lambda sink: sink.filter(F.col("user_id") != -1),
    )


# --- Flow pipeline: persistent source → map chain → persistent sink --------

@register(
    "stream_flow_pipeline",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value * 2 + 1), 4) AS sum_v2
    FROM events
    WHERE value * 2 + 1 >= 20.0
    GROUP BY event_type
    """,
)
def stream_flow_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YT Flow pipeline (yt/yt/flow/lib, YtflowPersistentSource →
    YtflowMap chain → YtflowPersistentSink): two chained stateless map
    stages over the events stream, run through the REAL Structured
    Streaming path with a checkpointed parquet sink, then aggregated
    from the sink. The map chain compiles to ONE fused Spark plan (no
    per-stage materialization); restart-resume semantics are pinned by
    test_flow_pipeline_batch_and_stream_resume."""
    import os

    from ytsaurus_spark.streaming.flow import FlowPipeline

    load_tables(spark, sf_dir)
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    base = scratch_dir("ytspark_flow_")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")

    pipe = (
        FlowPipeline(
            spark,
            sf_dir,  # the file source wants a directory; glob to events
            raw_schema,
            sink,
            ckpt,
            source_options={"pathGlobFilter": "events.parquet"},
        )
        .map(lambda df: df.withColumn("v2", F.col("value") * 2 + 1))
        .map(lambda df: df.filter(F.col("v2") >= 20.0))
    )
    pipe.run_stream()
    out = spark.read.parquet(sink)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("v2"), 4).alias("sum_v2"),
    )


# --- streaming CUSUM drift monitor (stateful, exact-integer fold) ----------

@register(
    "stream_cusum_monitor",
    """
    WITH e AS (
      SELECT event_type, CAST(event_id AS BIGINT) AS event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('purchase', 'error')
    ), c AS (
      SELECT event_type, event_id, cents,
             CAST(sum(cents - 10500) OVER (PARTITION BY event_type
                    ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS cum
      FROM e
    ), s AS (
      SELECT event_type, event_id, cents,
             CAST(cum - least(0, min(cum) OVER (PARTITION BY event_type
                    ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW)) AS BIGINT) AS s
      FROM c
    )
    SELECT event_type, event_id, cents, s, s > 100000 AS alarm FROM s
    """,
)
def stream_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming one-sided CUSUM drift monitor
    (streaming/stateful.cusum_monitor): a REAL Structured Streaming pass
    folds s = max(0, s + (cents − 10500)) per event_type with two-BIGINT
    state carried across micro-batches, flagging s > 100000. The oracle
    computes the batch reset identity (cumulative sum minus its clamped
    running minimum) — exact integers on both sides, so the streamed
    fold must match row-for-row."""
    import os

    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ytsaurus_spark.streaming.stateful import cusum_monitor

    load_tables(spark, sf_dir)
    fn, out_schema, state_schema = cusum_monitor(
        "event_type", order_col="event_id", val_col="cents",
        reference=10_500, threshold=100_000,
    )
    return _drain_to_memory(
        spark,
        "stream_cusum_monitor_out",
        lambda: _events_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "error"))
        .select(
            "event_type",
            F.col("event_id").cast("long").alias("event_id"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            T._parse_datatype_string(out_schema),
            T._parse_datatype_string(state_schema),
            "append",
            GroupStateTimeout.NoTimeout,
        ),
        [os.path.join(sf_dir, "events.parquet")],
    )


@register(
    "stream_trending_topk",
    f"""
    WITH w AS (
      SELECT strftime(date_trunc('hour', ts) - i * INTERVAL 1 HOUR,
                      '{_TS_FMT_DUCK}') AS win_start,
             event_type, CAST(count(*) AS BIGINT) AS n
      FROM events, (SELECT unnest([0, 1]) AS i)
      GROUP BY 1, 2
    )
    SELECT win_start, event_type, n, CAST(rk AS INT) AS rk FROM (
      SELECT w.*,
             row_number() OVER (PARTITION BY win_start
                                ORDER BY n DESC, event_type) AS rk
      FROM w)
    WHERE rk <= 3
    """,
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-now: top-3 event types per 2-hour sliding window (1-hour
    slide) ranked by count — the windowed leaderboard every event
    pipeline keeps. Batch-expressed form of the streaming pattern
    (windowed partial-agg counts, then a rank over the tiny
    window-grain aggregate — the corpus shuffles once at
    (window, type) grain; the rank window runs over per-window rows
    that number |event types|, never raw events). Deterministic
    tie-break by event_type."""
    from pyspark.sql import Window as W

    cat = load_tables(spark, sf_dir)
    counts = (
        cat.read("events")
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("win_start"),
            "event_type",
            "n",
        )
    )
    rk_w = W.partitionBy("win_start").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(rk_w).cast("int"))
        .filter(F.col("rk") <= 3)
    )


# --- streaming mergeable quantile sketch (windowed log2-bin histogram) -----

@register(
    "stream_quantile_sketch",
    f"""
    SELECT strftime(date_trunc('hour', ts), '{_TS_FMT_DUCK}') AS win_start,
           CASE WHEN CAST(round(value * 100) AS BIGINT) < 1 THEN -1
                ELSE CAST(length(bin(CAST(round(value * 100) AS BIGINT))) - 1
                     AS BIGINT)
           END AS bin,
           CAST(count(*) AS BIGINT) AS c
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable quantile sketch: per tumbling hour, the
    log2-binned value-cents histogram (operators/sketches.
    log2_quantile_sketch's bin rule) maintained by Structured
    Streaming's partial aggregation — THE property that makes the
    sketch streamable: bins are additive, so incremental micro-batch
    merges equal the batch histogram exactly (the oracle is the batch
    twin). Whole-bit binning via digit-string length, never libm;
    state per window is ≤64 bins. A quantile read at any time is the
    bracket cut over the window's bins (agg_quantile_sketch's
    selection)."""
    import os

    load_tables(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    binc = F.when(cents < 1, F.lit(-1).cast("long")).otherwise(
        (F.length(F.conv(cents.cast("string"), 10, 2)) - 1).cast("long")
    )
    return _drain_to_memory(
        spark,
        "stream_quantile_sketch_out",
        lambda: _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .withColumn("bin", binc)
        .groupBy(F.window("ts", "1 hour").alias("w"), "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("win_start"),
            "bin",
            "c",
        ),
        [os.path.join(sf_dir, "events.parquet")],
        mode="complete",
    )


# --- consumer registrations + vital-gated trim (queue_client.h:56-151) ------

@register(
    "stream_consumer_registry",
    """
    WITH q AS (
      SELECT event_id AS row_index, event_type, value
      FROM events WHERE event_id < 500
    ),
    vital_offset AS (SELECT 120 AS o),
    -- trim_up_to=300 clamps to the vital consumer's offset 120
    kept AS (SELECT * FROM q WHERE row_index >= (SELECT o FROM vital_offset))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(row_index) AS BIGINT) AS lo,
           CAST(max(row_index) AS BIGINT) AS hi
    FROM kept GROUP BY event_type
    """,
)
def stream_consumer_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-registration protocol end-to-end (RegisterQueueConsumer /
    CAS AdvanceConsumer / vital-gated TrimTable): a vital consumer at
    offset 120 clamps a trim-to-300 request, so the queue retains exactly
    the rows the oracle predicts."""
    import os as _os

    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.streaming import consumer_registry as cr

    c = YtClient(root=scratch_dir("ytspark_creg_"), spark=spark)
    q = (
        spark.read.parquet(_os.path.join(sf_dir, "events.parquet"))
        .filter(F.col("event_id") < 500)
        .select(
            F.col("event_id").alias("row_index"), "event_type", "value"
        )
    )
    c.write_table("//queues/events", q.coalesce(1))
    cr.register_queue_consumer(c, "//queues/events", "//consumers/etl", vital=True)
    cr.register_queue_consumer(c, "//queues/events", "//consumers/adhoc", vital=False)
    cr.advance_consumer(c, "//consumers/etl", "//queues/events", 0, None, 120)
    cr.advance_consumer(c, "//consumers/adhoc", "//queues/events", 0, None, 40)
    effective = cr.trim_queue_safe(c, "//queues/events", trim_up_to=300)
    assert effective == 120  # vital lag retained
    kept = c.read_table("//queues/events")
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("row_index").cast("long").alias("lo"),
        F.max("row_index").cast("long").alias("hi"),
    )


@register(
    "stream_queue_export",
    """
    WITH src AS (SELECT event_id, user_id, value FROM events
                 WHERE event_id < 300)
    SELECT tbl, n_rows, sum_cents FROM (
      SELECT '900-300' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
      FROM src WHERE event_id < 200
      UNION ALL
      SELECT '1200-300', CAST(count(*) AS BIGINT),
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      FROM src WHERE event_id >= 200
    ) ORDER BY tbl
    """,
)
def stream_queue_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue static exports (queue agent, yt/yt/server/queue_agent/
    queue_exporter.cpp; tests test_queue_agent.py::test_multicell_export):
    flushed queue segments are grouped by the export-period slot holding
    their commit instant and snapshotted — one static table per populated
    slot — under the export directory, with idempotent progress.

    Scenario: three producer flushes at commit instants 905/1120 (slot
    [900,1200)) and 1450 (slot [1200,1500)), period 300 s. The first
    task at now=1190 exports nothing (no slot has closed); at now=1620
    both slots export; a THIRD task is a no-op (progress). Default
    lower-bound naming: tables '900-300' and '1200-300' (%UNIX_TS-
    %PERIOD). The oracle recomputes both tables' row counts and value
    sums from the same event slices."""
    from ytsaurus_spark.client import YtClient
    from ytsaurus_spark.streaming.queue_export import QueueStaticExporter
    from ytsaurus_spark.streaming.queues import DurableQueue

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events").select("event_id", "user_id", "value")
    qpath = scratch_dir("ytspark_qexp_")
    q = DurableQueue(spark, qpath)
    s = q.create_session("exporter-feed")
    s.push_batch(ev.filter(F.col("event_id") < 100),
                 seq_col="event_id", commit_ts=905)
    s.push_batch(ev.filter((F.col("event_id") >= 100)
                           & (F.col("event_id") < 200)),
                 seq_col="event_id", commit_ts=1120)
    s.push_batch(ev.filter((F.col("event_id") >= 200)
                           & (F.col("event_id") < 300)),
                 seq_col="event_id", commit_ts=1450)

    client = YtClient(root=scratch_dir("ytspark_qexp_c_"), spark=spark)
    exp = QueueStaticExporter(q, client, "//exports/q", 300)
    assert exp.export_task(now=1190) == []  # no slot has closed yet
    created = exp.export_task(now=1620)
    assert [p.rsplit("/", 1)[-1] for p in created] == [
        "900-300", "1200-300"]
    assert exp.export_task(now=1620) == []  # idempotent re-run

    return reduce(DataFrame.unionByName, [
        client.read_table(p).agg(
            F.lit(p.rsplit("/", 1)[-1]).alias("tbl"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
             .cast("long").alias("sum_cents"),
        )
        for p in created
    ]).orderBy("tbl")
