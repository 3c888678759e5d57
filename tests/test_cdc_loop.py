"""The CDC loop's contracts and its Spark-job cost: producer-session pushes
against a pure-Python model, the memoized ``changes_between`` diff, and
``apply_changes`` publishing from segment footers."""

from __future__ import annotations

import json
import os
import random

import pytest

from tests.conftest import jobs_started


# -- DurableQueue.pull: offsets from the manifest ----------------------------


def test_durable_queue_pull_advances_from_the_manifest(spark, tmp_path):
    """A pull returns ``[offset, min(offset + max_rows, next_row_index))``,
    advances the consumer past the rows returned (a short pull included),
    runs no Spark job, and leaves a consumer at the queue's end in place."""
    from ytsaurus_spark.streaming.queues import DurableQueue, QueueConsumer

    q = DurableQueue(spark, str(tmp_path / "q"))
    s = q.create_session("p")
    s.push_batch(spark.createDataFrame([(i,) for i in range(5)], "v bigint"))
    s.push_batch(spark.createDataFrame([(i,) for i in range(5, 8)], "v bigint"))
    c = QueueConsumer("c")
    batches = []

    def pull(n):
        batches.append(q.pull(c, n))

    for n, offset in ((3, 3), (4, 7), (4, 8), (4, 8)):
        assert jobs_started(spark, lambda: pull(n)) == 0
        assert c.offset() == offset
    got = [sorted(r["$row_index"] for r in b.collect()) for b in batches]
    assert got == [[0, 1, 2], [3, 4, 5, 6], [7], []]
    assert [sorted(r.v for r in b.collect()) for b in batches[:3]] == [
        [0, 1, 2], [3, 4, 5, 6], [7],
    ]


# -- push_batch against a pure-Python model ----------------------------------


def _model_push(last_seq: int, seqs: list) -> list | None:
    """The fresh sequence numbers a push appends, in ``$row_index`` order,
    or None when the batch is rejected: a repeated non-NULL number or more
    than one NULL. NULL and numbers <= ``last_seq`` are never written."""
    present = [s for s in seqs if s is not None]
    if len(set(present)) != len(present) or len(seqs) - len(present) > 1:
        return None
    return sorted(s for s in present if s > last_seq)


def _queue_files(path: str) -> tuple[str, set]:
    with open(os.path.join(path, "_queue.json")) as f:
        manifest = f.read()
    return manifest, set(os.listdir(path))


def test_push_batch_matches_model(spark, tmp_path):
    """Seeded differential walk: every push returns the model's count, the
    queue holds exactly the model's rows with dense ``$row_index``, and a
    rejected or empty push leaves the manifest, ``last_seq`` and the
    directory listing as they were."""
    from ytsaurus_spark.streaming.queues import (
        DurableQueue,
        InvalidRowSequenceNumbersError,
    )

    rng = random.Random(20261019)
    path = str(tmp_path / "q")
    q = DurableQueue(spark, path)
    s = q.create_session("model")
    held: list[tuple[int, str]] = []  # (seq, payload) in $row_index order
    last = -1

    def fresh_seqs(n):
        return list(range(last + 1, last + 1 + n))

    kinds = ["fresh", "overlap", "one_null", "two_nulls", "stale_dup",
             "dup_across", "dup_fresh", "replay", "empty"]
    plan = kinds + [rng.choice(kinds) for _ in range(7)]
    for step, kind in enumerate(plan):
        stale = [x for x, _ in held]
        if kind == "fresh":
            seqs = fresh_seqs(rng.randint(1, 6))
        elif kind == "overlap":
            seqs = rng.sample(stale, min(2, len(stale))) + fresh_seqs(3)
        elif kind == "one_null":
            seqs = [None] + fresh_seqs(2)
        elif kind == "two_nulls":
            seqs = [None, None] + fresh_seqs(2)
        elif kind == "stale_dup" and stale:
            x = rng.choice(stale)
            seqs = [x, x] + fresh_seqs(1)
        elif kind == "dup_across" and stale:
            seqs = [last, last + 1, last]
        elif kind == "dup_fresh":
            seqs = fresh_seqs(3) + [last + 2]
        elif kind == "replay":
            seqs = list(stale)
        else:
            seqs = []
        rng.shuffle(seqs)
        rows = [(x, f"p{step}_{i}") for i, x in enumerate(seqs)]
        batch = spark.createDataFrame(rows, "seq long, payload string")
        want = _model_push(last, seqs)
        before = _queue_files(path)
        if want is None:
            with pytest.raises(InvalidRowSequenceNumbersError):
                s.push_batch(batch, seq_col="seq")
        else:
            assert s.push_batch(batch, seq_col="seq") == len(want), kind
        if not want:
            assert _queue_files(path) == before, kind
            assert s.last_seq == last, kind
            continue
        payload = dict((x, p) for x, p in rows if x is not None)
        held += [(x, payload[x]) for x in want]
        last = want[-1]
        assert s.last_seq == last
        manifest = json.loads(_queue_files(path)[0])
        assert manifest["sessions"]["model"]["last_seq"] == last
        assert manifest["next_row_index"] == len(held)
        got = [
            (r["seq"], r["payload"], r["$row_index"])
            for r in q.read().orderBy("$row_index").collect()
        ]
        assert got == [(x, p, i) for i, (x, p) in enumerate(held)], kind
        assert _queue_files(path)[1] == (
            {"_queue.json"} | {seg["dir"] for seg in manifest["segments"]}
        )

    # the auto-sequence path: numbers continue from last_seq in batch order
    auto_path = str(tmp_path / "auto")
    qa = DurableQueue(spark, auto_path)
    sa = qa.create_session("auto")
    empty = spark.createDataFrame([], "v string")
    before = _queue_files(auto_path)
    assert sa.push_batch(empty) == 0
    assert _queue_files(auto_path) == before and sa.last_seq == -1
    assert sa.push_batch(spark.createDataFrame([("a",), ("b",)], "v string")) == 2
    assert sa.push_batch(spark.createDataFrame([("c",)], "v string")) == 1
    got = [
        (r["v"], r["$sequence_number"], r["$row_index"])
        for r in qa.read().orderBy("$row_index").collect()
    ]
    assert got == [("a", 0, 0), ("b", 1, 1), ("c", 2, 2)]
    assert sa.last_seq == 2


# -- changes_between memo ------------------------------------------------------


def _cdc_table(spark, path):
    from ytsaurus_spark.sources.tx_table import LogTxTable

    t = LogTxTable(spark, path, key_cols=["k"])
    v0 = t.init(spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                                      "k long, v long"))
    t.insert_rows(spark.createDataFrame([(1, 11), (4, 40)], "k long, v long"))
    v2 = t.delete_rows(spark.createDataFrame([(2,)], "k long"))
    return t, v0, v2


def test_changes_between_memo_runs_no_job_and_matches_fresh_instance(
        spark, tmp_path):
    from ytsaurus_spark.sources.tx_table import LogTxTable

    path = str(tmp_path / "t")
    t, v0, v2 = _cdc_table(spark, path)
    first = t.changes_between(from_version=v0, to_version=v2)
    box = {}
    assert jobs_started(spark, lambda: box.setdefault(
        "df", t.changes_between(from_version=v0))) == 0
    want = sorted(map(tuple, first.collect()))
    assert sorted(map(tuple, box["df"].collect())) == want
    other = LogTxTable(spark, path, key_cols=["k"])
    assert sorted(map(tuple, other.changes_between(
        from_version=v0, to_version=v2).collect())) == want
    assert {r[0]: r[1] for r in want} == {
        1: "update", 2: "delete", 4: "insert"}


def test_changes_between_memo_still_raises_after_trim(spark, tmp_path):
    import time

    t, v0, v2 = _cdc_table(spark, str(tmp_path / "t"))
    t.changes_between(from_version=v0, to_version=v2)
    t.compact()
    assert t.trim_history(time.time() + 1) > 0
    with pytest.raises(ValueError):
        t.changes_between(from_version=v0, to_version=v2)


def test_era_fencing_truncation_drops_the_memoized_diff(spark, tmp_path):
    """A replica's dead-era commit at v1 is replaced by the source's v1
    when segments are shipped; its memoized diff must go with it."""
    from ytsaurus_spark.sources.tx_table import LogTxTable, ship_segments

    seed = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    src = LogTxTable(spark, str(tmp_path / "src"), key_cols=["k"])
    dst = LogTxTable(spark, str(tmp_path / "dst"), key_cols=["k"])
    src.init(seed)
    ship_segments(src, dst)
    src.insert_rows(spark.createDataFrame([(1, 11)], "k long, v long"))
    dst.insert_rows(spark.createDataFrame([(2, 99)], "k long, v long"))
    assert [r["k"] for r in dst.changes_between(0, 1).collect()] == [2]
    ship_segments(src, dst)
    assert sorted(map(tuple, dst.changes_between(0, 1).collect())) == sorted(
        map(tuple, src.changes_between(0, 1).collect())) == [
            (1, "update", 10, 11)]


# -- apply_changes publishes from footer row counts ---------------------------


def _table_files(t) -> set:
    return set(os.listdir(t.path))


def test_apply_empty_diff_commits_nothing(spark, tmp_path):
    from ytsaurus_spark.sources.tx_table import LogTxTable

    t, _, v2 = _cdc_table(spark, str(tmp_path / "src"))
    rep = LogTxTable(spark, str(tmp_path / "rep"), key_cols=["k"])
    rep.init(t.read())
    before = _table_files(rep)
    assert rep.apply_changes(t.changes_between(from_version=v2)) is None
    assert rep.current_version() == 0
    assert _table_files(rep) == before


def test_apply_delete_only_diff_commits_one_version(spark, tmp_path):
    from ytsaurus_spark.sources.tx_table import LogTxTable

    t, _, v2 = _cdc_table(spark, str(tmp_path / "src"))
    rep = LogTxTable(spark, str(tmp_path / "rep"), key_cols=["k"])
    rep.init(t.read())
    v3 = t.delete_rows(spark.createDataFrame([(1,), (3,)], "k long"))
    assert rep.apply_changes(t.changes_between(from_version=v2)) == 1
    assert rep.current_version() == 1
    assert _table_files(rep) == {"_log.json", "s0", "s1"}
    assert sorted(map(tuple, rep.read().collect())) == sorted(
        map(tuple, t.read(version=v3).collect())) == [(4, 40)]


def test_apply_runs_only_its_checkpoint_and_segment_writes(
        spark, tmp_path, monkeypatch):
    from ytsaurus_spark.sources.tx_table import LogTxTable

    t, v0, v2 = _cdc_table(spark, str(tmp_path / "src"))
    rep = LogTxTable(spark, str(tmp_path / "rep"), key_cols=["k"])
    rep.init(t.read(version=v0))
    diff = t.changes_between(from_version=v0, to_version=v2)
    diff.collect()
    writes = []
    stage = LogTxTable._stage_segment

    def counted(self, df, kind, v=None):
        writes.append(v)
        return stage(self, df, kind, v)

    monkeypatch.setattr(LogTxTable, "_stage_segment", counted)
    box = {}
    jobs = jobs_started(spark, lambda: box.setdefault(
        "v", rep.apply_changes(diff)))
    assert box["v"] == 2 and len(writes) == 2
    # one job materializes the diff, one per staged segment write
    assert jobs == 1 + len(writes)
    assert sorted(map(tuple, rep.read().collect())) == sorted(
        map(tuple, t.read(version=v2).collect()))
