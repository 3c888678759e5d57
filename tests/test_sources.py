"""Format layer tests: DSV/TSKV/SchemafulDsv readers, remote copy,
compaction."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows_set
from ytsaurus_spark.sources import (
    compact_table,
    read_dsv,
    read_schemaful_dsv,
    read_table,
    read_tskv,
    remote_copy,
    write_table,
)


@pytest.fixture()
def tmp():
    with tempfile.TemporaryDirectory() as d:
        yield d


def test_dsv_roundtrip(spark, tmp):
    p = os.path.join(tmp, "t.dsv")
    with open(p, "w") as f:
        f.write("1\talice\n2\tbob\n")
    df = read_dsv(spark, p, schema="id int, name string")
    assert rows_set(df) == {(1, "alice"), (2, "bob")}


def test_schemaful_dsv(spark, tmp):
    p = os.path.join(tmp, "t.tsv")
    with open(p, "w") as f:
        f.write("10\tx\n20\ty\n")
    df = read_schemaful_dsv(spark, p, ["k", "v"])
    assert rows_set(df) == {("10", "x"), ("20", "y")}


def test_tskv(spark, tmp):
    p = os.path.join(tmp, "t.tskv")
    with open(p, "w") as f:
        f.write("tskv\tuser=alice\tage=30\n")
        f.write("tskv\tuser=bob\tage=25\tcity=NYC\n")
    df = read_tskv(spark, p).select(
        F.element_at("kv", "user").alias("user"),
        F.element_at("kv", "age").cast("int").alias("age"),
        F.element_at("kv", "city").alias("city"),
    )
    assert rows_set(df) == {("alice", 30, None), ("bob", 25, "NYC")}


def test_remote_copy_preserves_data(spark, tmp, sf_dir):
    src = os.path.join(sf_dir, "region.parquet")
    dst = os.path.join(tmp, "region_copy")
    remote_copy(spark, src, dst)
    a = rows_set(spark.read.parquet(src))
    b = rows_set(spark.read.parquet(dst))
    assert a == b


def test_compact_table(spark, tmp):
    path = os.path.join(tmp, "many")
    df = spark.range(1000).withColumnRenamed("id", "k")
    df.repartition(16).write.parquet(path)
    assert len(glob.glob(os.path.join(path, "*.parquet"))) >= 16
    compact_table(spark, path, target_files=2)
    assert len(glob.glob(os.path.join(path, "*.parquet"))) <= 2
    assert spark.read.parquet(path).count() == 1000


def test_compact_table_keeps_sorted_by(spark, tmp):
    from ytsaurus_spark.sources.formats import table_attributes, write_sorted_table

    path = os.path.join(tmp, "sorted")
    df = spark.range(100).withColumnRenamed("id", "k").repartition(8)
    write_sorted_table(df, path, ["k"])
    compact_table(spark, path, target_files=1)
    assert table_attributes(path)["sorted_by"] == ["k"]
    assert [r.k for r in spark.read.parquet(path).collect()] == list(range(100))


def test_read_table_bad_format(spark):
    with pytest.raises(ValueError):
        read_table(spark, "/nope", fmt="yson")


def test_write_table_partitioned(spark, tmp):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "k bigint, part string"
    )
    out = os.path.join(tmp, "parted")
    write_table(df, out, partition_by=["part"])
    assert os.path.isdir(os.path.join(out, "part=a"))
    # partition pruning: reading one partition value touches only that dir
    one = spark.read.parquet(out).filter(F.col("part") == "a")
    assert one.count() == 2


def test_log_tx_table_lifecycle(spark, tmp):
    import os

    from ytsaurus_spark.sources.tx_table import LogTxTable

    path = os.path.join(tmp, "logt")
    t = LogTxTable(
        spark, path, key_cols=["k"], aggregates={"cnt": "sum", "fst": "first"}
    )
    base = spark.createDataFrame(
        [(1, "a", 10, 100), (2, "b", 20, 200)], "k bigint, s string, cnt bigint, fst bigint"
    )
    v0 = t.init(base)
    # upsert: plain overwritten by newest, cnt folds, fst keeps stored
    v1 = t.insert_rows(
        spark.createDataFrame([(1, "a2", 5, 999), (3, "c", 7, 300)],
                              "k bigint, s string, cnt bigint, fst bigint")
    )
    assert (v0, v1) == (0, 1)
    assert rows_set(t.read()) == {(1, "a2", 15, 100), (2, "b", 20, 200), (3, "c", 7, 300)}
    # time travel by version
    assert rows_set(t.read(0)) == rows_set(base)
    # delete tombstone discards all earlier writes
    v2 = t.delete_rows(spark.createDataFrame([(1,)], "k bigint"))
    assert rows_set(t.read().select("k")) == {(2,), (3,)}
    # re-insert after delete starts fresh (tombstone reset, not a fold)
    t.insert_rows(
        spark.createDataFrame([(1, "z", 1, 1)], "k bigint, s string, cnt bigint, fst bigint")
    )
    assert rows_set(t.read()) == {(1, "z", 1, 1), (2, "b", 20, 200), (3, "c", 7, 300)}
    # partial-column upsert: omitted plain col keeps stored value
    t.insert_rows(
        spark.createDataFrame([(2, 3)], "k bigint, cnt bigint"), update=True
    )
    assert rows_set(t.read()) == {(1, "z", 1, 1), (2, "b", 23, 200), (3, "c", 7, 300)}
    # compaction preserves state AND history
    before = rows_set(t.read())
    vc = t.compact()
    assert rows_set(t.read()) == before
    assert rows_set(t.read(v2 - 1)) == {(1, "a2", 15, 100), (2, "b", 20, 200), (3, "c", 7, 300)}
    # post-compaction commits still fold
    t.insert_rows(
        spark.createDataFrame([(2, "b2", 2, 0)], "k bigint, s string, cnt bigint, fst bigint")
    )
    assert rows_set(t.read()) == {(1, "z", 1, 1), (2, "b2", 25, 200), (3, "c", 7, 300)}
    # lookup prunes to the key set
    assert rows_set(t.lookup_rows(spark.createDataFrame([(2,)], "k bigint"))) == {
        (2, "b2", 25, 200)
    }
    # reopen from disk
    t2 = LogTxTable(spark, path, key_cols=["k"], aggregates={"cnt": "sum", "fst": "first"})
    assert t2.current_version() == vc + 1
    assert rows_set(t2.read()) == rows_set(t.read())


def test_log_tx_table_commit_cost_sublinear(spark, tmp):
    import os

    import pyarrow.parquet as pq

    from ytsaurus_spark.sources.tx_table import LogTxTable

    def seg_rows(path, v):
        d = os.path.join(path, f"s{v}")
        return sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    path = os.path.join(tmp, "biglog")
    t = LogTxTable(spark, path, key_cols=["k"])
    t.init(spark.range(20000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    v1 = t.insert_rows(
        spark.createDataFrame([(i, -1) for i in range(10)], "k bigint, v bigint")
    )
    v2 = t.delete_rows(spark.createDataFrame([(3,), (4,)], "k bigint"))
    # a commit writes the CHANGED rows, not the table
    assert seg_rows(path, v1) == 10
    assert seg_rows(path, v2) == 2
    assert seg_rows(path, 0) == 20000
    # and the merged read is still right
    assert t.read().count() == 20000 - 2
    assert t.read().filter("k = 5").collect()[0].v == -1


def test_log_tx_table_timestamp_read(spark, tmp):
    import os
    import time

    from ytsaurus_spark.sources.tx_table import LogTxTable

    t = LogTxTable(spark, os.path.join(tmp, "tslog"), key_cols=["k"])
    t.init(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    mid = time.time()
    time.sleep(0.01)
    t.insert_rows(spark.createDataFrame([(1, 99)], "k bigint, v bigint"))
    assert t.read(timestamp=mid).collect()[0].v == 10
    assert t.read(timestamp=time.time()).collect()[0].v == 99
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.read(timestamp=mid - 1e6)
    with _pytest.raises(ValueError):
        t.read(version=0, timestamp=mid)


def test_tx_table_commit_timetravel(spark, tmp):
    import os

    from ytsaurus_spark.sources.tx_table import LogTxTable

    t = LogTxTable(spark, os.path.join(tmp, "txt"), key_cols=["k"], aggregates={"cnt": "sum"})
    base = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, cnt bigint")
    v0 = t.init(base)
    v1 = t.insert_rows(spark.createDataFrame([(1, 5), (3, 7)], "k bigint, cnt bigint"))
    assert (v0, v1) == (0, 1)
    # current state folds cnt; time travel reads the original
    assert rows_set(t.read()) == {(1, 15), (2, 20), (3, 7)}
    assert rows_set(t.read(0)) == {(1, 10), (2, 20)}
    v2 = t.delete_rows(spark.createDataFrame([(2,)], "k bigint"))
    assert v2 == 2 and rows_set(t.read()) == {(1, 15), (3, 7)}
    # reopening from disk sees the same committed state
    t2 = LogTxTable(spark, os.path.join(tmp, "txt"), key_cols=["k"], aggregates={"cnt": "sum"})
    assert t2.current_version() == 2
    assert rows_set(t2.read(1)) == {(1, 15), (2, 20), (3, 7)}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t2.read(99)


def test_sorted_table_attribute_roundtrip(spark, tmp):
    import os

    from ytsaurus_spark.sources.formats import table_attributes, write_sorted_table

    df = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], "k bigint, s string")
    path = os.path.join(tmp, "sorted_t")
    write_sorted_table(df, path, sorted_by=["k"])
    assert table_attributes(path)["sorted_by"] == ["k"]
    vals = [r.k for r in spark.read.parquet(path).collect()]
    # parquet files written from range-partitioned sorted data read back in
    # order within each file; global order check via explicit sort is stable
    assert sorted(vals) == [1, 2, 3]


def test_compression_codecs(spark, tmp):
    import os

    from ytsaurus_spark.sources import read_table, write_table

    df = spark.range(1000).withColumnRenamed("id", "k")
    for codec in ("snappy", "zstd", "gzip"):
        p = os.path.join(tmp, f"c_{codec}")
        write_table(df, p, compression=codec)
        assert read_table(spark, p).count() == 1000


def test_reduce_multi_input(spark):
    import pandas as pd

    from ytsaurus_spark.operators.map_reduce import run_reduce_multi_input

    sales = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, amount bigint")
    refunds = spark.createDataFrame([(1, 4)], "k bigint, refund bigint")

    def reducer(pdf: pd.DataFrame) -> pd.DataFrame:
        # table-index contract: rows from both inputs, distinguishable
        by_table = pdf.groupby("__table_index")
        amount = pdf["amount"].dropna().sum() if 0 in by_table.groups else 0
        refund = pdf["refund"].dropna().sum() if 1 in by_table.groups else 0
        return pd.DataFrame(
            {"k": [pdf["k"].iloc[0]], "net": [int(amount) - int(refund)]}
        )

    out = run_reduce_multi_input(
        [sales, refunds], ["k"], reducer, "k bigint, net bigint"
    )
    assert {(r.k, r.net) for r in out.collect()} == {(1, 6), (2, 20)}


def test_merge_tables_auto_detect(spark, tmp):
    import os

    from ytsaurus_spark.sources.formats import merge_tables, write_sorted_table, write_table

    a = spark.createDataFrame([(1,), (3,)], "k bigint")
    b = spark.createDataFrame([(2,), (4,)], "k bigint")
    pa, pb = os.path.join(tmp, "sa"), os.path.join(tmp, "sb")
    write_sorted_table(a, pa, ["k"])
    write_sorted_table(b, pb, ["k"])
    merged = merge_tables(spark, [pa, pb])  # auto -> sorted (both sorted by k)
    assert [r.k for r in merged.collect()] == [1, 2, 3, 4]
    # one unsorted input -> unordered concat
    pc = os.path.join(tmp, "uc")
    write_table(b, pc)
    mixed = merge_tables(spark, [pa, pc])
    assert {r.k for r in mixed.collect()} == {1, 2, 3, 4}


def test_log_tx_table_row_level_mvcc(spark, tmp):
    import os
    import time

    from ytsaurus_spark.sources.tx_table import LogTxTable

    path = os.path.join(tmp, "mvcc")
    t = LogTxTable(spark, path, key_cols=["k"])
    t.init(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string"))
    ts_after_init = time.time()
    time.sleep(0.02)
    t.insert_rows(spark.createDataFrame([(1, "a2"), (3, "c")], "k bigint, s string"))
    t.delete_rows(spark.createDataFrame([(2,)], "k bigint"))

    keys = spark.createDataFrame([(1,), (2,)], "k bigint")
    # timestamped lookup: state as of the init commit
    old = t.lookup_rows(keys, timestamp=ts_after_init)
    assert rows_set(old) == {(1, "a"), (2, "b")}
    # latest lookup: key 2 tombstoned
    assert rows_set(t.lookup_rows(keys)) == {(1, "a2")}
    # versioned lookup by version number
    assert rows_set(t.lookup_rows(keys, version=0)) == {(1, "a"), (2, "b")}

    # per-row write timestamps: key 1 written at gen 1, key 3 at gen 1
    stamped = t.read(with_timestamps=True)
    assert set(stamped.columns) == {"k", "s", "__write_ts"}
    by_key = {r.k: r for r in stamped.collect()}
    assert by_key[1].s == "a2" and by_key[1]["__write_ts"] > ts_after_init
    segs = {s["v"]: s["ts"] for s in t._segments()}
    assert by_key[1]["__write_ts"] == pytest.approx(segs[1])
    assert by_key[3]["__write_ts"] == pytest.approx(segs[1])

    # full row history: every write + tombstone, newest first per key
    hist = t.versioned_lookup(spark.createDataFrame([(1,), (2,)], "k bigint"))
    recs = [(r.k, r["__gen"], r["__op"]) for r in hist.collect()]
    assert recs == [(1, 1, "u"), (1, 0, "u"), (2, 2, "d"), (2, 0, "u")]
    # history survives compaction (bases are derived, not writes)
    t.compact()
    hist2 = t.versioned_lookup(spark.createDataFrame([(2,)], "k bigint"))
    assert [(r.k, r["__gen"], r["__op"]) for r in hist2.collect()] == [(2, 2, "d"), (2, 0, "u")]


def test_log_tx_table_commit_many_matches_sequential(spark, tmp):
    """commit_many stages its segment writes concurrently but must be
    indistinguishable from the same commits made sequentially: same
    versions, same resolved state, same history, and publish-time commit
    stamps monotone with version order."""
    import os
    import time

    from ytsaurus_spark.sources.tx_table import LogTxTable

    seed = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k bigint, s string")
    ups = spark.createDataFrame([(1, "a2"), (4, "d")], "k bigint, s string")
    dels = spark.createDataFrame([(2,)], "k bigint")

    seq = LogTxTable(spark, os.path.join(tmp, "cm_seq"), key_cols=["k"])
    seq.init(seed)
    seq.insert_rows(ups)
    seq.delete_rows(dels)

    par = LogTxTable(spark, os.path.join(tmp, "cm_par"), key_cols=["k"])
    par.init(seed)
    t1 = time.time()
    assert par.commit_many([("u", ups), ("d", dels)]) == [1, 2]

    assert rows_set(par.read()) == rows_set(seq.read())
    assert rows_set(par.read(version=1)) == rows_set(seq.read(version=1))
    keys = spark.createDataFrame([(1,), (2,)], "k bigint")
    assert [
        (r.k, r["__gen"], r["__op"]) for r in par.versioned_lookup(keys).collect()
    ] == [(1, 1, "u"), (1, 0, "u"), (2, 2, "d"), (2, 0, "u")]
    # commit stamps are publish-time: monotone with version order and
    # after the pre-batch wall clock, so a timestamp read at t1 sees only
    # the init state even though both segments were staged concurrently
    segs = par._segments()
    assert segs[0]["ts"] <= t1 <= segs[1]["ts"] <= segs[2]["ts"]
    assert rows_set(par.read(timestamp=t1)) == rows_set(seed)
    with pytest.raises(ValueError):
        par.commit_many([("x", ups)])


def test_log_tx_table_subcommit_ordering(spark, tmp):
    import os

    from ytsaurus_spark.sources.tx_table import LogTxTable

    path = os.path.join(tmp, "subt")
    t = LogTxTable(spark, path, key_cols=["k"], aggregates={"cnt": "sum", "fst": "first"})
    t.init(
        spark.createDataFrame(
            [(1, "seed", 1, 100)], "k bigint, s string, cnt bigint, fst bigint"
        )
    )
    # ONE batch, three writes to the same key, ordered by seq:
    # plain column -> highest seq wins; sum folds all; first -> lowest seq
    # non-null beats... (stored gen 0 still beats the whole batch).
    batch = spark.createDataFrame(
        [(1, "w1", 10, None, 1), (1, "w3", 30, 300, 3), (1, "w2", 20, 200, 2),
         (2, "n1", 5, None, 1), (2, "n2", 6, 600, 2)],
        "k bigint, s string, cnt bigint, fst bigint, seq bigint",
    )
    t.insert_rows(batch, seq_col="seq")
    got = {r.k: (r.s, r.cnt, r.fst) for r in t.read().collect()}
    assert got[1] == ("w3", 61, 100)        # w3 wins plain; 1+10+30+20; seed first
    assert got[2] == ("n2", 11, 600)        # n2 wins plain; first non-null = seq2
    # versioned history exposes sub-positions newest-first within the commit
    hist = t.versioned_lookup(spark.createDataFrame([(1,)], "k bigint")).collect()
    subs = [r["__sub"] for r in hist if r["__gen"] == 1]
    assert subs == [3, 2, 1]
    # old read paths (no seq) still work after the sub-commit delta
    t.insert_rows(
        spark.createDataFrame(
            [(1, "plain", 1, None)], "k bigint, s string, cnt bigint, fst bigint"
        )
    )
    assert {r.k: r.s for r in t.read().collect()}[1] == "plain"


def test_replicated_table_sync_async_fallback(spark, tmp):
    import os

    from ytsaurus_spark.sources.replicas import ReplicatedTable, replica_states

    rt = ReplicatedTable(
        spark, os.path.join(tmp, "repl"), key_cols=["k"], aggregates={"n": "sum"}
    )
    rt.init(spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k bigint, s string, n bigint"))
    rt.add_replica("r_sync", "sync")
    rt.add_replica("r_async", "async")
    # write: sync replica commits with it, async lags
    rt.insert_rows(
        spark.createDataFrame([(1, "a2", 1), (3, "c", 1)], "k bigint, s string, n bigint")
    )
    st = replica_states(rt)
    assert st["r_sync"]["in_sync"] and not st["r_async"]["in_sync"]
    assert rt.replica_lag() == {"r_sync": 0, "r_async": 1}
    # in-sync read sees the new write; stale replica serves its version
    fresh = {r.k: (r.s, r.n) for r in rt.read(prefer=["r_async"]).collect()}
    assert fresh[1] == ("a2", 2) and fresh[3] == ("c", 1)
    stale = {r.k: r.s for r in rt.replicas["r_async"].table.read().collect()}
    assert stale[1] == "a" and 3 not in stale
    # background tick catches the async replica up
    assert rt.tick() == {"r_async": 1}
    assert set(rt.in_sync_replicas()) == {"r_async", "r_sync"}
    after = {r.k: (r.s, r.n) for r in rt.read(prefer=["r_async"]).collect()}
    assert after == fresh
    # no in-sync replica and require_sync -> falls back to main
    rt2 = ReplicatedTable(spark, os.path.join(tmp, "repl2"), key_cols=["k"])
    rt2.init(spark.createDataFrame([(9, "z")], "k bigint, s string"))
    assert {r.k for r in rt2.read().collect()} == {9}


def test_async_replica_ships_post_trim_base_across_a_version_gap(spark, tmp):
    # The main log trims history down to a compaction base; a replica still
    # at [s0] must accept s2 although s1 never reaches it (shipping has no
    # stale-version check, unlike a transaction publish).
    import time

    from ytsaurus_spark.sources.replicas import ReplicatedTable

    rt = ReplicatedTable(spark, os.path.join(tmp, "repl_gap"), key_cols=["k"])
    rt.init(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    lag = rt.add_replica("lag", "async")
    rt.insert_rows(spark.createDataFrame([(2, 20)], "k bigint, v bigint"))
    rt.main.compact()
    assert rt.main.trim_history(time.time() + 60) == 2
    assert rt.tick() == {"lag": 1}
    assert [s["v"] for s in lag.table._segments()] == [0, 2]
    assert rows_set(lag.table.read()) == rows_set(rt.main.read()) == {(1, 10), (2, 20)}


def test_log_tx_table_segment_range_pruning(spark, tmp):
    """Segments whose manifest key range cannot contain the requested keys
    are never opened: we MOVE a non-overlapping delta's directory away and
    the lookup must still succeed (file-level proof, not instrumentation)."""
    import os
    import shutil

    from ytsaurus_spark.sources.tx_table import LogTxTable

    path = os.path.join(tmp, "prunelog")
    t = LogTxTable(spark, path, key_cols=["k"])
    t.init(
        spark.createDataFrame(
            [(i, i * 10) for i in range(100)], "k bigint, v bigint"
        )
    )
    # s1: far-away key region; s2: overlapping updates
    v1 = t.insert_rows(
        spark.createDataFrame([(k, -k) for k in range(1000, 1010)], "k bigint, v bigint")
    )
    t.insert_rows(spark.createDataFrame([(5, 555)], "k bigint, v bigint"))
    segs = t._segments()
    assert segs[v1]["range"] == [1000, 1009]

    # hide the non-overlapping delta: any attempt to read it now fails
    shutil.move(os.path.join(path, f"s{v1}"), os.path.join(path, f"s{v1}.hidden"))

    keys = spark.createDataFrame([(5,), (7,)], "k bigint")
    got = {(r.k, r.v) for r in t.lookup_rows(keys).collect()}
    assert got == {(5, 555), (7, 70)}
    # ranged read prunes the same way
    got2 = {(r.k, r.v) for r in t.read(key_range=(0, 50)).collect()}
    assert len(got2) == 51 and (5, 555) in got2 and (7, 70) in got2
    # versioned history also skips it
    hist = t.versioned_lookup(keys).collect()
    assert {r.k for r in hist} == {5, 7}

    # restore and confirm the far segment is still consulted when asked for
    shutil.move(os.path.join(path, f"s{v1}.hidden"), os.path.join(path, f"s{v1}"))
    far = t.lookup_rows(spark.createDataFrame([(1005,)], "k bigint")).collect()
    assert far[0].v == -1005


def test_log_tx_table_pruned_to_empty(spark, tmp):
    """A lookup entirely outside every segment's range returns an empty
    frame with the right schema (every segment pruned)."""
    import os

    from ytsaurus_spark.sources.tx_table import LogTxTable

    path = os.path.join(tmp, "prunelog2")
    t = LogTxTable(spark, path, key_cols=["k"])
    t.init(spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint"))
    out = t.lookup_rows(spark.createDataFrame([(99,)], "k bigint"))
    assert out.columns == ["k", "v"]
    assert out.count() == 0


def test_yamr_roundtrip(spark, tmp):
    from ytsaurus_spark.sources.formats import read_yamr, write_yamr

    df = spark.createDataFrame(
        [("k1", "s1", "v with\ttab"), ("k2", "s2", "plain"), ("k3", None, "v3")],
        "key string, subkey string, value string",
    )
    p = f"{tmp}/yamr"
    write_yamr(df, p)
    back = read_yamr(spark, p, has_subkey=True)
    assert {tuple(r) for r in back.collect()} == {
        ("k1", "s1", "v with\ttab"),  # value keeps its embedded tab
        ("k2", "s2", "plain"),
        ("k3", "", "v3"),  # NULL writes as an empty field, never shifts
    }
    # two-field variant
    df2 = df.select("key", "value")
    p2 = f"{tmp}/yamr2"
    write_yamr(df2, p2)
    assert read_yamr(spark, p2).columns == ["key", "value"]


def test_yamred_dsv(spark, tmp):
    from ytsaurus_spark.sources.formats import read_yamred_dsv

    lines = ["k1\ta=1\tb=x", "k2\ta=2\tb=y"]
    p = f"{tmp}/yamred"
    spark.createDataFrame([(l,) for l in lines], "value string").write.text(p)
    out = {r.key: r.fields for r in read_yamred_dsv(spark, p).collect()}
    assert out == {"k1": {"a": "1", "b": "x"}, "k2": {"a": "2", "b": "y"}}


def test_webjson_envelope(spark):
    import json as _json

    from ytsaurus_spark.sources.formats import to_webjson

    df = spark.createDataFrame(
        [(1, "a", True, None)], "id bigint, s string, f boolean, x string"
    )
    env = _json.loads(to_webjson(df, limit=10))
    assert env["incomplete"] is False
    assert env["all_column_names"] == ["id", "s", "f", "x"]
    row = env["rows"][0]
    assert row["id"] == {"$type": "int64", "$value": "1"}
    assert row["f"] == {"$type": "boolean", "$value": "true"}
    assert row["x"] is None
    # truncation flag
    big = spark.range(5).select(F.col("id"))
    assert _json.loads(to_webjson(big, limit=3))["incomplete"] is True


def _two_tables(spark, tmp):
    from ytsaurus_spark.sources.tx_table import LogTxTable

    a = LogTxTable(spark, f"{tmp}/tx_a", ["k"])
    b = LogTxTable(spark, f"{tmp}/tx_b", ["k"])
    a.init(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    b.init(spark.createDataFrame([(1, 100)], "k bigint, v bigint"))
    return a, b


def test_multi_table_transaction_atomic_commit(spark, tmp):
    from ytsaurus_spark.sources.transactions import MultiTableTransaction

    a, b = _two_tables(spark, tmp)
    tx = MultiTableTransaction(f"{tmp}/coord")
    tx.insert_rows(a, spark.createDataFrame([(2, 20)], "k bigint, v bigint"))
    tx.delete_rows(b, spark.createDataFrame([(1,)], "k bigint"))
    # nothing visible pre-commit in EITHER table
    assert a.read().count() == 1 and b.read().count() == 1
    tx.commit()
    assert {(r.k, r.v) for r in a.read().collect()} == {(1, 10), (2, 20)}
    assert b.read().count() == 0
    # committed tx cannot be reused
    with pytest.raises(RuntimeError):
        tx.insert_rows(a, spark.createDataFrame([(3, 3)], "k bigint, v bigint"))


def test_multi_table_transaction_crash_recovery(spark, tmp):
    # Simulate a crash AFTER the intent record is durable but BEFORE any
    # manifest publishes: recover() must roll the whole tx forward.
    import json as _json
    import os as _os

    from ytsaurus_spark.sources import transactions as T
    from ytsaurus_spark.sources import tx_table as TT

    a, b = _two_tables(spark, tmp)
    coord = f"{tmp}/coord2"
    tx = T.MultiTableTransaction(coord)
    tx.insert_rows(a, spark.createDataFrame([(5, 50)], "k bigint, v bigint"))
    tx.insert_rows(b, spark.createDataFrame([(5, 500)], "k bigint, v bigint"))
    # run prepare+intent by hand (commit minus the publish loop)
    real_publish = TT.publish_entry
    published = []
    try:
        TT.publish_entry = lambda p, e: published.append((p, e))  # swallow
        tx.commit()
    finally:
        TT.publish_entry = real_publish
    # "crash": intent exists (commit() removed it - recreate from captured)
    intent = {"tx_id": tx.tx_id,
              "participants": [{"table_path": p, "entry": e} for p, e in published]}
    with open(_os.path.join(coord, f"tx_{tx.tx_id}.json"), "w") as f:
        _json.dump(intent, f)
    # neither manifest saw the publish
    assert a.read().count() == 1 and b.read().count() == 1
    assert T.recover(coord) == 1
    assert {(r.k, r.v) for r in a.read().collect()} == {(1, 10), (5, 50)}
    assert {(r.k, r.v) for r in b.read().collect()} == {(1, 100), (5, 500)}
    # second recover is a no-op (idempotent publish)
    assert T.recover(coord) == 0


def test_multi_table_transaction_conflict_detection(spark, tmp):
    # A writer that lands BETWEEN staging and publish must make the
    # publish fail loudly, never corrupt the log. Drive publish_entry
    # directly (the commit path calls it) with the two conflict shapes.
    from ytsaurus_spark.sources import tx_table as T

    a, _ = _two_tables(spark, tmp)
    staged = {"v": a.current_version() + 1, "kind": "delta",
              "ts": 0.0, "range": None}
    a.compact()  # interleaved commit takes that version (as a base)
    with pytest.raises(RuntimeError, match="conflicting commit"):
        T.publish_entry(a.path, staged)
    # a staged version that is neither present nor exactly next is stale
    gap = dict(staged, v=a.current_version() + 2)
    with pytest.raises(RuntimeError, match="stale"):
        T.publish_entry(a.path, gap)


def test_multi_table_transaction_foreign_delta_conflict(spark, tmp):
    # A foreign writer's DELTA landing on the staged version between
    # stage and publish must raise, not be mistaken for our own publish
    # (identity = the entry's tx tag, not just kind).
    from ytsaurus_spark.sources import tx_table as T

    a, _ = _two_tables(spark, tmp)
    staged = {"v": a.current_version() + 1, "kind": "delta",
              "ts": 0.0, "range": None, "tx": "me"}
    a.insert_rows(spark.createDataFrame([(9, 90)], "k bigint, v bigint"))
    with pytest.raises(RuntimeError, match="conflicting commit"):
        T.publish_entry(a.path, staged)
    # re-publishing our OWN entry stays a no-op
    mine = dict(a._segments()[-1])
    T.publish_entry(a.path, {**mine, "tx": mine.get("tx")})


def test_multi_table_transaction_update_same_table_refused(spark, tmp):
    from ytsaurus_spark.sources.transactions import MultiTableTransaction

    a, _ = _two_tables(spark, tmp)
    tx = MultiTableTransaction(f"{tmp}/coord4")
    tx.insert_rows(a, spark.createDataFrame([(2, 20)], "k bigint, v bigint"))
    with pytest.raises(ValueError, match="full rows"):
        tx.insert_rows(
            a, spark.createDataFrame([(2,)], "k bigint"), update=True
        )


# -- Arrow IPC DataSource (EFormatType::Arrow) ----------------------------


def test_arrow_roundtrip_all_types(spark, tmp_path):
    from pyspark.sql import functions as F

    from ytsaurus_spark.sources.arrow import read_arrow, write_arrow

    df = spark.range(100).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 1.5).alias("x"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
        F.when(F.col("id") % 3 == 0, F.col("id")).alias("maybe"),
        F.array(F.col("id"), F.col("id") * 2).alias("arr"),
        (F.col("id") % 2 == 0).alias("b"),
    )
    path = str(tmp_path / "t")
    write_arrow(df, path)
    back = read_arrow(spark, path)
    # self-describing: schema read from the IPC footer
    assert back.schema == df.schema
    assert back.count() == 100
    assert back.filter(F.col("maybe").isNull()).count() == 66
    got = {r["k"]: r for r in back.collect()}
    assert got[6]["arr"] == [6, 12] and got[6]["s"] == "v6" and got[6]["b"]


def test_arrow_schema_projection(spark, tmp_path):
    from pyspark.sql import functions as F

    from ytsaurus_spark.sources.arrow import read_arrow, write_arrow

    df = spark.range(10).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    path = str(tmp_path / "t2")
    write_arrow(df, path)
    # narrower explicit schema prunes columns at the batch level
    back = read_arrow(spark, path, schema="b long")
    assert back.columns == ["b"]
    assert sorted(r["b"] for r in back.collect()) == [i * 2 for i in range(10)]


def test_table_lock_conflict_matrix(spark, tmp):
    from ytsaurus_spark.sources import transactions as T

    a, _ = _two_tables(spark, tmp)
    coord = f"{tmp}/coord_locks"
    t1, t2, t3 = (T.MultiTableTransaction(coord) for _ in range(3))
    t1.lock(a, "shared")
    t2.lock(a, "shared")  # shared + shared coexist
    import pytest as _pytest

    with _pytest.raises(T.LockConflictError):
        t3.lock(a, "exclusive")  # exclusive blocked by shared holders
    t1.commit()
    t2.abort()  # both releases
    t3.lock(a, "exclusive")  # now free
    t4 = T.MultiTableTransaction(coord)
    with _pytest.raises(T.LockConflictError):
        t4.lock(a, "shared")  # shared blocked by exclusive
    with _pytest.raises(T.LockConflictError):
        t4.insert_rows(a, spark.createDataFrame([(9, 9)], "k bigint, v bigint"))
    t3.abort()


def test_snapshot_lock_pins_reads(spark, tmp):
    from ytsaurus_spark.sources import transactions as T

    a, _ = _two_tables(spark, tmp)
    coord = f"{tmp}/coord_snap"
    reader = T.MultiTableTransaction(coord)
    reader.lock(a, "snapshot")
    writer = T.MultiTableTransaction(coord)
    writer.insert_rows(a, spark.createDataFrame([(2, 20)], "k bigint, v bigint"))
    writer.commit()
    # snapshot reader still sees the pre-commit state; a fresh read sees both
    assert reader.read(a).count() == 1
    assert a.read().count() == 2
    reader.commit()


def test_write_takes_implicit_shared_lock_and_clear_locks(spark, tmp):
    from ytsaurus_spark.sources import transactions as T

    a, _ = _two_tables(spark, tmp)
    coord = f"{tmp}/coord_impl"
    w = T.MultiTableTransaction(coord)
    w.insert_rows(a, spark.createDataFrame([(3, 30)], "k bigint, v bigint"))
    assert [l["mode"] for l in T._read_locks(a.path)] == ["shared"]
    # a crashed tx's lock is swept administratively
    assert T.clear_locks(a.path) == 1
    assert T._read_locks(a.path) == []
    w._held.clear()  # lock swept out from under it; commit stays clean
    w.commit()
    assert a.read().count() == 2


def test_freeze_unfreeze_tablet(spark, tmp):
    import pytest as _pytest

    from ytsaurus_spark.sources.tx_table import FrozenTabletError, LogTxTable

    t = LogTxTable(spark, f"{tmp}/frozen_t", ["k"])
    t.init(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    t.freeze()
    assert t.tablet_state() == "frozen"
    assert t.read().count() == 1  # reads still served
    with _pytest.raises(FrozenTabletError):
        t.insert_rows(spark.createDataFrame([(2, 20)], "k bigint, v bigint"))
    with _pytest.raises(FrozenTabletError):
        t.compact()
    t.unfreeze()
    t.insert_rows(spark.createDataFrame([(2, 20)], "k bigint, v bigint"))
    assert t.read().count() == 2


def _segment_dirs(path: str) -> set[str]:
    import re

    return {d for d in os.listdir(path) if re.fullmatch(r"s\d+", d)}


def _manifest_dirs(t) -> set[str]:
    return {f"s{s['v']}" for s in t._segments()}


def test_frozen_insert_leaves_no_orphan_segment(spark, tmp):
    # The mount gate runs before the segment write: a rejected insert
    # must not leave an s{v} directory the manifest never names.
    from ytsaurus_spark.sources.tx_table import FrozenTabletError, LogTxTable

    t = LogTxTable(spark, f"{tmp}/frozen_orphan", ["k"])
    t.init(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    t.insert_rows(spark.createDataFrame([(2, 20)], "k bigint, v bigint"))
    t.freeze()
    with pytest.raises(FrozenTabletError):
        t.insert_rows(spark.createDataFrame([(3, 30)], "k bigint, v bigint"))
    assert t.current_version() == 1
    assert _segment_dirs(t.path) == _manifest_dirs(t) == {"s0", "s1"}


def test_transaction_on_frozen_participant_aborts(spark, tmp):
    # A frozen participant fails the transaction at staging, before the
    # intent is written: both tables keep their state and the other
    # participant's staged segment is removed.
    from ytsaurus_spark.sources.transactions import MultiTableTransaction
    from ytsaurus_spark.sources.tx_table import FrozenTabletError

    a, b = _two_tables(spark, tmp)
    b.freeze()
    coord = f"{tmp}/coord_frozen"
    tx = MultiTableTransaction(coord)
    tx.insert_rows(a, spark.createDataFrame([(2, 20)], "k bigint, v bigint"))
    tx.insert_rows(b, spark.createDataFrame([(2, 200)], "k bigint, v bigint"))
    with pytest.raises(FrozenTabletError):
        tx.commit()
    tx.abort()
    assert (a.current_version(), b.current_version()) == (0, 0)
    assert rows_set(a.read()) == {(1, 10)} and rows_set(b.read()) == {(1, 100)}
    for t in (a, b):
        assert _segment_dirs(t.path) == {"s0"}
    assert not [n for n in os.listdir(coord) if n.startswith("tx_")]


def test_frozen_trim_history_is_rejected(spark, tmp):
    # Frozen tablets suspend compaction, and retention trimming is
    # compaction: nothing may be reclaimed while frozen.
    import time

    from ytsaurus_spark.sources.tx_table import FrozenTabletError, LogTxTable

    t = LogTxTable(spark, f"{tmp}/frozen_trim", ["k"])
    t.init(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    t.insert_rows(spark.createDataFrame([(2, 20)], "k bigint, v bigint"))
    t.insert_rows(spark.createDataFrame([(3, 30)], "k bigint, v bigint"))
    t.compact()
    t.freeze()
    with pytest.raises(FrozenTabletError):
        t.trim_history(time.time() + 60)
    assert _segment_dirs(t.path) == _manifest_dirs(t) == {"s0", "s1", "s2", "s3"}
    assert rows_set(t.read(version=0)) == {(1, 10)}


def test_recover_rolls_forward_once_participant_unfrozen(spark, tmp, monkeypatch):
    # A decided transaction (intent written) whose participant is frozen
    # before its publish stays decided: recover() fails while the table
    # is frozen and rolls the transaction forward after unfreeze().
    from ytsaurus_spark.sources import transactions as T
    from ytsaurus_spark.sources import tx_table as TT

    a, b = _two_tables(spark, tmp)
    coord = f"{tmp}/coord_refreeze"
    tx = T.MultiTableTransaction(coord)
    tx.insert_rows(a, spark.createDataFrame([(3, 30)], "k bigint, v bigint"))
    tx.insert_rows(b, spark.createDataFrame([(3, 300)], "k bigint, v bigint"))
    real_publish = TT.publish_entry

    def freeze_b_then_publish(path, entry):
        b.freeze()  # frozen after the decision, before any publish
        real_publish(path, entry)

    monkeypatch.setattr(TT, "publish_entry", freeze_b_then_publish)
    with pytest.raises(TT.FrozenTabletError):
        tx.commit()
    monkeypatch.undo()
    assert b.current_version() == 0
    with pytest.raises(RuntimeError, match="unrecoverable"):
        T.recover(coord)
    assert b.current_version() == 0
    b.unfreeze()
    assert T.recover(coord) == 1
    assert rows_set(a.read()) == {(1, 10), (3, 30)}
    assert rows_set(b.read()) == {(1, 100), (3, 300)}
