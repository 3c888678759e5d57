"""The five byte-derived width rules share one input-size measurement.

Each rule is ceil(local input bytes / maxPartitionBytes) combined with
the cluster parallelism or the session shuffle width:

- ``spread_scan`` spreads a scan with fewer splits than cores;
- ``keyed_cache_width`` clamps the byte count to the shuffle width;
- ``python_stage_width`` floors it at the cluster parallelism;
- ``_state_width`` narrows the streaming shuffle width to it;
- ``_small_star_input`` tests bytes < one split per core.

The decision table evaluates every rule at the byte totals around each
threshold. Its literals are the outputs of the rules as they were before
the measurement was shared, so the refactor is a no-op on every row.
"""

from __future__ import annotations

import os
import shutil
import types

import pytest

from ytsaurus_spark.operators import (
    keyed_cache_width,
    local_input_bytes,
    python_stage_width,
    spread_scan,
)
from ytsaurus_spark.queries.streaming_q import _state_width
from ytsaurus_spark.yql import _small_star_input

SPLIT = 1024  # maxPartitionBytes, set as "1k" to go through conf_bytes
WIDTH = 8  # session shuffle width


class _Conf:
    def __init__(self, values: dict):
        self._values = dict(values)

    def get(self, key, default=None):
        return self._values.get(key, default)

    def set(self, key, value):
        self._values[key] = str(value)


class _Session:
    """The slice of a SparkSession the width rules read."""

    def __init__(self, dp: int, split: str = "1k"):
        self.conf = _Conf({
            "spark.sql.files.maxPartitionBytes": split,
            "spark.sql.shuffle.partitions": str(WIDTH),
        })
        self.sparkContext = types.SimpleNamespace(defaultParallelism=dp)


class _Frame:
    """The slice of a DataFrame the width rules read."""

    def __init__(self, spark, files):
        self.sparkSession = spark
        self._files = list(files)

    def inputFiles(self):
        return list(self._files)

    def repartition(self, n):
        return ("repartition", n)


def _sparse(path, size: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.truncate(size)


def _totals(dp: int) -> dict[str, int]:
    m = SPLIT
    return {
        "0": 0, "1": 1, "m-1": m - 1, "m": m, "m+1": m + 1,
        "m*(dp-1)": m * (dp - 1), "m*dp-1": m * dp - 1,
        "m*dp": m * dp, "m*dp+1": m * dp + 1,
    }


def _decide(sf_dir, dp: int, total: int):
    """(spread_scan width or None, keyed_cache_width, python_stage_width,
    _state_width, _small_star_input) over one table of ``total`` bytes."""
    table = os.path.join(sf_dir, "t.parquet")
    _sparse(table, total)
    spark = _Session(dp)
    frame = _Frame(spark, ["file://" + table])
    spread = spread_scan(frame)
    with _state_width(spark, sf_dir):
        state = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(WIDTH)
    return (
        None if spread is frame else spread[1],
        keyed_cache_width(frame),
        python_stage_width(frame),
        state,
        _small_star_input(spark, sf_dir),
    )


# (dp, byte total) -> (spread, keyed, python, state, small star)
EXPECTED = {
    (1, "0"): (None, 1, 1, 1, True),
    (1, "1"): (None, 1, 1, 1, True),
    (1, "m-1"): (None, 1, 1, 1, True),
    (1, "m"): (None, 1, 1, 1, False),
    (1, "m+1"): (None, 2, 2, 2, False),
    (1, "m*(dp-1)"): (None, 1, 1, 1, True),
    (1, "m*dp-1"): (None, 1, 1, 1, True),
    (1, "m*dp"): (None, 1, 1, 1, False),
    (1, "m*dp+1"): (None, 2, 2, 2, False),
    (4, "0"): (4, 1, 4, 1, True),
    (4, "1"): (4, 1, 4, 1, True),
    (4, "m-1"): (4, 1, 4, 1, True),
    (4, "m"): (4, 1, 4, 1, True),
    (4, "m+1"): (4, 2, 4, 2, True),
    (4, "m*(dp-1)"): (4, 3, 4, 3, True),
    (4, "m*dp-1"): (None, 4, 4, 4, True),
    (4, "m*dp"): (None, 4, 4, 4, False),
    (4, "m*dp+1"): (None, 5, 5, 5, False),
}


@pytest.mark.parametrize("dp", [1, 4])
def test_decision_table(tmp_path, dp):
    got = {}
    for label, total in _totals(dp).items():
        got[(dp, label)] = _decide(str(tmp_path / label), dp, total)
    assert got == {k: v for k, v in EXPECTED.items() if k[0] == dp}


def test_directory_tables_are_measured_by_their_files(tmp_path):
    """A Spark output directory counts its part files, not its inode."""
    sf_dir = str(tmp_path)
    _sparse(os.path.join(sf_dir, "lineitem.parquet", "part-00000.parquet"),
            600 << 20)
    spark = _Session(dp=4, split="128m")
    assert not _small_star_input(spark, sf_dir)


def test_uri_encoded_input_files(spark, sf_dir, tmp_path):
    """``inputFiles()`` percent-encodes the path; the rules decode it."""
    d = tmp_path / "sp ace"
    d.mkdir()
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), d / "orders.parquet")
    orders = spark.read.parquet(str(d / "orders.parquet"))
    assert any("sp%20ace" in f for f in orders.inputFiles())
    dp = spark.sparkContext.defaultParallelism
    assert python_stage_width(orders) == dp
    assert keyed_cache_width(orders) == 1
    assert (spread_scan(orders) is not orders) == (dp > 1)


def test_unknown_inputs_keep_the_default(spark):
    """A file-less frame or a non-local path list has no local byte size:
    spread_scan leaves the frame, keyed_cache_width keeps the session
    width, python_stage_width declines to pin, the star is not small."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = spark.range(10)
    remote = _Frame(spark, ["hdfs://nn/sf/orders.parquet/part-0.parquet"])
    for frame in (ranged, remote):
        assert spread_scan(frame) is frame
        assert keyed_cache_width(frame) == width
        assert python_stage_width(frame) is None
    assert not _small_star_input(spark, "hdfs://nn/sf")


def test_local_input_bytes(tmp_path):
    table = tmp_path / "sp ace" / "t.parquet"
    _sparse(str(table / "part-0.parquet"), 10)
    _sparse(str(table / "sub" / "part-1.parquet"), 5)
    _sparse(str(tmp_path / "empty.parquet"), 0)
    (tmp_path / "no_files").mkdir()
    uri = "file://" + str(table / "part-0.parquet").replace(" ", "%20")
    assert local_input_bytes([str(table)]) == 15
    assert local_input_bytes([uri]) == 10
    assert local_input_bytes([str(tmp_path / "empty.parquet")]) == 0
    for unknown in ([], [str(tmp_path / "no_files")],
                    [str(tmp_path / "missing.parquet")],
                    [str(table), "hdfs://nn/sf/t.parquet"]):
        assert local_input_bytes(unknown) is None


def test_state_width_keeps_the_session_width_on_unknown_input():
    spark = _Session(dp=4)
    with _state_width(spark, "hdfs://nn/sf/events.parquet"):
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(WIDTH)
