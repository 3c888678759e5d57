"""Statement sessions (``catalog.statement_session``): every CHYT and YQL
statement runs in a clone of a resident template. The clone must isolate
the statement as a fresh session did, the template must follow the
fixture listing, and the JVM method the clone comes from must stay
reachable."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import SparkSession

from ytsaurus_spark import catalog
from ytsaurus_spark.catalog import Catalog
from ytsaurus_spark.chyt import chyt_query
from ytsaurus_spark.yql import _star_session, yql_select

_NATION = "SELECT count(*) AS n FROM `//home/tpch/nation`;"

# (template flavour, one statement returning nation's row count as ``n``)
ENTRIES = {
    "chyt": lambda spark, d: chyt_query(
        spark, "select count(*) as n from nation", sf_dir=d),
    "yql": lambda spark, d: yql_select(spark, _NATION, sf_dir=d, star=False),
    "star": lambda spark, d: yql_select(spark, _NATION, sf_dir=d),
}


def _template(spark, sf_dir, flavour):
    key = (id(spark.sparkContext), os.path.abspath(sf_dir), flavour)
    return catalog._templates[key][1]


def test_clone_session_is_reachable(spark):
    """``cloneSession`` is ``private[sql]`` on the JVM side, public in the
    bytecode py4j sees; the clone copies temp views and conf one way."""
    template = spark.newSession()
    template.range(3).createOrReplaceTempView("clone_pin")
    template.conf.set("spark.sql.shuffle.partitions", "5")
    clone = SparkSession(spark.sparkContext,
                         template._jsparkSession.cloneSession())
    assert clone.table("clone_pin").count() == 3
    assert clone.conf.get("spark.sql.shuffle.partitions") == "5"
    clone.catalog.dropTempView("clone_pin")
    clone.conf.set("spark.sql.shuffle.partitions", "7")
    assert template.catalog.tableExists("clone_pin")
    assert template.conf.get("spark.sql.shuffle.partitions") == "5"


@pytest.mark.parametrize("flavour", sorted(ENTRIES))
def test_statement_isolation(spark, sf_dir, flavour):
    run = ENTRIES[flavour]
    first = run(spark, sf_dir).sparkSession
    first.range(1).createOrReplaceTempView("leak_probe")
    first.conf.set("spark.sql.shuffle.partitions", "3")
    second = run(spark, sf_dir)
    assert second.collect()[0].n == 25
    nxt = second.sparkSession
    assert not nxt.catalog.tableExists("leak_probe")
    assert nxt.conf.get("spark.sql.shuffle.partitions") != "3"
    template = _template(spark, sf_dir, flavour)
    assert not template.catalog.tableExists("leak_probe")
    assert template.conf.get("spark.sql.shuffle.partitions") != "3"
    assert not spark.catalog.tableExists("leak_probe")


def test_star_pragmas_stay_in_their_statement(spark, sf_dir):
    """A PRAGMA of one star statement used to set its conf on the shared
    star session, so every later star statement inherited it."""
    conf = "spark.sql.autoBroadcastJoinThreshold"
    before = _star_session(spark, sf_dir).conf.get(conf)
    df = yql_select(
        spark, 'PRAGMA yt.MapJoinLimit="1K"; ' + _NATION, sf_dir=sf_dir)
    assert df.collect()[0].n == 25
    assert df.sparkSession.conf.get(conf) == "1024"
    assert _star_session(spark, sf_dir).conf.get(conf) == before
    assert yql_select(spark, _NATION, sf_dir=sf_dir).sparkSession.conf.get(
        conf) == before


def test_yson_function_in_later_statement(spark, sf_dir):
    for _ in range(2):
        row = chyt_query(
            spark, "select YPathInt64('{a=7}', '/a') as v, "
                   "count(*) as n from region", sf_dir=sf_dir,
        ).collect()[0]
        assert (row.v, row.n) == (7, 5)


def test_overwritten_fixture_replaces_templates(spark, sf_dir, tmp_path):
    d = str(tmp_path / "sf")
    shutil.copytree(sf_dir, d)
    for run in ENTRIES.values():
        assert run(spark, d).collect()[0].n == 25
    # materialize one persisted star view, then find its cached RDD
    jsc = spark.sparkContext._jsc
    baseline = set(jsc.getPersistentRDDs().keySet())
    _star_session(spark, d).sql("select count(*) from item").collect()
    star_rdds = set(jsc.getPersistentRDDs().keySet()) - baseline
    assert star_rdds
    old_star = _template(spark, d, "star")

    Catalog(spark, d).create_table(
        "nation",
        spark.createDataFrame(
            [(0, "X", 0)], "n_nationkey int, n_name string, n_regionkey int"
        ),
        mode="overwrite",
    )
    for flavour, run in ENTRIES.items():
        assert run(spark, d).collect()[0].n == 1, flavour
    assert _template(spark, d, "star") is not old_star
    # the replaced template's views left the shared CacheManager
    assert star_rdds.isdisjoint(set(jsc.getPersistentRDDs().keySet()))
