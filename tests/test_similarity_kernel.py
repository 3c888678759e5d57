"""Differential tests: the similarity operators' Arrow pair kernel against
its semantic reference, the SQL fold built from ``_dot``/``_bucket_expr``
(and ``_with_cell`` for IVF) evaluated with spark.sql.ansi.enabled=false.

With ANSI off the fold gives NULL for a zero cosine denominator and for an
out-of-range LSH element, which is what the kernel emits; with ANSI on it
raises instead. Inputs are generated on fixed seeds and hold NULL and
duplicate ids, NaN elements, zero, NULL and ragged vectors, NULL elements,
empty frames and ids of several atomic types. Rows compare after each
operator's own round(…, 4), with NaN equal to NaN.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import math
import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ytsaurus_spark.operators import similarity as S
from ytsaurus_spark.operators.similarity import _bucket_expr, _dot, _with_cell

DIM = 3
SCHEMA = "vec_id {}, embedding array<float>"
ID_TYPES = {
    "bigint": lambda i: i,
    "string": lambda i: f"v{(i * 7) % 23}",
    "decimal(10,2)": lambda i: decimal.Decimal(i * 25) / 100,
    "date": lambda i: datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
    "timestamp": lambda i: datetime.datetime(2020, 1, 1)
    + datetime.timedelta(seconds=37 * i),
    "binary": lambda i: bytes([(i * 73) % 256]),
}


@contextlib.contextmanager
def ansi_off(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def canon(rows):
    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    return sorted((tuple(norm(v) for v in r) for r in rows), key=repr)


def _vec(rng, dim=DIM):
    r = rng.random()
    if r < 0.06:
        return None
    if r < 0.12:
        return [0.0] * dim
    v = [rng.choice([-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0]) for _ in range(dim)]
    if r < 0.18:
        v[rng.randrange(dim)] = None
    elif r < 0.24:
        v[rng.randrange(dim)] = float("nan")
    elif r < 0.30:
        v = v[: rng.choice([0, dim - 1])] if rng.random() < 0.5 else v + [1.0]
    return v


def gen(spark, seed, id_type="bigint", n=28, n_q=7):
    """(emb, queries): ``n`` candidate rows with NULL and duplicate ids
    among them; queries are the first ``n_q`` of them plus a duplicate-id,
    a NULL-id and a ragged row of their own."""
    rng = random.Random(seed)
    conv = ID_TYPES[id_type]
    ids = []
    for i in range(n):
        r = rng.random()
        ids.append(None if r < 0.1 else ids[rng.randrange(i)] if r < 0.2 and i
                   else conv(i))
    rows = [(ids[i], _vec(rng)) for i in range(n)]
    extra = [(ids[1], _vec(rng)), (None, _vec(rng)), (conv(n + 1), [1.0, 2.0])]
    schema = SCHEMA.format(id_type)
    return (
        spark.createDataFrame(rows, schema),
        spark.createDataFrame(rows[:n_q] + extra, schema),
    )


# --- the fold reference ------------------------------------------------------


def _cos(scored):
    return scored.filter(F.col("q_id") != F.col("c_id")).withColumn(
        "cosine", F.expr(f"{_dot('qv', 'cv')} / sqrt(_qq * _cc)")
    )


def _q(df, *extra):
    return df.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), *extra
    ).withColumn("_qq", F.expr(_dot("qv", "qv")))


def _c(df, *extra):
    return df.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv"), *extra
    ).withColumn("_cc", F.expr(_dot("cv", "cv")))


def _semi(emb, queries):
    return emb.join(queries.select("vec_id"), "vec_id", "left_semi")


def _rank(scored, k, name):
    w = W.partitionBy("q_id").orderBy(F.col(name).desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", F.round(name, 4).alias(name),
                F.col("rank").cast("int").alias("rank"))
    )


def ref_cosine_topk(emb, queries, k):
    return _rank(_cos(_c(emb).join(F.broadcast(_q(queries)))), k, "cosine")


def ref_mips_topk(emb, queries, k):
    scored = (
        _c(emb).join(F.broadcast(_q(queries)))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("dot", F.expr(_dot("qv", "cv")))
    )
    return _rank(scored, k, "dot")


def ref_range_search(emb, queries, threshold):
    return (
        _cos(_c(emb).join(F.broadcast(_q(queries))))
        .filter(F.col("cosine") >= threshold)
        .select("q_id", "c_id", F.round("cosine", 4).alias("cosine"))
    )


def ref_ann_topk_lsh(emb, queries, k, num_planes, dim):
    with_b = emb.withColumn(
        "bucket", F.expr(_bucket_expr(num_planes, dim, "embedding"))
    )
    q = _q(_semi(with_b, queries), "bucket")
    return _rank(_cos(_c(with_b, "bucket").join(F.broadcast(q), "bucket")), k, "cosine")


def ref_ivf_topk(emb, queries, k, num_cells, stride, nprobe):
    _, cents = S.ivf_assign(emb, num_cells, centroid_stride=stride)
    with_cell = _with_cell(emb, cents, "embedding", round_digits=None)
    if nprobe <= 1:
        q = _q(_semi(with_cell, queries), "cell")
    else:
        d2 = (
            "aggregate(zip_with(qv, centv, (x, y) -> (CAST(x AS DOUBLE) - "
            "CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            "0D, (acc, d) -> acc + d)"
        )
        wq = W.partitionBy("q_id").orderBy(F.col("d2").asc(), F.col("cell"))
        q = (
            _q(_semi(emb, queries)).join(F.broadcast(cents))
            .withColumn("d2", F.expr(d2))
            .withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= nprobe)
            .select("q_id", "qv", "cell", "_qq")
        )
    return _rank(_cos(_c(with_cell, "cell").join(F.broadcast(q), "cell")), k, "cosine")


# --- comparisons -------------------------------------------------------------


def assert_matches(spark, got, ref):
    """``got``'s rows, after checking them against the fold ``ref()``."""
    rows = got.collect()
    with ansi_off(spark):
        want = ref().collect()
    assert canon(rows) == canon(want)
    return rows


OPS = {
    "cosine_topk": (lambda e, q: S.cosine_topk(e, q, k=3),
                    lambda e, q: ref_cosine_topk(e, q, 3)),
    "mips_topk": (lambda e, q: S.mips_topk(e, q, k=3),
                  lambda e, q: ref_mips_topk(e, q, 3)),
    "range_search": (lambda e, q: S.range_search(e, q, 0.2),
                     lambda e, q: ref_range_search(e, q, 0.2)),
    "ann_topk_lsh": (lambda e, q: S.ann_topk_lsh(e, q, k=3, num_planes=4, dim=2),
                     lambda e, q: ref_ann_topk_lsh(e, q, 3, 4, 2)),
    "ivf_topk": (lambda e, q: S.ivf_topk(e, q, k=3, num_cells=4, centroid_stride=4, nprobe=2),
                 lambda e, q: ref_ivf_topk(e, q, 3, 4, 4, 2)),
}


EXACT_AND_LSH = ("cosine_topk", "mips_topk", "range_search", "ann_topk_lsh")


def check(spark, emb, queries, ops):
    """Each operator in ``ops`` against its fold reference; returns the
    kernel rows per operator."""
    return {
        op: assert_matches(spark, OPS[op][0](emb, queries), lambda: OPS[op][1](emb, queries))
        for op in ops
    }


@pytest.mark.parametrize("id_type", list(ID_TYPES))
def test_operators_match_fold(spark, id_type):
    emb, queries = gen(spark, seed=list(ID_TYPES).index(id_type) + 11, id_type=id_type)
    # every operator on bigint ids; the other id types run the shared
    # kernel through cosine_topk, which pairs (and c_id-orders) everything
    check(spark, emb, queries, EXACT_AND_LSH if id_type == "bigint" else ("cosine_topk",))


@pytest.mark.parametrize("seed,nprobe", [(5, 1), (6, 2)])
def test_ivf_matches_fold(spark, seed, nprobe):
    emb, queries = gen(spark, seed=seed, n=36)
    assert_matches(
        spark,
        S.ivf_topk(emb, queries, k=3, num_cells=4, centroid_stride=4, nprobe=nprobe),
        lambda: ref_ivf_topk(emb, queries, 3, 4, 4, nprobe),
    )


def test_empty_inputs(spark):
    emb, queries = gen(spark, seed=3)
    check(spark, emb, queries.limit(0), list(OPS))
    check(spark, emb.limit(0), queries, list(OPS))


def test_query_slicing(spark, monkeypatch):
    # 2 queries per kernel frame: the operators union several frames, and
    # a duplicate query id can straddle two of them
    monkeypatch.setattr(S, "_ARROW_QUERY_CAP", 2)
    emb, queries = gen(spark, seed=9, n_q=3)
    check(spark, emb, queries, ("cosine_topk", "ivf_topk"))


def test_null_ids_never_pair(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (None, [0.9, 0.1]), (2, [0.5, 0.5]), (3, [-1.0, 0.2])],
        SCHEMA.format("bigint"),
    )
    got = check(spark, emb, emb, EXACT_AND_LSH)
    assert got["cosine_topk"]
    for rows in got.values():
        assert all(r.q_id is not None and r.c_id is not None for r in rows)


def test_nan_candidate_kept(spark):
    # NaN >= x is true in Spark: the NaN-score pair passes the threshold,
    # and the NaN plane fold signs bit '1' (the query's bucket)
    emb = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [float("nan"), 1.0]), (2, [-1.0, -1.0])],
        SCHEMA.format("bigint"),
    )
    got = check(spark, emb, emb.filter("vec_id = 0"), ("range_search", "ann_topk_lsh"))
    assert [(r.c_id, math.isnan(r.cosine)) for r in got["range_search"]] == [(1, True)]
    assert [r.c_id for r in got["ann_topk_lsh"]] == [1]


def test_binary_ids_drop_self_pairs(spark):
    emb = spark.createDataFrame(
        [(b"\x00", [1.0, 0.0]), (b"\x01", [0.5, 0.5]), (b"\xff", [0.0, 1.0]),
         (b"\x80", [0.0, 0.0])],
        SCHEMA.format("binary"),
    )
    got = check(spark, emb, emb, ("cosine_topk", "range_search"))
    assert got["cosine_topk"]
    for rows in got.values():
        assert all(r.q_id != r.c_id for r in rows)


def test_non_atomic_id_raises(spark):
    emb = spark.createDataFrame(
        [((1,), [1.0, 0.0])], "key struct<a:int>, embedding array<float>"
    )
    with pytest.raises(TypeError, match="'key'"):
        S.cosine_topk(emb, emb, k=1, id_col="key")
