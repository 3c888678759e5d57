"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed
(random-hyperplane) variant as the scale path: brute force is O(Q·N) dot
products — fine when the query set is small or broadcastable; the LSH path
buckets both sides so the join only compares within-bucket candidates.

Pair scoring for the top-k and range operators runs in one Arrow kernel
(below) that folds in the same index order as the SQL expressions; the
rest of the math is built-in higher-order functions (zip_with/aggregate)
evaluated JVM-side in index order. Results are bit-deterministic and
engine-portable (the DuckDB oracle reproduces them exactly).

At 100 TB: the candidate side partitions by bucket; queries broadcast. For
real ANN recall targets, raise num_planes and probe multiple buckets
(multi-probe LSH) — plumbing identical, constants larger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ytsaurus_spark.operators import iterate, materialize, spread_scan

# Deterministic pseudo-random hyperplane coefficient for (plane h, dim d):
# integer formula, identical in any engine. Values in [-3, 3].
_COEF = "(((({h} + 1) * ({d} + 3)) % 7) - 3)"


def _dot(a: str, b: str) -> str:
    """Sequential-fold dot product of two array columns (SQL expr)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0D, (acc, v) -> acc + v)"
    )


# --- Arrow pair kernel -------------------------------------------------------
#
# cosine_topk, ann_topk_lsh, unrefined ivf_topk, mips_topk and range_search
# score pairs in ONE mapInArrow stage and in no other way: candidates
# stream through as Arrow batches, the collected query set rides the task
# closure (one kernel frame per _ARROW_QUERY_CAP queries, unioned), and the
# numpy accumulation is fold-order-identical to ``_dot`` — vectorized across
# rows, sequential over dims, one IEEE multiply and one add per element in
# the same order — so every score is bit-identical to the SQL fold.
#
# The kernel is total. Its semantic reference is that fold evaluated with
# spark.sql.ansi.enabled=false (with ANSI on, the fold raises on a zero norm
# or an out-of-range LSH element); tests/test_similarity_kernel.py compares
# the two row for row on adversarial inputs. Under that reference:
#   - a pair whose vector lengths differ, or that holds a NULL vector or
#     element, scores NULL (zip_with pads with NULL), and so does a zero
#     cosine denominator (x / 0 is NULL); NaN elements give NaN;
#   - a pair with a NULL id never forms (``q_id != c_id`` is NULL);
#   - NaN orders above every number, as Spark compares doubles: it ranks
#     first under desc, passes ``>= threshold`` and signs LSH bit '1';
#     NULL ranks last under desc and fails the threshold;
#   - ids of every atomic type compare and order through Arrow dense ranks.
#
# Top-k consumers emit only the BATCH-LOCAL top-k per query, under exactly
# the rank window's ordering (score desc, candidate id asc on ties): the
# top-k of a union is the top-k of the per-batch top-k, so the window input
# shrinks from |q|x|candidates| rows to k rows per query per batch: the
# shuffle carries decisions, not payloads. Query slices compose the same way.

_ARROW_QUERY_CAP = 65536  # closure-shipped queries per kernel frame


def _np():
    import numpy as np

    return np


def _self_dots(M):
    """Per-row self dot, fold-order-identical to ``_dot(v, v)``."""
    np = _np()
    out = np.zeros(M.shape[0], dtype=np.float64)
    for d in range(M.shape[1]):
        out += M[:, d] * M[:, d]
    return out


def _plane_coefs(num_planes: int, dim: int):
    """(planes, dim) float64 matrix of the deterministic _COEF values."""
    np = _np()
    return np.array(
        [
            [float((((h + 1) * (d + 3)) % 7) - 3) for d in range(dim)]
            for h in range(num_planes)
        ],
        dtype=np.float64,
    )


def _bucket_strings(M, coefs):
    """LSH bucket per row of ``M`` — the numpy twin of ``_bucket_expr``:
    per plane, a sequential fold over dims of v[d]*coef, sign bit '1' iff
    the fold is >= 0, which a NaN fold is in Spark."""
    np = _np()
    n = M.shape[0]
    planes, dim = coefs.shape
    bits = np.empty((n, planes), dtype="U1")
    for h in range(planes):
        acc = np.zeros(n, dtype=np.float64)
        row = coefs[h]
        for d in range(dim):
            acc += M[:, d] * row[d]
        bits[:, h] = np.where((acc >= 0) | np.isnan(acc), "1", "0")
    return np.array(["".join(r) for r in bits], dtype=object)


def _decode_list_col(col, np):
    """(values_np, offsets, lens, row_null, elem_null) for a pyarrow
    ListArray — offsets absolute into the child values array."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = offs[1:] - offs[:-1]
    row_null = (
        ~np.asarray(col.is_valid()) if col.null_count else
        np.zeros(len(lens), dtype=bool)
    )
    vals = col.values
    elem_null = (
        ~np.asarray(vals.is_valid()) if vals.null_count else None
    )
    values = vals.to_numpy(zero_copy_only=False).astype(np.float64)
    return values, offs, lens, row_null, elem_null


def _rows_matrix(dec, dim, np, prefix=False):
    """(good_mask, C) for a decoded list column — C holds each good row's
    first ``dim`` elements as (n, dim). A row is good when it is not NULL,
    has length ``dim`` (at least ``dim`` with ``prefix``) and no NULL among
    those elements; bad rows keep zeros."""
    values, offs, lens, row_null, elem_null = dec
    n = len(lens)
    good = ((lens >= dim) if prefix else (lens == dim)) & ~row_null
    C = np.zeros((n, dim), dtype=np.float64)
    if dim == 0 or not good.any():
        return good, C
    if good.all() and elem_null is None and offs[-1] - offs[0] == n * dim:
        return good, values[offs[0]: offs[0] + n * dim].reshape(n, dim)
    idx = offs[:-1][good][:, None] + np.arange(dim)[None, :]
    if elem_null is not None:
        bad = elem_null[idx].any(axis=1)
        if bad.any():
            g2 = good.copy()
            g2[np.flatnonzero(good)[bad]] = False
            good = g2
            idx = offs[:-1][good][:, None] + np.arange(dim)[None, :]
    C[good] = values[idx]
    return good, C


def _lsh_keys(dec, coefs, np):
    """LSH bucket per decoded row. ``_bucket_expr`` reads the first
    plane-dim elements; when one is missing or NULL every plane folds to
    NULL, which its CASE maps to '0'."""
    planes, dim = coefs.shape
    good, M = _rows_matrix(dec, dim, np, prefix=True)
    keys = np.full(len(good), "0" * planes, dtype=object)
    if good.any():
        keys[good] = _bucket_strings(M[good], coefs)
    return keys


def _cell_d2(dec, cents, np):
    """(D2, null): the squared L2 distance of every decoded row to every
    (cell, centv) entry of ``cents``, folded over dims in the order of
    ``_cell_argmin_expr``'s unrounded d2; ``null`` marks the pairs that
    fold gives NULL (lengths differ, a NULL vector or element)."""
    n = len(dec[2])
    D2 = np.zeros((n, len(cents)), dtype=np.float64)
    null = np.ones((n, len(cents)), dtype=bool)
    mats: dict = {}
    for j, (_, cv) in enumerate(cents):
        if cv is None or any(e is None for e in cv):
            continue
        if len(cv) not in mats:
            mats[len(cv)] = _rows_matrix(dec, len(cv), np)
        good, M = mats[len(cv)]
        for d, y in enumerate(cv):
            diff = M[:, d] - y
            D2[:, j] += diff * diff
        null[:, j] = ~good
    return D2, null


def _d2_keys(D2, null, cells, np, nulls_first):
    """np.lexsort keys (least significant first) ordering d2 entries by
    (d2 asc, cell) the way Spark orders doubles: NaN after every number,
    NULL first or last (NULL entries tie on d2 and order by cell)."""
    nan = np.isnan(D2) & ~null
    return [
        np.broadcast_to(cells, D2.shape), np.where(nan | null, 0.0, D2), nan,
        ~null if nulls_first else null,
    ]


def _cell_argmin(D2, null, cells, np):
    """Entry index ``_cell_argmin_expr``'s fold keeps per row: the least
    (d2, cell). Its CASE treats a NULL comparison as false, so NULL d2s
    are skipped, except at entry 0, which the fold then never replaces."""
    order = np.lexsort(_d2_keys(D2, null, cells, np, False), axis=-1)
    return np.where(null[:, 0], 0, order[:, 0])


def _ivf_probes(dec, q_ids, cents, nprobe, np):
    """(slot, cell) pairs: the IVF cells each query probes. One cell is
    the ``_cell_argmin`` fold; ``nprobe`` > 1 cells follow the fold plan's
    row_number() over (q_id; d2 asc NULLS FIRST, cell), in which duplicate
    query ids share one window."""
    import pyarrow.compute as pc

    cells = np.asarray([int(c) for c, _ in cents])
    D2, null = _cell_d2(dec, cents, np)
    if nprobe <= 1:
        return list(enumerate(cells[_cell_argmin(D2, null, cells, np)]))
    qrank = pc.rank(q_ids, tiebreaker="dense").to_numpy()
    slot = np.repeat(np.arange(len(q_ids)), len(cells))
    keys = [x.ravel() for x in _d2_keys(D2, null, cells, np, True)]
    order = np.lexsort(keys + [qrank[slot]])
    _, first, inv = np.unique(
        qrank[slot][order], return_index=True, return_inverse=True
    )
    top = order[np.arange(order.size) - first[inv] < nprobe]
    return list(zip(slot[top], cells[top % len(cells)]))


def _query_groups(dec, picks, np):
    """[(key, dim, slots, Q, qq)] from the decoded query vectors and the
    (slot, key) ``picks``: the query slots that meet the candidates of
    grouping key ``key``, split by vector length ``dim``. ``dim`` None
    holds the queries whose every pair scores NULL (a NULL vector or
    element); a slot picked twice is scored twice, as the fold joins it."""
    qdim: dict = {}
    qvec: dict = {}
    for d in np.unique(dec[2][~dec[3]]):
        good, Qd = _rows_matrix(dec, int(d), np)
        for j in np.flatnonzero(good):
            qdim[j], qvec[j] = int(d), Qd[j]
    groups: dict = {}
    for j, key in picks:
        groups.setdefault((key, qdim.get(j)), []).append(j)
    out = []
    for (key, dim), slots in groups.items():
        Q = None if dim is None else np.array([qvec[j] for j in slots]).reshape(
            len(slots), dim
        )
        qq = None if Q is None else _self_dots(Q)
        out.append((key, dim, np.asarray(slots), Q, qq))
    return out


def _pair_kernel(q_ids, groups, cand_key, mode, k, threshold):
    """The mapInArrow function scoring (c_id, cv) batches against the
    query ``groups`` (``_query_groups``; slots index ``q_ids``).
    ``cand_key`` maps a decoded candidate column to grouping keys (None:
    every query meets every candidate)."""
    m = len(q_ids)
    chunk_rows = max(1, (1 << 22) // max(1, m))

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0 or not groups:
                continue
            ids = batch.column(0)
            qids = q_ids.cast(ids.type)
            # dense ranks over query and candidate ids: equal ids share a
            # rank, and rank order is the c_id ASC tie-break order
            rank = pc.rank(
                pa.concat_arrays([qids, ids]), tiebreaker="dense"
            ).to_numpy()
            q_rank, c_rank = rank[:m], rank[m:]
            live = ids.is_valid().to_numpy(zero_copy_only=False)
            dec = _decode_list_col(batch.column(1), np)
            ckey = None if cand_key is None else cand_key(dec)
            mats: dict = {}
            out_rows, out_slots, out_scores, out_null = [], [], [], []
            for key, dim, slots, Q, qq in groups:
                rows_g = np.flatnonzero(
                    live if ckey is None else live & (ckey == key)
                )
                if rows_g.size == 0:
                    continue
                if dim is not None and dim not in mats:
                    good, C = _rows_matrix(dec, dim, np)
                    mats[dim] = (good, C, _self_dots(C))
                for lo in range(0, rows_g.size, chunk_rows):
                    rows = rows_g[lo: lo + chunk_rows]
                    shape = (rows.size, slots.size)
                    if dim is None:
                        score = np.zeros(shape)
                        null = np.ones(shape, dtype=bool)
                    else:
                        good, C, cc = mats[dim]
                        Cc = C[rows]
                        score = np.zeros(shape)
                        for d in range(dim):
                            score += np.multiply.outer(Cc[:, d], Q[:, d])
                        null = np.zeros(shape, dtype=bool)
                        if mode == "cosine":
                            den = np.sqrt(np.multiply.outer(cc[rows], qq))
                            with np.errstate(divide="ignore", invalid="ignore"):
                                score = score / den
                            null = den == 0
                        null |= ~good[rows][:, None]
                    nan = np.isnan(score)
                    # window order: NaN, numbers desc, NULL
                    cls = np.where(null, 2, np.where(nan, 0, 1))
                    desc = np.where(cls == 1, -score, 0.0)
                    crank = c_rank[rows]
                    for si, j in enumerate(slots):
                        sel = crank != q_rank[j]
                        if threshold is not None:
                            sel &= ~null[:, si] & (
                                nan[:, si] | (score[:, si] >= threshold)
                            )
                        keep = np.flatnonzero(sel)
                        if k is not None:
                            keep = keep[np.lexsort(
                                (crank[keep], desc[keep, si], cls[keep, si])
                            )[:k]]
                        out_rows.append(rows[keep])
                        out_slots.append(np.full(keep.size, j))
                        out_scores.append(score[keep, si])
                        out_null.append(null[keep, si])
            rows = np.concatenate(out_rows) if out_rows else np.zeros(0, int)
            if rows.size == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    qids.take(pa.array(np.concatenate(out_slots))),
                    ids.take(pa.array(rows)),
                    pa.array(
                        np.concatenate(out_scores),
                        mask=np.concatenate(out_null),
                    ),
                ],
                names=["q_id", "c_id", "score"],
            )

    return fn


def _arrow_pair_scores(
    emb: DataFrame,
    q: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    mode: str = "cosine",
    k: int | None = None,
    threshold: float | None = None,
    planes: int | None = None,
    plane_dim: int | None = None,
    centroids: list | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """(q_id, c_id, score) pairs of the collected (q_id, qv) frame ``q``
    against every (``id_col``, ``vec_col``) row of ``emb``, scored by one
    mapInArrow stage per ``_ARROW_QUERY_CAP`` queries.

    Ids may be of any atomic type; a struct, array or map id column raises
    TypeError. ``mode``: "cosine" or "dot". ``k``: batch-local top-k per
    query under the rank window's exact ordering; ``threshold``: keep
    score >= threshold (NaN kept, NULL dropped, like the SQL filter).
    Grouping: ``planes``/``plane_dim`` pair only within equal LSH buckets;
    ``centroids`` (collected (cell, centv) rows) pair only within the
    query's ``nprobe`` nearest unrounded-argmin IVF cells."""
    from functools import reduce

    import pyarrow.compute as pc
    from pyspark.sql import types as T

    np = _np()
    id_dt = emb.schema[id_col].dataType
    if not isinstance(id_dt, T.AtomicType):
        raise TypeError(
            f"similarity id column {id_col!r} has type "
            f"{id_dt.simpleString()}; ids must be of an atomic type"
        )
    cand = emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv"))
    q_tbl = q.toArrow()
    q_tbl = q_tbl.filter(pc.is_valid(q_tbl.column(0)))  # NULL ids never pair
    q_ids = q_tbl.column(0).combine_chunks()
    dec = _decode_list_col(q_tbl.column(1), np)
    if planes is not None:
        coefs = _plane_coefs(planes, plane_dim)

        def cand_key(d):
            return _lsh_keys(d, coefs, np)

        picks = list(enumerate(cand_key(dec)))
    elif centroids is not None:
        cells = np.asarray([int(c) for c, _ in centroids])

        def cand_key(d):
            return cells[_cell_argmin(*_cell_d2(d, centroids, np), cells, np)]

        picks = _ivf_probes(dec, q_ids, centroids, nprobe, np) if centroids else []
    else:
        cand_key, picks = None, [(j, None) for j in range(len(q_ids))]
    groups = _query_groups(dec, picks, np)
    schema = T.StructType(
        [
            T.StructField("q_id", id_dt),
            T.StructField("c_id", id_dt),
            T.StructField("score", T.DoubleType()),
        ]
    )
    frames = []
    for lo in range(0, max(1, len(q_ids)), _ARROW_QUERY_CAP):
        hi = lo + _ARROW_QUERY_CAP
        part = []
        for key, dim, slots, Q, qq in groups:
            s = (slots >= lo) & (slots < hi)
            if s.any():
                part.append((key, dim, slots[s] - lo, None if Q is None else Q[s],
                             None if qq is None else qq[s]))
        fn = _pair_kernel(q_ids.slice(lo, _ARROW_QUERY_CAP), part, cand_key,
                          mode, k, threshold)
        frames.append(cand.mapInArrow(fn, schema))
    return reduce(DataFrame.union, frames)


def _ranked(scored: DataFrame, k: int, name: str) -> DataFrame:
    """Top-``k`` rows per q_id of a (q_id, c_id, score) frame, ordered by
    score desc then c_id, as (q_id, c_id, ``name`` rounded to 4, rank); a
    frame that already names its score ``name`` is ranked as it is."""
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.col(name).desc(), F.col("c_id"))
    return (
        scored.withColumnRenamed("score", name)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "c_id",
            F.round(name, 4).alias(name),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    ``queries`` (small) is collected; candidates never shuffle. Returns
    (q_id, c_id, cosine, rank) with rank 1..k, ties broken by c_id. Ids may
    be of any atomic type; a struct, array or map id column raises
    TypeError.

    The pair scoring runs as the Arrow kernel (``_arrow_pair_scores``):
    candidates stream through mapInArrow, the collected query set rides
    the closure, scores come from the fold-order-identical numpy loop, and
    only each batch's local top-k per query reaches the rank window."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
    )
    return _ranked(
        _arrow_pair_scores(emb, q, id_col, vec_col, k=k), k, "cosine"
    )


def _bucket_expr(num_planes: int, dim: int, vec_col: str) -> str:
    """SQL expression for the random-hyperplane LSH bucket of ``vec_col``."""
    bits = []
    for h in range(num_planes):
        dot = (
            f"aggregate(sequence(0, {dim - 1}), 0D, (acc, d) -> "
            f"acc + CAST({vec_col}[d] AS DOUBLE) * CAST({_COEF.format(h=h, d='d')} AS DOUBLE))"
        )
        bits.append(f"CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def lsh_bucket(
    emb: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: one sign bit per plane.

    Hyperplane coefficients come from the deterministic integer formula, so
    bucketing is reproducible everywhere. Output: (vec_id, bucket)."""
    return emb.select(
        F.col(id_col), F.expr(_bucket_expr(num_planes, dim, vec_col)).alias("bucket")
    )


def ann_topk_lsh(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket.

    Bucketing replaces the full cross product — the scale path. Recall < 1
    by construction; raise planes/probes for tighter recall. Ids may be of
    any atomic type; a struct, array or map id column raises TypeError.

    Pair scoring AND the bucket sign-bit folds run as the Arrow kernel
    (``_arrow_pair_scores`` with ``planes``): it pairs each candidate batch
    only against the collected queries sharing its bucket (the twin of
    ``_bucket_expr``), emitting the batch-local top-k."""
    q = emb.join(queries.select(id_col), id_col, "left_semi").select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
    )
    scored = _arrow_pair_scores(
        emb, q, id_col, vec_col, k=k, planes=num_planes, plane_dim=dim
    )
    return _ranked(scored, k, "cosine")


def _lloyd_refine(
    vecs: DataFrame,
    centroids: DataFrame,
    iterations: int,
    id_col: str,
    cent_col: str = "centv",
    dist_round: int = 6,
) -> DataFrame:
    """``iterations`` Lloyd steps over (cell, centv) centroids — the
    k-means refinement that turns exemplar seeds into trained centroids
    (re-training an IVF index). Same declarative shape as
    ``kmeans_iterations``: broadcast centroids, rounded-distance argmin
    (engine-deterministic), posexplode element-wise means; no driver-side
    data. ``vecs`` must be (id, v) with v array<double>."""
    def step(centroids):
        # scan-stage argmin fold over the broadcast centroid array — same
        # rounded-d2/cell-tiebreak selection as the former per-vector
        # window, without the vec × cells explode + exchange + sort
        assign = _with_cell(
            vecs,
            centroids.select("cell", F.col(cent_col).alias("centv")),
            "v",
            round_digits=dist_round,
        ).select(id_col, "cell")
        flat = vecs.join(assign, id_col).select(
            "cell", F.posexplode("v").alias("i", "e")
        )
        return (
            flat.groupBy("cell", "i")
            .agg(F.avg("e").alias("m"))
            .groupBy("cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(i, m))), x -> x.m)"
                ).alias(cent_col)
            )
        )

    return iterate(centroids, step, iterations)


def ivf_assign(
    emb: DataFrame,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int | None = None,
    total_rows: int | None = None,
    refine_iterations: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """IVF (inverted-file) cell assignment — the other standard ANN scale
    path next to LSH: pick exemplar centroids, assign every vector to its
    nearest, search only within probed cells.

    Centroids seed as deterministic exemplars (every ``stride``-th vector
    by id) — reproducible everywhere; ``refine_iterations > 0`` then runs
    that many Lloyd steps over the corpus (``_lloyd_refine``), the k-means
    index training that tightens cells around the real data distribution
    (measured recall uplift in SCALE.md). The refined path rounds
    distances before every argmin so assignments stay engine-
    deterministic and oracle-checkable. Returns (assignments, centroids)
    where assignments = (vec_id, cell) and centroids = (cell, centv).

    ``centroid_stride`` must be known up front — pass it, or pass
    ``total_rows`` (cheap from parquet footers: ``Catalog.row_count``) to
    derive it. No driver-side ``count()`` scan happens here: index builds
    at 100 TB must not pay an extra full pass just to size the centroid set.
    """
    from pyspark.sql import Window as W

    if centroid_stride is None:
        if total_rows is None:
            raise ValueError(
                "pass centroid_stride, or total_rows "
                "(Catalog.row_count(name) reads it from parquet footers)"
            )
        centroid_stride = max(1, total_rows // num_cells)
    # deterministic centroid set: ids {0, stride, 2*stride, ...} — no
    # order-dependent limit(), so any engine picks the identical exemplars
    centroids = emb.filter(
        (F.col(id_col) % centroid_stride == 0)
        & (F.col(id_col) < centroid_stride * num_cells)
    ).select(
        (F.col(id_col) / centroid_stride).cast("int").alias("cell"),
        F.col(vec_col).alias("centv"),
    )
    if refine_iterations > 0:
        vecs = emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
        )
        centroids = _lloyd_refine(
            vecs,
            centroids.withColumn("centv", F.col("centv").cast("array<double>")),
            refine_iterations,
            id_col,
        )
        dist = (
            "round(aggregate(zip_with(v, centv, (x, y) -> "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            "0D, (acc, d) -> acc + d), 6)"
        )
    else:
        dist = (
            "aggregate(zip_with(v, centv, (x, y) -> "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            "0D, (acc, d) -> acc + d)"
        )
    assignments = ivf_assign_to(emb, centroids, id_col, vec_col, dist)
    return assignments, centroids


def _cell_argmin_expr(round_digits: int | None) -> str:
    """Nearest-cell expression over a collected ``__cents`` array column:
    per-row fold argmin (d2 asc, cell-id tiebreak) — identical selection to
    a row_number()-over-(d2, cell) window, without exploding vec × cells
    rows through an exchange + sort. ``round_digits`` mirrors the
    refined/k-means paths' distance rounding (engine determinism)."""
    d2 = (
        "aggregate(zip_with(__v, __c.centv, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "0D, (acc, d) -> acc + d)"
    )
    if round_digits is not None:
        d2 = f"round({d2}, {round_digits})"
    pairs = f"transform(__cents, __c -> named_struct('cell', __c.cell, 'd2', {d2}))"
    return (
        f"aggregate({pairs}, CAST(NULL AS struct<cell:int,d2:double>), "
        "(acc, p) -> CASE WHEN acc IS NULL OR p.d2 < acc.d2 "
        "OR (p.d2 = acc.d2 AND p.cell < acc.cell) THEN p ELSE acc END).cell"
    )


def _with_cell(
    vecs: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    round_digits: int | None,
) -> DataFrame:
    """``vecs`` + a ``cell`` column (nearest centroid), computed in the
    scan stage against the broadcast collected centroid array."""
    cents = centroids.agg(
        F.collect_list(
            F.struct(F.col("cell").cast("int").alias("cell"), F.col("centv"))
        ).alias("__cents")
    )
    return (
        vecs.withColumn("__v", F.col(vec_col))
        .crossJoin(F.broadcast(cents))
        .withColumn("cell", F.expr(_cell_argmin_expr(round_digits)))
        .drop("__cents", "__v")
    )


def ivf_assign_to(
    vecs: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_expr: str | None = None,
) -> DataFrame:
    """Assign vectors to their nearest cell among EXISTING centroids —
    the incremental half of the IVF index: a continuously-ingesting
    pipeline persists (cell, centv) once and routes every new embedding
    batch through this, never re-deriving (let alone re-training) the
    index from the corpus. O(batch × num_cells) scan-stage math with the
    centroids broadcast; appending the assignments to the corpus's
    (vec_id, cell) table keeps ivf_topk serving the grown index.
    Deterministic: squared-L2 argmin with cell-id tiebreak, same formula
    at build and ingest time. (``dist_expr`` is honored only for its
    rounding mode — the argmin itself now folds over the broadcast
    centroid array in the scan stage instead of windowing an exploded
    vec × cells grid.)"""
    rounded = dist_expr is not None and dist_expr.lstrip().startswith("round(")
    return _with_cell(
        vecs.select(F.col(id_col), F.col(vec_col)), centroids, vec_col,
        6 if rounded else None,
    ).select(id_col, "cell")


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int | None = None,
    total_rows: int | None = None,
    nprobe: int = 1,
    refine_iterations: int = 0,
) -> DataFrame:
    """Approximate top-k within the query's ``nprobe`` nearest IVF cells.

    The equi-join on cell replaces the cross join; ``nprobe > 1`` probes
    the n nearest cells per query — same plan shape, ×nprobe candidate
    rows, the standard IVF recall/cost dial. Candidates live in exactly
    one cell, so probing distinct cells never duplicates a pair.
    ``refine_iterations`` trains the cells with that many Lloyd steps
    before assignment (see ``ivf_assign``) — the recall dial that costs
    index-build time instead of query candidates."""
    from pyspark.sql import Window as W

    _assignments, centroids = ivf_assign(
        emb, num_cells, id_col, vec_col, centroid_stride, total_rows,
        refine_iterations=refine_iterations,
    )
    if refine_iterations == 0:
        # Arrow kernel: the centroids (bounded by num_cells) and the
        # queries are collected; the query and candidate cells (the
        # unrounded argmin) and the pair cosine run in one mapInArrow stage.
        cents = [
            (r[0], r[1]) for r in centroids.select("cell", "centv").collect()
        ]
        q = emb.join(queries.select(id_col), id_col, "left_semi").select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
        )
        scored = _arrow_pair_scores(
            emb, q, id_col, vec_col, k=k, centroids=cents, nprobe=nprobe
        )
        return _ranked(scored, k, "cosine")
    # Refined IVF keeps the JVM plan: its distances round with Spark's
    # HALF_UP round(), which numpy does not reproduce. The cell attaches as
    # a scan-stage fold against the broadcast centroid array.
    with_cell = _with_cell(spread_scan(emb), centroids, vec_col, round_digits=6)
    if nprobe <= 1:
        q = with_cell.join(queries.select(id_col), id_col, "left_semi").select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"), "cell"
        )
    else:
        # probe the nprobe nearest centroids per query vector
        qv = emb.join(queries.select(id_col), id_col, "left_semi").select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
        )
        d2 = (
            "round(aggregate(zip_with(qv, centv, (x, y) -> "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            "0D, (acc, d) -> acc + d), 6)"
        )
        wq = W.partitionBy("q_id").orderBy(F.col("d2").asc(), F.col("cell"))
        q = (
            qv.join(F.broadcast(centroids))
            .withColumn("d2", F.expr(d2))
            .withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= nprobe)
            .select("q_id", "qv", "cell")
        )
    c = with_cell.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv"), "cell"
    ).withColumn("_cc", F.expr(_dot("cv", "cv")))
    scored = (
        c.join(F.broadcast(q.withColumn("_qq", F.expr(_dot("qv", "qv")))), "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "cosine",
            # self-norms pre-folded per vector (bit-identical to folding
            # them inside the pair row; 3 HOF folds per pair → 1)
            F.expr(f"{_dot('qv', 'cv')} / sqrt(_qq * _cc)"),
        )
    )
    return _ranked(scored, k, "cosine")


def kmeans_iterations(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 30,
    dist_round: int = 6,
) -> DataFrame:
    """K-means with a fixed iteration budget as chained declarative plans —
    the iterative-algorithm pattern (YQL expresses these as chained
    MapReduce ops; Spark as a loop of joins/aggregations, one plan per
    Lloyd step, no driver-side data).

    Deterministic end to end: exemplar init (ids 0, stride, 2·stride…),
    squared distances rounded to ``dist_round`` before argmin so engine-
    level last-ulp noise cannot flip assignments. Returns the final
    (vec_id, cell) assignment.
    """
    vecs = spread_scan(
        emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
        )
    )
    centroids = vecs.filter(
        (F.col(id_col) % centroid_stride == 0)
        & (F.col(id_col) < centroid_stride * k)
    ).select(
        (F.col(id_col) / centroid_stride).cast("int").alias("cell"),
        F.col("v").alias("cv"),
    )
    # the assignment made from the centroids after iterations - 1 updates
    centroids = _lloyd_refine(
        vecs, centroids, iterations - 1, id_col, cent_col="cv",
        dist_round=dist_round,
    )
    return _with_cell(
        vecs,
        centroids.select("cell", F.col("cv").alias("centv")),
        "v",
        round_digits=dist_round,
    ).select(id_col, "cell")


def ann_topk_lsh_multiprobe(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH ANN: each query also probes every bucket at Hamming
    distance 1 (flip one sign bit) — the standard recall lever when buckets
    are too fine. Candidate volume grows ×(planes+1); plan shape unchanged
    (still one equi-join on bucket). Measured here: recall@3 jumps 6.7% → 16%
    on isotropic random vectors at sf0.01 (see SCALE.md)."""
    from pyspark.sql import Window as W

    with_b = spread_scan(emb).withColumn(
        "bucket", F.expr(_bucket_expr(num_planes, dim, vec_col))
    )
    flips = ", ".join(
        f"concat(substr(bucket, 1, {i}), "
        f"CASE WHEN substr(bucket, {i + 1}, 1) = '1' THEN '0' ELSE '1' END, "
        f"substr(bucket, {i + 2}))"
        for i in range(num_planes)
    )
    q = (
        with_b.join(queries.select(id_col), id_col, "left_semi")
        .select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("qv"),
            F.explode(F.expr(f"array(bucket, {flips})")).alias("bucket"),
        )
    )
    c = with_b.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv"), "bucket"
    ).withColumn("_cc", F.expr(_dot("cv", "cv")))
    scored = (
        c.join(F.broadcast(q.withColumn("_qq", F.expr(_dot("qv", "qv")))), "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .dropDuplicates(["q_id", "c_id"])
        .withColumn(
            "cosine",
            # self-norms pre-folded per vector (bit-identical; 3 folds → 1)
            F.expr(f"{_dot('qv', 'cv')} / sqrt(_qq * _cc)"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "c_id",
            F.round("cosine", 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --- product quantization (IVF-PQ style ADC scan) --------------------------

def pq_codebook(
    emb: DataFrame,
    m: int,
    ksub: int,
    dim: int,
    stride: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 0,
) -> DataFrame:
    """Per-subspace PQ codebooks from deterministic exemplar vectors.

    Vector space splits into ``m`` subspaces of ``dim/m`` dims; subspace
    codebook entry ``c`` seeds as the corresponding slice of exemplar
    vector ``c*stride`` — reproducible on any engine/cluster (same policy
    as ``ivf_assign`` exemplars). ``refine_iterations > 0`` then runs
    per-subspace Lloyd steps over the corpus slices (all m subspaces
    train in ONE plan — the argmin window partitions on (id, sub), the
    mean groupBy on (sub, code, dim)), with rounded distances so the
    trained codebook is engine-deterministic. Returns (sub, code,
    cbslice)."""
    from pyspark.sql import Window as W

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    cb = emb.filter(
        (F.col(id_col) % stride == 0) & (F.col(id_col) < stride * ksub)
    ).select(
        (F.col(id_col) / stride).cast("int").alias("code"),
        F.col(vec_col).alias("cbv"),
    )
    codebook = cb.select(
        "code",
        "cbv",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
    ).select(
        "sub",
        "code",
        F.expr(f"slice(cbv, sub * {dsub} + 1, {dsub})").alias("cbslice"),
    )
    if refine_iterations <= 0:
        return codebook
    codebook = codebook.withColumn(
        "cbslice", F.col("cbslice").cast("array<double>")
    )
    vslices = emb.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).select(
        id_col,
        "sub",
        F.expr(f"slice(v, sub * {dsub} + 1, {dsub})").alias("vslice"),
    )
    d2 = (
        "round(aggregate(zip_with(vslice, cbslice, (x, y) -> "
        "(x - y) * (x - y)), 0D, (acc, d) -> acc + d), 6)"
    )
    w = W.partitionBy(id_col, "sub").orderBy(F.col("d2").asc(), F.col("code"))

    def step(codebook):
        assign = (
            vslices.join(F.broadcast(codebook), "sub")
            .withColumn("d2", F.expr(d2))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, "sub", "code")
        )
        flat = vslices.join(assign, [id_col, "sub"]).select(
            "sub", "code", F.posexplode("vslice").alias("i", "e")
        )
        return (
            flat.groupBy("sub", "code", "i")
            .agg(F.avg("e").alias("m"))
            .groupBy("sub", "code")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(i, m))), x -> x.m)"
                ).alias("cbslice")
            )
        )

    return iterate(codebook, step, refine_iterations)


_SLICE_D2 = (
    "aggregate(zip_with(vslice, cbslice, (x, y) -> "
    "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
    "0D, (acc, d) -> acc + d)"
)


def _subspace_dists(
    vecs: DataFrame, codebook: DataFrame, m: int, dsub: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """(id, sub, code, d2): squared L2 between each vector's subspace
    slice and every codebook entry — codebook broadcast, no pairwise
    vector join."""
    vs = vecs.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.col(vec_col).alias("v"),
    ).select(
        id_col, "sub", F.expr(f"slice(v, sub * {dsub} + 1, {dsub})").alias("vslice")
    )
    return vs.join(F.broadcast(codebook), "sub").select(
        id_col, "sub", "code", F.expr(_SLICE_D2).alias("d2")
    )


def pq_encode(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 8,
    dim: int = 64,
    stride: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 0,
) -> DataFrame:
    """PQ codes in long form: (id, sub, code) — each vector compresses to
    ``m`` small ints (the 100 TB point of PQ: the searchable index is
    ~m bytes/vector instead of dim*4). One broadcast join + one argmin
    window over m*ksub narrow rows per vector; no Python, no pairwise."""
    from pyspark.sql import Window as W

    cb = pq_codebook(
        emb, m, ksub, dim, stride, id_col, vec_col,
        refine_iterations=refine_iterations,
    )
    scored = _subspace_dists(emb, cb, m, dim // m, id_col, vec_col)
    w = W.partitionBy(id_col, "sub").orderBy(F.col("d2").asc(), F.col("code"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "sub", "code")
    )


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 4,
    ksub: int = 8,
    dim: int = 64,
    stride: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 0,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes.

    Per query, the distance TABLE (m × ksub subspace distances) is tiny
    and broadcasts; approximate distance to a candidate = sum of the m
    table entries its codes select. Candidates are scanned as compressed
    codes — full vectors never join queries — so the heavy side moves
    ~m ints per row through one (sub, code) equi-join + one sum, the PQ
    scan shape that holds at 100 TB. Returns (q_id, c_id, adc, rank)."""
    from pyspark.sql import Window as W

    cb = pq_codebook(
        emb, m, ksub, dim, stride, id_col, vec_col,
        refine_iterations=refine_iterations,
    )
    codes = pq_encode(
        emb, m, ksub, dim, stride, id_col, vec_col,
        refine_iterations=refine_iterations,
    )
    qvecs = emb.join(queries.select(id_col), id_col, "left_semi")
    dtab = _subspace_dists(qvecs, cb, m, dim // m, id_col, vec_col).select(
        F.col(id_col).alias("q_id"), "sub", "code", "d2"
    )
    adc = (
        codes.withColumnRenamed(id_col, "c_id")
        .join(F.broadcast(dtab), ["sub", "code"])
        .filter(F.col("c_id") != F.col("q_id"))
        .groupBy("q_id", "c_id")
        .agg(F.round(F.sum("d2"), 4).alias("adc"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("c_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "adc", "rank")
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    num_cells: int = 16,
    centroid_stride: int = 30,
    m: int = 4,
    ksub: int = 8,
    dim: int = 64,
    pq_stride: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the ADC code scan restricted to the query's IVF cell — the
    standard billion-scale ANN index (inverted file prunes the candidate
    set, product quantization compresses what remains). Cost per query =
    |cell| code rows summed over m table lookups; neither full vectors nor
    out-of-cell candidates move. Returns (q_id, c_id, adc, rank)."""
    from pyspark.sql import Window as W

    assignments, _cents = ivf_assign(
        emb, num_cells, id_col, vec_col, centroid_stride
    )
    cb = pq_codebook(emb, m, ksub, dim, pq_stride, id_col, vec_col)
    codes = pq_encode(emb, m, ksub, dim, pq_stride, id_col, vec_col)
    cand = codes.join(assignments, id_col).withColumnRenamed(id_col, "c_id")
    qvecs = emb.join(queries.select(id_col), id_col, "left_semi")
    dtab = (
        _subspace_dists(qvecs, cb, m, dim // m, id_col, vec_col)
        .join(assignments, id_col)  # the query's own cell
        .select(F.col(id_col).alias("q_id"), "cell", "sub", "code", "d2")
    )
    adc = (
        cand.join(F.broadcast(dtab), ["cell", "sub", "code"])
        .filter(F.col("c_id") != F.col("q_id"))
        .groupBy("q_id", "c_id")
        .agg(F.round(F.sum("d2"), 4).alias("adc"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("c_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "adc", "rank")
    )


def range_search(
    emb: DataFrame,
    queries: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Radius (range) similarity search: ALL candidates within a cosine
    threshold of each query — the fixed-radius complement of
    :func:`cosine_topk` (dedup wants "everything closer than r", not a
    fixed k). Queries are collected, candidates stream through the Arrow
    kernel (``_arrow_pair_scores``); no window, no join, no shuffle of the
    candidate side. The threshold compares the UNROUNDED cosine, the
    identical fold value the SQL filter ``cosine >= threshold`` sees, so
    the cut is exact: NaN passes, NULL does not, and only passing pairs
    leave the batch. Ids may be of any atomic type; a struct, array or
    map id column raises TypeError."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
    )
    scored = _arrow_pair_scores(emb, q, id_col, vec_col, threshold=threshold)
    return scored.select("q_id", "c_id", F.round("score", 4).alias("cosine"))


def scalar_quantize_int8(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension int8 scalar quantization of an embedding column —
    the standard 4x index-compression step in front of ANN serving
    (FAISS ``SQ8``): train per-dimension (min, max) over the corpus,
    code each element as ``floor((x - lo) * 255 / (hi - lo) + 0.5)``,
    and report per-vector reconstruction fidelity.

    Outputs one row per vector: ``code_md5`` (checksum of the
    dim-ordered code string — the persistable compressed code),
    ``max_abs_err_1e9`` (worst reconstruction error in 1e-9 units, an
    exact integer), and ``n_dims``. All math is straight-line IEEE
    double with identical association in the DuckDB oracle, and the two
    lossy steps (code, error) go through the half-up-floor integer
    discipline — bit-identical across engines.

    Shape at 100 TB: posexplode to element grain, a D-row stats agg
    broadcast back, one doc-grain re-agg. The element shuffle is the
    same grain the IVF/PQ trainers already use."""
    x = F.col("x").cast("double")
    elems = vectors.select(
        F.col(id_col), F.posexplode(vec_col).alias("dim", "x")
    )
    stats = elems.groupBy("dim").agg(
        F.min(x).alias("lo"), F.max(x).alias("hi")
    )
    j = elems.join(F.broadcast(stats), "dim")
    q = F.floor((x - F.col("lo")) * 255 / (F.col("hi") - F.col("lo")) + 0.5).cast(
        "long"
    )
    xhat = F.col("lo") + F.col("q") * (F.col("hi") - F.col("lo")) / 255
    err = F.floor(F.abs(xhat - x) * 1e9 + 0.5).cast("long")
    coded = j.withColumn("q", q).withColumn("err", err)
    return (
        coded.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.expr("transform(array_sort(collect_list(struct(dim, q))), s -> CAST(s.q AS STRING))"),
                )
            ).alias("code_md5"),
            F.max("err").alias("max_abs_err_1e9"),
        )
    )


def knn_classify(
    vectors: DataFrame,
    k: int = 5,
    query_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification with a deterministic hold-out
    split: vectors whose id ≡ 0 (mod ``query_mod``) are the evaluation
    queries, the rest the labeled corpus. Each query takes its ``k``
    nearest corpus neighbors by exact cosine and predicts the majority
    label (ties: more votes first, then smaller label) — the standard
    embedding-quality probe run after any embedding/quantization change.

    Scale shape is ``cosine_topk``'s: the query slice broadcasts, the
    corpus never shuffles for scoring, and the vote is a tiny
    (queries × k)-row aggregation. Returns one row per query:
    (q_id, true_label, pred_label, votes, correct)."""
    from pyspark.sql import Window as W

    queries = vectors.filter(F.col(id_col) % query_mod == 0)
    corpus = vectors.filter(F.col(id_col) % query_mod != 0)
    topk = cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    votes = (
        topk.join(
            corpus.select(
                F.col(id_col).alias("c_id"), F.col(label_col).alias("nb_label")
            ),
            "c_id",
        )
        .groupBy("q_id", "nb_label")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("nb_label"))
    pred = votes.withColumn("__pr", F.row_number().over(w)).where(
        F.col("__pr") == 1
    )
    truth = queries.select(
        F.col(id_col).alias("q_id"), F.col(label_col).alias("true_label")
    )
    return pred.join(truth, "q_id").select(
        "q_id",
        "true_label",
        F.col("nb_label").alias("pred_label"),
        "votes",
        (F.col("nb_label") == F.col("true_label")).alias("correct"),
    )


def mips_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by MAXIMUM INNER PRODUCT (un-normalized dot) — the
    recommendation / reward-model scoring mode, distinct from cosine:
    a long vector can outrank a better-aligned short one.

    Scale path (documented, unit-tested in test_llm_ops): MIPS reduces
    to cosine ANN by the order-preserving augmentation x' = [x/M,
    sqrt(1 − ‖x‖²/M²)] with M ≥ max‖x‖ (Bachrach et al. 2014, the
    Xbox/ALS trick), after which the existing LSH/IVF bucketed indexes
    apply unchanged; this operator is the exact baseline those indexes
    are audited against. Queries are collected; candidates never shuffle;
    the dot is the Arrow kernel's fold-order-identical twin of ``_dot``, so
    the score is engine-identical. Ids may be of any atomic type; a struct,
    array or map id column raises TypeError."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
    )
    return _ranked(
        _arrow_pair_scores(emb, q, id_col, vec_col, mode="dot", k=k), k, "dot"
    )


def power_iteration_pc1(
    emb: DataFrame,
    iterations: int = 3,
    scale: int = 1000,
    quant: int = 127,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Leading principal direction of the embedding cloud by FIXED-POINT
    power iteration — the whitening / drift-diagnostic primitive (which
    dimension combination carries the variance), computed with zero
    float summations so the result is engine-exact.

    Discipline: elements quantize to integers (round(x·quant), the SQ8
    move from scalar_quantize_int8); centering is n-scaled subtraction
    (y = n·c − Σc, exact BIGINT); the covariance is an exact integer
    (i, j) aggregate; the matrix and each iterate renormalize to
    ``scale`` fixed-point units via pure BIGINT half-up division
    ``(1000·|v| + max div 2) div max``, so every iterate is an integer
    vector and the Σ_j C'_ij·v_j products stay exact. Sign is pinned by
    the deterministic all-ones start.

    Scale shape: the (i, j) covariance explode is dim² rows PER VECTOR
    but partial-aggregates map-side, so the one shuffle carries only
    dim²·partitions rows (dim²=4096 here); everything after runs on
    dim- or dim²-sized aggregate frames with broadcast iterates. BIGINT
    bounds: the renormalization multiplies the raw covariance by
    ``scale`` before dividing, so the binding constraint is
    n³·quant²·scale < 2^63 — safe to ~10⁴ vectors at the defaults;
    beyond that pre-aggregate to means (divide y by n — same plan, one
    extra division) before the covariance. scale²·dim < 2^63 always
    holds.

    Returns one row per dimension: (dim, v1..v_iterations fixed-point
    iterate values)."""
    y = _pc1_centered(emb, quant, id_col, vec_col)
    iterates = _pc1_iterates(y, iterations, scale)
    out = iterates[0]
    for nxt in iterates[1:]:
        out = out.join(nxt, "j")
    return out.select(
        F.col("j").cast("int").alias("dim"),
        *[f"v{k}" for k in range(1, iterations + 1)],
    )


def _pc1_centered(emb, quant, id_col, vec_col):
    """Quantize + n-scale-center the embedding elements: persisted
    (vid, i, y) with y = n·round(x·quant) − Σround(x·quant), exact
    BIGINT (shared by power_iteration_pc1 and pc1_project_by_label)."""
    el = spread_scan(emb.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("i", "xv"),
    ).select(
        "vid",
        "i",
        F.round(F.col("xv").cast("double") * quant).cast("long").alias("c"),
    ).transform(materialize)  # per-dim stats + the centering join both read it
    stats = el.groupBy("i").agg(
        F.sum("c").cast("long").alias("m"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return el.join(F.broadcast(stats), "i").select(
        "vid", "i", (F.col("n") * F.col("c") - F.col("m")).cast("long").alias("y")
    ).transform(materialize)  # both legs of the covariance self-join + any projection


def _pc1_iterates(y, iterations: int, scale: int):
    """Fixed-point power iteration over the centered codes ``y``:
    returns the list of per-pass iterate frames [(j, v1), (j, v2), ...]
    (exact-integer covariance + half-up renormalization each pass).

    The covariance aggregate stays distributed (the one corpus-scale
    pass); everything after it operates on a dim²-BOUNDED integer frame
    (4096 longs at dim=64 — a model property, independent of corpus
    size), so the renormalize + iterate recurrence runs on the COLLECTED
    covariance with the identical truncating-division integer formulas
    (Python ``//`` == Spark ``div`` on the non-negative operands each
    CASE branch guarantees; all values are in-contract BIGINT range, see
    power_iteration_pc1). The former per-pass broadcast/aggregate chain
    cost ~15 driver-coordinated mini-jobs per query for dim-sized data —
    the same aggregate-scale carve-out as BPE's vocab-sized merge loop."""
    spark = y.sparkSession
    yj = y.select(
        F.col("vid").alias("vid2"), F.col("i").alias("j"), F.col("y").alias("yj")
    )
    cov = (
        y.join(yj, F.col("vid") == F.col("vid2"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("y") * F.col("yj")).cast("long").alias("cv"))
    )
    rows = cov.collect()  # dim² rows, bounded by dimensionality
    mc = max((abs(r.cv) for r in rows), default=0)

    def _renorm(x: int, m: int) -> int:
        if m == 0:
            return 0
        if x >= 0:
            return (x * scale + m // 2) // m
        return -((-x * scale + m // 2) // m)

    cq = {(r.i, r.j): _renorm(r.cv, mc) for r in rows}
    dims = sorted({i for (i, _) in cq} | {j for (_, j) in cq})
    v = {j: 1 for j in dims}  # deterministic all-ones start
    iterates = []
    for it in range(1, iterations + 1):
        w = {i: 0 for i in dims}
        for (i, j), c in cq.items():
            w[i] += c * v[j]
        mw = max((abs(x) for x in w.values()), default=0)
        v = {i: _renorm(x, mw) for i, x in w.items()}
        iterates.append(
            spark.createDataFrame(
                spark.sparkContext.parallelize(
                    [(j, v[j]) for j in dims], 1
                ),
                schema=f"j long, v{it} long",
            )
        )
    return iterates


def pc1_project_by_label(
    emb: DataFrame,
    iterations: int = 3,
    scale: int = 1000,
    quant: int = 127,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding drift by segment: project every centered vector onto
    the fixed-point leading principal direction (the last
    power-iteration iterate) and aggregate the projection per
    ``label_col`` — the "which segment moved along the main axis"
    diagnostic a curation pipeline runs per source/language/snapshot.

    Exactness: proj = Σ_i y_i·v_i is a product of exact BIGINTs summed
    exactly; per-label sums are BIGINT; the mean is one half-up floor
    over explicit double division. Shape: the projection join broadcasts
    the dim-sized iterate into the (vid, i, y) stream — one vid-grain
    aggregate, one label-grain aggregate, nothing new at corpus scale.

    Returns (label, n_vecs, sum_proj, mean_proj)."""
    y = _pc1_centered(emb, quant, id_col, vec_col)
    v_last = _pc1_iterates(y, iterations, scale)[-1].select(
        F.col("j").alias("i"), F.col(f"v{iterations}").alias("v")
    )
    proj = (
        y.join(F.broadcast(v_last), "i")
        .groupBy("vid")
        .agg(F.sum(F.col("y") * F.col("v")).cast("long").alias("proj"))
    )
    labels = emb.select(
        F.col(id_col).alias("vid"), F.col(label_col).alias("label")
    )
    return (
        proj.join(labels, "vid")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("proj").cast("long").alias("sum_proj"),
        )
        .select(
            "label",
            "n_vecs",
            "sum_proj",
            F.floor(
                F.col("sum_proj").cast("double")
                / F.col("n_vecs").cast("double")
                + F.lit(0.5)
            ).cast("long").alias("mean_proj"),
        )
    )


def label_centroid_similarity(
    emb: DataFrame,
    quant: int = 127,
    digits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids
    — the "how close are these two sources/languages/clusters in
    embedding space" diagnostic behind mix design and cluster audits.

    Exactness: cosine of mean vectors equals cosine of per-label SUM
    vectors (the 1/n factors cancel), so the whole computation runs on
    exact BIGINT sums of int8-quantized codes: one (label, dim)
    aggregate collapses the corpus, and everything after — pair dots,
    norms, the final sqrt+divide — happens on a labels×dims frame small
    enough to broadcast. The only float ops are the final
    IEEE-correctly-rounded sqrt and divide on identical integers, then
    one half-up floor at ``digits``.

    Returns (label_a, label_b, dot, cos) for label_a < label_b."""
    el = emb.select(
        F.col(label_col).alias("lab"),
        F.posexplode(F.col(vec_col)).alias("i", "xv"),
    ).select("lab", "i", F.round(F.col("xv") * quant).cast("long").alias("c"))
    cent = el.groupBy("lab", "i").agg(
        F.sum("c").cast("long").alias("s")
    ).transform(materialize)  # labels×dims; consumed by norms and both pair legs
    norms = cent.groupBy("lab").agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("n2")
    )
    a = cent.select(
        F.col("lab").alias("label_a"), "i", F.col("s").alias("sa")
    )
    b = cent.select(
        F.col("lab").alias("label_b"), "i", F.col("s").alias("sb")
    )
    dots = (
        a.join(F.broadcast(b), "i")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("lab").alias("label_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("lab").alias("label_b"), F.col("n2").alias("nb2"))
    scale = float(10 ** digits)
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            "dot",
            (
                F.floor(
                    F.col("dot").cast("double")
                    / F.sqrt(
                        F.col("na2").cast("double") * F.col("nb2").cast("double")
                    )
                    * scale
                    + F.lit(0.5)
                ).cast("long")
                / F.lit(scale)
            ).alias("cos"),
        )
    )


def labeled_retrieval_eval(
    emb: DataFrame,
    k: int = 10,
    stride: int = 37,
    quant: int = 127,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-ground-truth retrieval evaluation: macro precision@k and
    recall@k of exact inner-product top-k, per label — the "does nearest-
    neighbor search actually surface same-class items" metric computed
    before an ANN index is trusted for retrieval-augmented training.

    Vectors quantize to int8 codes (round(u·quant), the SQ8 move), so
    the score is an exact BIGINT dot — no float tie ever reaches the
    rank window. The deterministic query subset (id % stride = 0)
    broadcasts; candidates never shuffle; the rank window partitions by
    query id. Per query, hits = same-label neighbors in the top k;
    macro-aggregating by query label gives P@k = hits/(n_q·k) and
    R@k = hits/(n_q·(n_label − 1)) (self excluded), each with one
    half-up floor at 1e−6. At index scale the same evaluation runs
    against ivf_topk/ann_topk_lsh output instead of the exact ranks —
    this operator is the ground-truth baseline those are audited
    against (cf. ann recall audits in SCALE.md).

    Returns one row per label:
    (label, n_queries, n_hits, p_at_k, r_at_k)."""
    from pyspark.sql import Window as W

    codes = F.expr(
        f"transform({vec_col}, u -> CAST(round(u * {quant}) AS BIGINT))"
    )
    base = emb.select(
        F.col(id_col), codes.alias("__codes"), F.col(label_col).alias("__lab")
    ).transform(materialize)  # one code projection serves queries, candidates, and the
    # per-label relevant counts (one corpus scan total)
    q = base.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("q_id"),
        F.col("__codes").alias("qc"),
        F.col("__lab").alias("q_lab"),
    )
    c = base.select(
        F.col(id_col).alias("c_id"),
        F.col("__codes").alias("cc"),
        F.col("__lab").alias("c_lab"),
    )
    dot = (
        "aggregate(zip_with(qc, cc, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "q_lab", "c_lab", F.expr(dot).alias("dot"), "c_id"
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("c_id"))
    hits = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .groupBy("q_id", "q_lab")
        .agg(
            F.sum(F.when(F.col("c_lab") == F.col("q_lab"), 1).otherwise(0))
            .cast("long")
            .alias("hits")
        )
    )
    rel = base.groupBy(F.col("__lab").alias("q_lab")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lab")
    )
    per_label = (
        hits.groupBy("q_lab")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum("hits").cast("long").alias("n_hits"),
        )
        .join(F.broadcast(rel), "q_lab")
    )
    fix6 = lambda num, den: F.when(  # noqa: E731
        den == 0, F.lit(0).cast("long")
    ).otherwise(
        F.floor(num.cast("double") * 1e6 / den.cast("double") + F.lit(0.5))
        .cast("long")
    ) / F.lit(
        1e6
    )
    return per_label.select(
        F.col("q_lab").alias("label"),
        "n_queries",
        "n_hits",
        fix6(F.col("n_hits"), F.col("n_queries") * k).alias("p_at_k"),
        fix6(
            F.col("n_hits"), F.col("n_queries") * (F.col("n_lab") - 1)
        ).alias("r_at_k"),
    ).orderBy("label")


def centroid_silhouette(
    emb: DataFrame,
    quant: int = 127,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Centroid silhouette per label — the cluster-separation audit
    ((b − a)/max(a, b) with a = distance to own-label centroid, b =
    distance to the nearest other centroid), the medoid-free variant
    every clustering / labeling pipeline can afford at corpus scale.

    Exactness discipline: codes are int8 quantized; the point-to-
    centroid distance uses the n-scaled identity d_L = sqrt(Σ_i (n_L·x_i
    − s_Li)²)/n_L with s_L the exact BIGINT per-label element sums — so
    the only floats are one sqrt + one divide per (point, label), the
    same correctly-rounded IEEE chain on both engines; the per-point
    silhouette quantizes half-up to 1e−6 before the label mean.

    Shape: centroids come from ONE (label, dim) aggregate; the
    labels×dims frame (with per-label counts) broadcasts back onto the
    element stream, so the corpus-grain work is one N·d·L partial-agged
    aggregate to (point, label) grain — never a point-point product.

    Returns (label, n_points, sil_micros_sum, mean_silhouette)."""
    codes = F.expr(
        f"transform({vec_col}, u -> CAST(round(u * {quant}) AS BIGINT))"
    )
    el = emb.select(
        F.col(id_col),
        F.col(label_col).alias("own"),
        F.posexplode(codes).alias("i", "c"),
    ).transform(materialize)  # one decode of the element stream feeds centroids, counts,
    # and the distance aggregate (keeps the query at ONE corpus scan)
    nl = el.filter(F.col("i") == 0).groupBy(F.col("own").alias("lab")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cent = (
        el.groupBy(F.col("own").alias("lab"), "i")
        .agg(F.sum("c").cast("long").alias("s"))
        .join(nl, "lab")
    )
    diff = F.col("n") * F.col("c") - F.col("s")
    q = (
        el.join(F.broadcast(cent), "i")
        .groupBy(id_col, "own", "lab")
        .agg(
            F.sum(diff * diff).cast("long").alias("qq"),
            F.first("n").alias("n"),
        )
    )
    d = q.select(
        id_col,
        "own",
        "lab",
        (
            F.sqrt(F.col("qq").cast("double")) / F.col("n").cast("double")
        ).alias("d"),
    )
    ab = d.groupBy(id_col, "own").agg(
        F.min(F.when(F.col("lab") == F.col("own"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("lab") != F.col("own"), F.col("d"))).alias("b"),
    )
    sil = ab.select(
        "own",
        F.when(F.greatest("a", "b") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                (F.col("b") - F.col("a"))
                / F.greatest("a", "b")
                * 1e6
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("sm"),
    )
    return (
        sil.groupBy(F.col("own").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum("sm").cast("long").alias("sil_micros_sum"),
            (
                F.floor(
                    F.sum("sm").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    + F.lit(0.5)
                ).cast("long")
                / F.lit(1e6)
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


def matryoshka_recall(
    emb: DataFrame,
    k_values: tuple = (1, 5, 10),
    trunc_dim: int = 16,
    stride: int = 41,
    quant: int = 127,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall of TRUNCATED-dimension retrieval against full-dimension
    exact top-k — the Matryoshka-representation question ("how much of
    the neighbor structure do the first d' dims carry?") that decides
    whether the cheap prefix index is safe at corpus scale.

    Both scores compute on ONE joined (query, candidate) frame — the
    full dot and the prefix dot are two exact BIGINT folds over the
    same int8 codes, so there is no second corpus pass and no float
    tie; two rank windows share the frame. recall@k = |topk_full ∩
    topk_trunc| / (n_q·k), one half-up floor each.

    Returns one row per k: (k, trunc_dim, n_queries, n_hits, recall)."""
    from pyspark.sql import Window as W

    codes = F.expr(
        f"transform({vec_col}, u -> CAST(round(u * {quant}) AS BIGINT))"
    )
    base = emb.select(F.col(id_col), codes.alias("__codes"))
    q = base.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("q_id"), F.col("__codes").alias("qc")
    )
    c = base.select(F.col(id_col).alias("c_id"), F.col("__codes").alias("cc"))
    fold = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.expr(fold.format(a="qc", b="cc")).alias("dot_full"),
            F.expr(
                fold.format(
                    a=f"slice(qc, 1, {trunc_dim})",
                    b=f"slice(cc, 1, {trunc_dim})",
                )
            ).alias("dot_trunc"),
        )
    )
    wf = W.partitionBy("q_id").orderBy(F.col("dot_full").desc(), F.col("c_id"))
    wt = W.partitionBy("q_id").orderBy(
        F.col("dot_trunc").desc(), F.col("c_id")
    )
    ranked = scored.select(
        "q_id",
        F.row_number().over(wf).alias("rk_f"),
        F.row_number().over(wt).alias("rk_t"),
    )
    kmax = max(k_values)
    agg = ranked.filter(
        (F.col("rk_f") <= kmax) | (F.col("rk_t") <= kmax)
    ).agg(
        F.countDistinct("q_id").cast("long").alias("n_q"),
        *[
            F.sum(
                F.when((F.col("rk_f") <= k) & (F.col("rk_t") <= k), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias(f"h_{k}")
            for k in k_values
        ],
    )
    stack_args = ", ".join(f"{k}, h_{k}" for k in k_values)
    rows = agg.select(
        "n_q",
        F.expr(
            f"stack({len(k_values)}, {stack_args}) AS (k, n_hits)"
        ),
    )
    return rows.select(
        F.col("k").cast("int").alias("k"),
        F.lit(trunc_dim).cast("int").alias("trunc_dim"),
        F.col("n_q").alias("n_queries"),
        "n_hits",
        (
            F.floor(
                F.col("n_hits").cast("double")
                * 1e6
                / (F.col("n_q") * F.col("k")).cast("double")
                + F.lit(0.5)
            ).cast("long")
            / F.lit(1e6)
        ).alias("recall"),
    ).orderBy("k")


# DCG discount weights in micro-units: w_r = round(1e6 / log2(r + 1)) for
# rank r = 1..10, precomputed ONCE (embedding log2 as literals keeps the
# metric free of libm — JVM and DuckDB log2 can differ in the last ulp),
# plus the cumulative ideal sums for IDCG.
NDCG_W_MICROS = (
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
)
NDCG_IDEAL_MICROS = tuple(
    sum(NDCG_W_MICROS[: i + 1]) for i in range(len(NDCG_W_MICROS))
)


def labeled_ndcg_at_k(
    emb: DataFrame,
    k: int = 10,
    stride: int = 43,
    quant: int = 127,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Macro nDCG@k of exact inner-product retrieval against label
    ground truth — the rank-weighted retrieval eval (a same-label hit
    at rank 1 is worth more than at rank 10), complementing the flat
    P@k/R@k of labeled_retrieval_eval.

    Determinism: the log2 discount enters ONLY through the precomputed
    integer weight table (NDCG_W_MICROS — literals, not libm calls),
    so per-query DCG and the ideal IDCG are exact BIGINT sums; the
    single division happens once per query with a half-up floor, and
    the per-label mean averages those exact micro values. Shape:
    queries broadcast, candidates never shuffle, rank window per query.

    Returns (label, n_queries, mean_ndcg) per query label."""
    if not 1 <= k <= len(NDCG_W_MICROS):
        raise ValueError(
            f"labeled_ndcg_at_k supports k in [1, {len(NDCG_W_MICROS)}] "
            "(the precomputed literal discount table); extend "
            "NDCG_W_MICROS with round(1e6 / log2(r + 1)) literals for "
            f"larger k, got k={k}"
        )
    from pyspark.sql import Window as W

    codes = F.expr(
        f"transform({vec_col}, u -> CAST(round(u * {quant}) AS BIGINT))"
    )
    base = emb.select(
        F.col(id_col), codes.alias("__codes"), F.col(label_col).alias("__lab")
    ).transform(materialize)  # one code projection: queries, candidates, label counts
    q = base.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("q_id"),
        F.col("__codes").alias("qc"),
        F.col("__lab").alias("q_lab"),
    )
    c = base.select(
        F.col(id_col).alias("c_id"),
        F.col("__codes").alias("cc"),
        F.col("__lab").alias("c_lab"),
    )
    dot = (
        "aggregate(zip_with(qc, cc, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    w = W.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("c_id"))
    weight = F.element_at(
        F.array(*[F.lit(x).cast("long") for x in NDCG_W_MICROS]), F.col("rk")
    )
    dcg = (
        c.join(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_lab", "c_lab", F.expr(dot).alias("dot"), "c_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .groupBy("q_id", "q_lab")
        .agg(
            F.sum(
                F.when(F.col("c_lab") == F.col("q_lab"), weight).otherwise(
                    F.lit(0).cast("long")
                )
            )
            .cast("long")
            .alias("dcg_micros")
        )
    )
    nl = base.groupBy(F.col("__lab").alias("q_lab")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lab")
    )
    ideal = F.element_at(
        F.array(*[F.lit(x).cast("long") for x in NDCG_IDEAL_MICROS]),
        F.least(
            F.lit(k), F.greatest(F.lit(1).cast("long"), F.col("n_lab") - 1)
        ).cast("int"),
    )
    per_q = dcg.join(F.broadcast(nl), "q_lab").select(
        "q_lab",
        F.when(F.col("n_lab") <= 1, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                F.col("dcg_micros").cast("double")
                * 1e6
                / ideal.cast("double")
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("ndcg_micros"),
    )
    return (
        per_q.groupBy(F.col("q_lab").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            (
                F.floor(
                    F.sum("ndcg_micros").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    + F.lit(0.5)
                ).cast("long")
                / F.lit(1e6)
            ).alias("mean_ndcg"),
        )
        .orderBy("label")
    )


# Reciprocal-rank weights in micro-units: round(1e6 / r) for r = 1..10 —
# literals on both engines, same discipline as NDCG_W_MICROS.
MRR_W_MICROS = (
    1000000, 500000, 333333, 250000, 200000,
    166667, 142857, 125000, 111111, 100000,
)


def labeled_mrr_at_k(
    emb: DataFrame,
    k: int = 10,
    stride: int = 43,
    quant: int = 127,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Macro MRR@k of exact inner-product retrieval against label
    ground truth: per query, the reciprocal rank of the FIRST same-
    label neighbor within the top k (0 if none) — the "how fast does
    the right answer appear" eval. Reciprocals come from the literal
    integer weight table (MRR_W_MICROS), so per-query values and the
    per-label mean are exact; one half-up floor at the mean. Same
    broadcast-queries / exact-BIGINT-dot / per-query-rank-window shape
    as labeled_ndcg_at_k.

    Returns (label, n_queries, mean_mrr)."""
    if not 1 <= k <= len(MRR_W_MICROS):
        raise ValueError(
            f"labeled_mrr_at_k supports k in [1, {len(MRR_W_MICROS)}] "
            "(the precomputed literal reciprocal table); extend "
            "MRR_W_MICROS with round(1e6 / r) literals for larger k, "
            f"got k={k}"
        )
    from pyspark.sql import Window as W

    codes = F.expr(
        f"transform({vec_col}, u -> CAST(round(u * {quant}) AS BIGINT))"
    )
    base = emb.select(
        F.col(id_col), codes.alias("__codes"), F.col(label_col).alias("__lab")
    )
    q = base.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("q_id"),
        F.col("__codes").alias("qc"),
        F.col("__lab").alias("q_lab"),
    )
    c = base.select(
        F.col(id_col).alias("c_id"),
        F.col("__codes").alias("cc"),
        F.col("__lab").alias("c_lab"),
    )
    dot = (
        "aggregate(zip_with(qc, cc, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    w = W.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("c_id"))
    first_rel = (
        c.join(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_lab", "c_lab", F.expr(dot).alias("dot"), "c_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .groupBy("q_id", "q_lab")
        .agg(
            F.min(
                F.when(F.col("c_lab") == F.col("q_lab"), F.col("rk"))
            ).alias("first_rk")
        )
    )
    rr = F.when(
        F.col("first_rk").isNull(), F.lit(0).cast("long")
    ).otherwise(
        F.element_at(
            F.array(*[F.lit(x).cast("long") for x in MRR_W_MICROS]),
            F.col("first_rk").cast("int"),
        )
    )
    return (
        first_rel.select("q_lab", rr.alias("rr_micros"))
        .groupBy(F.col("q_lab").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            (
                F.floor(
                    F.sum("rr_micros").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    + F.lit(0.5)
                ).cast("long")
                / F.lit(1e6)
            ).alias("mean_mrr"),
        )
        .orderBy("label")
    )


def embedding_outliers(
    emb: DataFrame,
    k_num: int = 3,
    k_den: int = 2,
    quant: int = 127,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding outlier detection — flag vectors whose
    squared distance to their OWN label centroid exceeds (k_num/k_den)²
    times the label's mean squared distance: the curation filter that
    drops mislabeled or off-distribution points before training.

    Fully exact: with the n-scaled identity q = Σ_i (n·x_i − s_i)²
    (exact BIGINT), the flag is the integer cross-comparison
    q·n_lab·k_den² > k_num²·Σ_lab q — no division, no sqrt, no float
    anywhere, so the flags are bit-identical on any engine. Shape: one
    (label, dim) centroid aggregate broadcast back; one corpus-grain
    (point, own-label) distance aggregate; label-grain means broadcast
    into the flag projection.

    Returns per label: (label, n_points, n_outliers, outlier_ppm)."""
    codes = F.expr(
        f"transform({vec_col}, u -> CAST(round(u * {quant}) AS BIGINT))"
    )
    el = emb.select(
        F.col(id_col),
        F.col(label_col).alias("lab"),
        F.posexplode(codes).alias("i", "c"),
    ).transform(materialize)  # centroids and the distance pass share one decode
    cent = el.groupBy("lab", "i").agg(F.sum("c").cast("long").alias("s"))
    nl = el.filter(F.col("i") == 0).groupBy("lab").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cw = cent.join(nl, "lab")
    diff = F.col("n") * F.col("c") - F.col("s")
    q = (
        el.join(F.broadcast(cw), ["lab", "i"])
        .groupBy(id_col, "lab")
        .agg(
            F.sum(diff * diff).cast("long").alias("qq"),
            F.first("n").alias("n"),
        )
    ).transform(materialize)  # label means and the flag projection share it
    means = q.groupBy("lab").agg(F.sum("qq").cast("long").alias("sq"))
    flagged = q.join(F.broadcast(means), "lab").select(
        "lab",
        (
            F.col("qq") * F.col("n") * (k_den * k_den)
            > (k_num * k_num) * F.col("sq")
        ).alias("out"),
    )
    return (
        flagged.groupBy(F.col("lab").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(F.col("out").cast("long")).cast("long").alias("n_outliers"),
            F.floor(
                F.sum(F.col("out").cast("long")).cast("double")
                * 1e6
                / F.count(F.lit(1)).cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("outlier_ppm"),
        )
        .orderBy("label")
    )


def hard_negative_mining(
    emb: DataFrame,
    n_negatives: int = 3,
    stride: int = 47,
    quant: int = 127,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive training-pair mining: for each anchor, the nearest
    SAME-label neighbor (the positive) and the ``n_negatives`` nearest
    DIFFERENT-label neighbors (the hard negatives — the pairs that
    actually move a contrastive loss, vs easy random negatives).

    One scored frame (exact BIGINT int8 dots — no float tie reaches the
    windows), one rank window per (anchor, same-label?) slice. Anchors
    broadcast; candidates never shuffle. At index scale the candidate
    set comes from ivf_topk/ann buckets instead of the full corpus —
    this is the exact baseline.

    Returns (q_id, kind, rk, c_id, dot): kind 'pos' (rk 1) or 'neg'
    (rk 1..n_negatives)."""
    from pyspark.sql import Window as W

    codes = F.expr(
        f"transform({vec_col}, u -> CAST(round(u * {quant}) AS BIGINT))"
    )
    base = emb.select(
        F.col(id_col), codes.alias("__codes"), F.col(label_col).alias("__lab")
    )
    q = base.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("q_id"),
        F.col("__codes").alias("qc"),
        F.col("__lab").alias("q_lab"),
    )
    c = base.select(
        F.col(id_col).alias("c_id"),
        F.col("__codes").alias("cc"),
        F.col("__lab").alias("c_lab"),
    )
    dot = (
        "aggregate(zip_with(qc, cc, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (F.col("c_lab") == F.col("q_lab")).alias("same"),
            F.expr(dot).alias("dot"),
        )
    )
    w = W.partitionBy("q_id", "same").orderBy(
        F.col("dot").desc(), F.col("c_id")
    )
    ranked = scored.withColumn("rk", F.row_number().over(w))
    return (
        ranked.filter(
            (F.col("same") & (F.col("rk") == 1))
            | (~F.col("same") & (F.col("rk") <= n_negatives))
        )
        .select(
            "q_id",
            F.when(F.col("same"), "pos").otherwise("neg").alias("kind"),
            F.col("rk").cast("int").alias("rk"),
            "c_id",
            "dot",
        )
        .orderBy("q_id", "kind", "rk")
    )
