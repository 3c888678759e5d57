"""Deduplication operators for training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle → minhash → band → bucket join),
SimHash, and n-gram Jaccard. All pure Spark SQL expressions — no Python in
the hot path, so each stage stays in whole-stage codegen and scales by
shuffle capacity alone.

Determinism: every hash is md5 over an explicit string, so results are
reproducible across engines (the DuckDB oracle mirrors the same formulas).
Scale shape: the only shuffles are groupBy(doc,seed) and the band-bucket
self-join; band buckets are tiny by construction (hash-distributed), so the
self-join explodes only true near-dup clusters — the standard LSH cost
model. At 100 TB, add a bucket-size cap (count>threshold → skip bucket) to
bound adversarial skew; noted inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ytsaurus_spark.operators import materialize


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5(text) → (hash, canonical id, count).
    One shuffle; canonical = min id, matching keep-first convention."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _shingles(docs: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Word k-shingles. Docs shorter than k words contribute the whole text
    as a single shingle (guards sequence() against negative bounds).

    The split + k-way concat transform is per-row compute in the scan
    stage — spread a below-parallelism input first (no-op once the scan
    splits naturally; see spread_scan)."""
    from ytsaurus_spark.operators import spread_scan

    toks = spread_scan(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("t")
    )
    parts = "concat(" + ", ' ', ".join(f"t[i+{j}]" for j in range(k)) + ")"
    shingle_expr = (
        f"CASE WHEN size(t) >= {k} THEN "
        f"transform(sequence(0, size(t)-{k}), i -> {parts}) "
        f"ELSE array(array_join(t, ' ')) END"
    )
    return toks.select(id_col, F.explode(F.expr(shingle_expr)).alias("shingle"))


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-doc minhash signature, wide form: column ``mh{i}`` =
    min over shingles of md5(i || '|' || shingle).

    Fixed-width hex compares lexicographically == numerically, so string
    min IS the minhash — no hex→int conversion needed, and the same formula
    runs verbatim in any engine with md5().

    Computed entirely in the scan stage: a document's shingles are one
    array-valued expression, so ``array_min(transform(shingles, md5 ...))``
    IS the per-seed minhash — no explode, no aggregation, no exchange.
    (The former explode + groupBy(doc) formulation forced a SortAggregate —
    min-over-string buffers are not hash-aggregable — i.e. a sort of the
    full shingle stream plus a doc-keyed shuffle; r11 measurement showed
    that pipeline dominating every minhash consumer.) ``array_distinct``
    first: min over a set equals min over the multiset, and duplicate
    shingles would pay ``num_hashes`` md5s each for nothing."""
    from ytsaurus_spark.operators import spread_scan

    toks = F.split(F.col(text_col), " ")
    parts = "concat(" + ", ' ', ".join(f"t[i+{j}]" for j in range(shingle_k)) + ")"
    shingles = (
        f"CASE WHEN size(t) >= {shingle_k} THEN "
        f"array_distinct(transform(sequence(0, size(t)-{shingle_k}), i -> {parts})) "
        f"ELSE array(array_join(t, ' ')) END"
    )
    base = spread_scan(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), toks.alias("t")
    ).select(id_col, F.expr(shingles).alias("__sh"))
    def _seed_min(i: int):
        # running-min fold (least ignores the null seed accumulator):
        # equal to min over the md5 set, without materializing a hash
        # array per seed the way transform + array_min would
        pre = f"{i}|"
        return F.aggregate(
            F.col("__sh"),
            F.lit(None).cast("string"),
            lambda acc, s: F.least(acc, F.md5(F.concat(F.lit(pre), s))),
        ).alias(f"mh{i}")

    return base.select(id_col, *[_seed_min(i) for i in range(num_hashes)])


def band_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_rows: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc, band, band_sig) LSH band rows — the persistable DEDUP INDEX.

    This is the unpivoted banding of ``minhash_signatures``; a corpus's
    band table is what an incremental pipeline stores between batches
    (kilobytes per document regardless of document size), so new data
    dedupes against 100 TB of history by joining THIS table, never by
    re-reading the corpus."""
    if num_hashes % band_rows:
        raise ValueError("band_rows must divide num_hashes")
    mh = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_k)
    n_bands = num_hashes // band_rows
    band_sigs = [
        F.md5(
            F.concat(*[F.col(f"mh{b * band_rows + r}") for r in range(band_rows)])
        ).alias(f"sig{b}")
        for b in range(n_bands)
    ]
    wide = mh.select(F.col(id_col), *band_sigs)
    # unpivot to (doc, band, band_sig) for the bucket join
    stack = ", ".join(f"{b}, sig{b}" for b in range(n_bands))
    return wide.select(
        id_col,
        F.expr(f"stack({n_bands}, {stack}) AS (band, band_sig)"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_rows: int = 2,
    shingle_k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    bands = num_hashes / band_rows; two docs collide if any band's minhash
    slice matches exactly. Returns distinct (doc_a < doc_b) pairs.
    ``max_bucket`` caps bucket size (skew guard for 100 TB runs)."""
    sigs = band_signatures(
        docs, text_col, id_col, num_hashes, band_rows, shingle_k
    )
    # ONE shuffle on (band, band_sig) collecting each bucket's members,
    # then in-bucket pair expansion — replaces the former self-join, which
    # evaluated the whole minhash pipeline twice (once per join side; no
    # exchange reuse across a broadcast) and shuffled it twice. Bucket
    # sizes are bounded by construction (hash-distributed sigs; and
    # ``max_bucket`` caps adversarial skew BEFORE any pair is emitted, so
    # a hot bucket costs its member list, never its pair explosion).
    # null band_sig (null/empty text ⇒ null minhash) never matches under
    # join-on-key semantics; drop it before grouping to keep that contract.
    grouped = (
        sigs.filter(F.col("band_sig").isNotNull())
        .groupBy("band", "band_sig")
        .agg(F.collect_list(F.col(id_col)).alias("_ids"))
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("_ids") <= max_bucket)
    pairs = (
        grouped.filter(F.size("_ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(_ids, x -> "
                    "transform(filter(_ids, y -> y > x), "
                    "z -> named_struct('doc_a', x, 'doc_b', z))))"
                )
            ).alias("_p")
        )
        .select("_p.doc_a", "_p.doc_b")
    )
    return pairs.distinct()


def minhash_lsh_incremental(
    new_docs: DataFrame,
    stored_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_rows: int = 2,
    shingle_k: int = 3,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedupe a NEW batch against a stored corpus index (the daily-crawl
    pattern): signatures are computed for the new documents ONLY, and
    candidates are band collisions of new-vs-stored plus new-vs-new.

    ``stored_sigs`` is a persisted :func:`band_signatures` table —
    kilobytes per historical document, so a 100 TB corpus participates
    through its index scan, never a re-read or re-hash of the text.
    Returns ``(pairs, updated_sigs)``: normalized distinct
    (doc_a < doc_b) candidate pairs touching at least one new doc, and
    the union index to persist for the next batch. One shuffle on
    (band, band_sig); ``max_bucket`` caps hot buckets as in
    :func:`minhash_lsh_pairs`."""
    # LAZY persist: the new batch's band rows feed BOTH join sides (the
    # probe side directly, the build side via the union with the stored
    # index) plus the returned union — one signature computation, not
    # two-or-three evaluations of the minhash scan pipeline.
    new_sigs = band_signatures(
        new_docs, text_col, id_col, num_hashes, band_rows, shingle_k
    ).transform(materialize)
    updated = stored_sigs.unionByName(new_sigs)
    right = updated
    if max_bucket is not None:
        counts = right.groupBy("band", "band_sig").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        right = right.join(
            counts.filter(F.col("_bn") <= max_bucket).drop("_bn"),
            ["band", "band_sig"],
        )
    a = new_sigs.select(
        F.col(id_col).alias("_na"), F.col("band"), F.col("band_sig")
    )
    b = right.select(
        F.col(id_col).alias("_ob"), F.col("band"), F.col("band_sig")
    )
    pairs = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("_na") != F.col("_ob"))
        .select(
            F.least("_na", "_ob").alias("doc_a"),
            F.greatest("_na", "_ob").alias("doc_b"),
        )
        .distinct()
    )
    return pairs, updated


def cluster_pairs(
    pairs: DataFrame,
    iterations: int = 3,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Near-dup clusters from candidate pairs: bounded min-label propagation.

    Each node's label starts as its own id; every iteration each node takes
    the minimum label among itself and its neighbors. ``iterations`` bounds
    the propagation diameter — near-dup clusters are dense (close to
    cliques from LSH banding), so a small constant converges. The
    recurrence is ``graph.connected_components``'s; returns (doc_id,
    cluster_id=min reachable id within ``iterations`` hops).
    """
    from ytsaurus_spark.operators.graph import connected_components

    return connected_components(pairs, iterations, a_col, b_col).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash fingerprint: per-bit majority vote over token hashes.

    Bit b of a token = parity of the (b+1)-th md5 hex char — engine-portable
    and uniform. Output: (doc_id, simhash) bit string; near-dups share
    fingerprints at small Hamming distance (exact match used downstream)."""
    from ytsaurus_spark.operators import spread_scan

    # Scan-stage formulation: a doc's token hashes are one array expression,
    # so each bit's ±1 vote folds per row (integer addition — order-free,
    # identical to the former explode + groupBy) with no exchange at all.
    hs = F.transform(
        F.filter(F.split(F.col(text_col), " "), lambda t: t != ""),
        lambda t: F.md5(t),
    )
    base = (
        spread_scan(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), hs.alias("__hs"))
        # all-empty/null texts produced no (doc, tok) rows in the exploded
        # form, so they had no fingerprint; keep that contract
        .filter(F.size("__hs") > 0)
    )

    def _bit_vote(b: int):
        return F.aggregate(
            F.col("__hs"),
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.ascii(F.substring(h, b + 1, 1)) % 2 == 1, 1).otherwise(-1),
        ).alias(f"b{b}")

    sums = base.select(id_col, *[_bit_vote(b) for b in range(bits)])
    fingerprint = F.concat(
        *[F.when(F.col(f"b{b}") >= 0, "1").otherwise("0") for b in range(bits)]
    )
    return sums.select(F.col(id_col), fingerprint.alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.5,
    df_max: int | None = None,
) -> DataFrame:
    """Pairwise Jaccard over distinct word k-shingle sets.

    Shape: explode distinct shingles, self-join on shingle (the inverted-
    index join), count common, compute |A∩B| / (|A|+|B|-|A∩B|).

    ``df_max`` prunes shingles whose document frequency exceeds the cap
    before the join — the standard stop-shingle optimization. The inverted-
    index join's cost is Σ df(s)², so one shingle shared by a million docs
    is 10¹² candidate pairs; capping df bounds the join at the price of
    underestimating Jaccard for pairs that only share ubiquitous shingles
    (which are, by construction, not near-duplicates). At 100 TB this knob
    is mandatory; the exact (uncapped) form remains the oracle default."""
    sh = _shingles(docs, text_col, id_col, shingle_k).distinct()
    if df_max is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = sh.join(
            freq.filter(F.col("_df") <= df_max).select("shingle"), "shingle"
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (never all-pairs).

    The semantic-dedup path for an embedded corpus: vectors are bucketed by
    random-hyperplane LSH sign bits (deterministic planes shared with
    :func:`ytsaurus_spark.operators.similarity.lsh_bucket`), candidate
    pairs come from a bucket equi-join (a_id < b_id), and the exact cosine
    filter keeps pairs at or above ``threshold``. Same plan spine as
    minhash_lsh_pairs: one bucket shuffle, candidates bounded by bucket
    size — the 100 TB shape. Recall < 1 by construction (a near-dup pair
    split across buckets is missed); raise ``num_planes`` probes or union
    multiple plane sets to tighten it.

    Returns (a_id, b_id, cosine) with cosine rounded to 4 decimals.
    """
    from ytsaurus_spark.operators.similarity import _bucket_expr, _dot

    # bucket + self-norm as scan-stage projections: no id-self-join to
    # attach buckets, and each vector folds its own norm once instead of
    # per candidate pair (bit-identical: sqrt(aa*bb) over the same two
    # fold results). The bucket equi-join stays the scale shape —
    # candidates bounded by bucket population, never all-pairs.
    from ytsaurus_spark.operators import spread_scan

    withb = spread_scan(emb).withColumn(
        "bucket", F.expr(_bucket_expr(num_planes, dim, vec_col))
    ).withColumn("_nn", F.expr(_dot(vec_col, vec_col)))
    a = withb.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("av"), "bucket",
        F.col("_nn").alias("_aa"),
    )
    b = withb.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("bv"), "bucket",
        F.col("_nn").alias("_bb"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cosine",
            F.expr(f"{_dot('av', 'bv')} / sqrt(_aa * _bb)"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id", F.round("cosine", 4).alias("cosine"))
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 30,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    recipe): cluster the embeddings with k-means, then drop near-duplicate
    pairs WITHIN each cluster only — the cluster assignment plays the role
    the LSH bucket plays in :func:`embedding_near_dup_pairs`, but learned
    from the data, so semantically-close documents land in the same
    bucket even when no random hyperplane would pair them.

    Plan shape at 100 TB: the k-means fit is the chained declarative Lloyd
    of ``kmeans_iterations`` (broadcast centroids, no driver data); the
    pair scan is a cluster equi-join, O(Σ cell²) not O(n²); the drop rule
    is greedy-by-id (a vector is dropped iff it has a kept-or-dropped
    near-dup with a smaller id) — deterministic, no iteration, identical
    in any engine. Returns (id, cell, kept).
    """
    from ytsaurus_spark.operators.similarity import _dot, kmeans_iterations

    assign = kmeans_iterations(
        emb, k=k, iterations=iterations,
        id_col=id_col, vec_col=vec_col, centroid_stride=centroid_stride,
    )
    from ytsaurus_spark.operators import spread_scan

    withc = (
        spread_scan(
            emb.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
            )
        )
        .join(assign, id_col)
    )
    # LAZY persist of the pair-scan input: it is consumed four times (both
    # pair sides + the final anti/semi joins), and each consumer otherwise
    # re-derives the whole chained-Lloyd assignment. Measured at bench
    # scale: 3.5-6.4s → ~2.2s. A lazy persist keeps one-job exchange
    # reuse intact — the EAGER checkpoint tried earlier defeated it and
    # was ~1.7× slower. Values unchanged:
    # same plan, materialized once per invocation.
    withn = withc.withColumn("_nn", F.expr(_dot("v", "v"))).transform(materialize)
    withc = withn.drop("_nn")
    a = withn.select(
        F.col(id_col).alias("a_id"), F.col("v").alias("av"), "cell",
        F.col("_nn").alias("_aa"),
    )
    b = withn.select(
        F.col(id_col).alias("b_id"), F.col("v").alias("bv"), "cell",
        F.col("_nn").alias("_bb"),
    )
    drops = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cos",
            # self-norms pre-folded per vector (bit-identical; 3 folds → 1)
            F.round(F.expr(f"{_dot('av', 'bv')} / sqrt(_aa * _bb)"), 4),
        )
        .filter(F.col("cos") >= threshold)
        .select(F.col("b_id").alias(id_col))
        .distinct()
    )
    return withc.join(drops, id_col, "left_anti").select(
        id_col, "cell", F.lit(True).alias("kept")
    ).unionByName(
        withc.join(drops, id_col, "left_semi").select(
            id_col, "cell", F.lit(False).alias("kept")
        )
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """Edit-distance join at scale: bucket both sides by (first char,
    length band) before computing Levenshtein, so candidates are an
    EQUI-join on the bucket key instead of an all-pairs cross join.
    Strings within distance d can differ in length by at most d, so each
    left row probes the length bands floor((len±d)/band) — emitted as a
    small explode (≤ 3 bands for d ≤ band) — and must share a first
    character unless an edit touches position 0; the first-char relax
    keeps recall exact by ALSO probing the '*' wildcard bucket for rows
    whose first character differs. Candidates then pass the exact
    distance filter. The same shape the reference's fuzzy dedup would
    use: bucket → equi-join → verify, never O(n²)."""
    band = max(max_distance, 2)

    def keyed(df: DataFrame, col: str, probe: bool) -> DataFrame:
        base = df.withColumn("__len", F.length(col))
        if probe:
            # probe every length band reachable within max_distance
            lo = F.floor((F.col("__len") - max_distance) / band)
            hi = F.floor((F.col("__len") + max_distance) / band)
            bands = F.sequence(lo, hi)
        else:
            bands = F.array(F.floor(F.col("__len") / band))
        first = F.substring(col, 1, 1)
        return (
            base.withColumn("__band", F.explode(bands))
            .withColumn("__fc", F.explode(F.array(first, F.lit("*"))))
        )

    l = keyed(left, left_col, probe=True).withColumnRenamed("__len", "__llen")
    r = keyed(right, right_col, probe=False).withColumnRenamed("__len", "__rlen")
    cand = l.join(r, ["__band", "__fc"])
    # wildcard bucket pairs both-wildcard only when first chars differ
    # (same-first-char pairs already met in the exact-char bucket; drop dups)
    cand = cand.filter(
        (F.col("__fc") != "*")
        | (F.substring(left_col, 1, 1) != F.substring(right_col, 1, 1))
    ).dropDuplicates([left_col, right_col])
    return (
        cand.filter(F.levenshtein(left_col, right_col) <= max_distance)
        .select(
            left_col,
            right_col,
            F.levenshtein(left_col, right_col).cast("long").alias("dist"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 16,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS local fingerprinting algorithm): hash every
    character ``k``-gram, slide a window of ``w`` consecutive hashes, and
    keep each window's MINIMUM hash. Guarantees any shared substring of
    length >= k + w - 1 contributes at least one identical fingerprint in
    both documents — the detection floor exact-hash dedup lacks and
    MinHash only meets probabilistically.

    Scale shape — ENTIRELY scan-stage, zero shuffles: the per-doc k-gram
    hash array is built in one projection, window minima are selected
    with array HOFs (``transform`` over window starts + ``array_min`` ∘
    ``slice``), and per-doc ``array_distinct`` collapses consecutive
    windows sharing a min BEFORE the explode — so only selected
    fingerprints (~2/(w+1) of the gram count) ever become rows, and the
    (doc, fp) output is already unique with no global ``distinct``. The
    earlier form exploded every gram and ran a partitionBy(doc) window +
    global distinct: two fact-scale exchanges carrying one row per
    corpus CHARACTER — at 100 TB that shuffle is ~(w+1)/2× the one this
    shape hands its consumer. The O(w) rescan per window min is JVM
    codegen over an in-memory array (w is a small constant).

    Determinism: hash = first 8 md5 hex digits of the raw k-gram, so the
    DuckDB oracle reproduces fingerprints bit-exactly."""
    t = f"`{text_col}`"
    # Classic winnowing selection: EVERY full window (start s in
    # [1, np-w+1]) contributes its minimum VALUE. (Selecting positions
    # where h == window-min instead would lose the guarantee on monotone
    # hash runs — a strictly increasing window never has its min at the
    # newest position.) Documents with fewer than w grams have no full
    # window — the short-input rule emits the min of ALL their hashes
    # (the clamped final window), so short docs stay pairable.
    fps = F.expr(
        f"""
        CASE WHEN size(__hs) >= {w}
             THEN array_distinct(transform(
                    sequence(1, size(__hs) - {w} + 1),
                    s -> array_min(slice(__hs, s, {w}))))
             ELSE array(array_min(__hs)) END
        """
    )
    from ytsaurus_spark.operators import spread_scan

    return (
        spread_scan(docs.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.expr(
                f"""
                transform(
                  sequence(1, greatest(length({t}) - {k - 1}, 1)),
                  p -> CAST(conv(substring(md5(substring({t}, p, {k})),
                                 1, 8), 16, 10) AS BIGINT))
                """
            ).alias("__hs"),
        )
        .select(F.col(id_col), F.explode(fps).alias("h"))
    )


def winnow_shared_passages(
    docs: DataFrame,
    k: int = 16,
    w: int = 8,
    min_shared: int = 3,
    df_max: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints —
    passage-level (copy-paste) duplication that whole-document hashing
    misses and shingle-Jaccard dilutes on long documents.

    The pair search is an inverted-index equi-join on the fingerprint
    value, exactly the n-gram Jaccard join shape: candidates explode only
    where true shared passages exist. ``df_max`` prunes fingerprints
    whose document frequency exceeds the cap (boilerplate headers/
    footers shared by thousands of docs) BEFORE the join — at 100 TB the
    cap is mandatory; the exact uncapped form stays the oracle default,
    mirroring ngram_jaccard_pairs.

    The explicit ``repartition("h")`` is load-bearing: the scan-side
    fingerprint builder has NO exchange of its own, so without it the
    self-join's two legs would each re-run the per-position md5 hashing
    over the whole corpus (measured: 1.9× wall). Shuffling the selected
    fingerprints once gives both legs the SAME exchange subtree (AQE
    reuses it — hash once, read twice) and already satisfies the join's
    h-distribution, so it adds no exchange the join wouldn't need."""
    fp = winnow_fingerprints(docs, k, w, text_col, id_col).repartition("h")
    if df_max is not None:
        hot = (
            fp.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_max)
            .select("h")
        )
        fp = fp.join(F.broadcast(hot), "h", "left_anti")
    a = fp.select(F.col(id_col).alias("id_a"), "h")
    b = fp.select(F.col(id_col).alias("id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_rows: int = 2,
    shingle_k: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Dedupe a NEW batch against an existing corpus WITHOUT touching the
    corpus — the production shape for a continuously-ingesting training
    pipeline. ``index`` is the corpus's persisted band table
    (``band_signatures`` output, or empty with the same schema for a
    cold start). A new doc is dropped when any of its bands collides
    with the index (duplicate of history) or with a LOWER-id surviving
    batch mate (duplicate within the batch — the same lower-id-wins rule
    as minhash_lsh_pairs). Returns ``(survivor_ids, new_index_rows)``;
    appending the second to the index keeps the loop incremental.

    Scale shape: per batch the work is O(batch shingles) + one equi-join
    of the batch's band rows against the index (band_sig is an md5 —
    uniformly distributed, so the join never skews); the corpus text is
    never re-read, and the index grows by bands-per-doc rows per
    survivor (constant kilobytes per document)."""
    # LAZY persist: the batch's band rows are consumed FOUR times below
    # (index semi-join, both sides of the in-batch self-join, and the
    # new-index semi-join) — without it one consumer job evaluates the
    # whole minhash scan pipeline (shingling + 8 md5 folds per doc) once
    # per reference. Same lifetime discipline as the module's other
    # persists: MEMORY_AND_DISK, LRU-evicted, optimization-only.
    sigs = band_signatures(
        new_docs, text_col, id_col, num_hashes, band_rows, shingle_k
    ).transform(materialize)
    # duplicates of history: any band collides with the index
    dup_hist = (
        sigs.join(
            index.select("band", "band_sig").distinct(),
            ["band", "band_sig"],
            "left_semi",
        )
        .select(id_col)
        .distinct()
    )
    # duplicates within the batch: ANY collision with a lower batch id
    # removes the higher id — the same lower-id-wins convention as the
    # whole-corpus minhash_lsh_pairs path (pipeline_clean_corpus), kept
    # regardless of whether the lower doc itself duplicates history.
    a = sigs.select(F.col(id_col).alias("__a"), "band", "band_sig")
    b = sigs.select(F.col(id_col).alias("__b"), "band", "band_sig")
    dup_batch = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("__a") < F.col("__b"))
        .select(F.col("__b").alias(id_col))
        .distinct()
    )
    survivors = (
        new_docs.select(id_col)
        .join(dup_hist, id_col, "left_anti")
        .join(dup_batch, id_col, "left_anti")
    )
    new_index = sigs.join(survivors, id_col, "left_semi")
    return survivors, new_index


def incremental_exact_dedup(
    new_docs: DataFrame,
    hash_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Exact-content incremental dedup — the cheap first gate in front of
    ``incremental_minhash_dedup``: ``hash_index`` is the corpus's
    persisted distinct md5(text) set (32 bytes per unique document). A
    new doc is dropped when its content hash is already indexed or a
    LOWER batch id has the same hash. Returns ``(survivor_ids,
    new_index_hashes)``; appending the second keeps the loop
    incremental. One shuffle on the hash (uniform by construction)."""
    hashed = new_docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_hash")
    )
    fresh = hashed.join(
        hash_index.select("text_hash").distinct(), "text_hash", "left_anti"
    )
    keep = fresh.groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    survivors = keep.select(id_col)
    new_hashes = keep.select("text_hash")
    return survivors, new_hashes


def exact_substring_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 8,
) -> DataFrame:
    """Exact-substring duplicate coverage (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better") at word grain: a position
    is *duplicated* when it lies inside any ``gram_len``-word window whose
    exact content occurs >= 2 times anywhere in the corpus (other docs OR
    elsewhere in the same doc — the paper's suffix-array criterion).

    Returns one row per document: ``n_tokens``, ``dup_tokens`` (count of
    positions covered by at least one duplicated gram), and ``dup_ratio``.
    Pipelines drop or trim docs above a ratio threshold.

    Distributed shape (the suffix array is a single-machine construct; the
    equivalent corpus-scale recipe is gram hashing):
      1. one projection builds md5 hashes of every ``gram_len``-word
         window (array HOFs, inside the scan stage);
      2. gram-grain groupBy counts occurrences — map-side combinable, the
         one corpus-sized shuffle;
      3. left-semi join (doc, pos) hits against the >=2 grams;
      4. per-doc interval union via a lag window: sorted start positions,
         each contributes ``least(gram_len, pos - prev_pos)`` — O(hits)
         with no per-position explosion (never multiplies by gram_len).
    At 100 TB the shuffle carries one row per corpus word (hash + pos),
    same grain as winnow_fingerprints' scan-side selection.

    Docs shorter than ``gram_len`` words have no windows -> dup_tokens 0
    (whole-doc duplicates are exact_dedup's job).
    """
    from pyspark.sql import Window

    L = gram_len
    toks = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("t"))
    # persisted: the duplicate-gram counts AND the position hits both read
    # this gram stream — without the persist the corpus text is hashed
    # three times (grams, dup filter probe, hit probe)
    grams = toks.select(
        id_col,
        F.posexplode(
            F.expr(
                f"CASE WHEN size(t) >= {L} THEN "
                f"transform(sequence(0, size(t) - {L}), "
                f"i -> md5(concat_ws(' ', slice(t, i + 1, {L})))) "
                f"ELSE array() END"
            )
        ).alias("pos", "g"),
    ).transform(materialize)
    dup_grams = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= 2)
        .select("g")
    )
    hits = grams.join(dup_grams, "g", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    contrib = F.when(
        F.lag("pos").over(w).isNull(), F.lit(L)
    ).otherwise(F.least(F.lit(L), F.col("pos") - F.lag("pos").over(w)))
    cov = (
        hits.select(F.col(id_col), contrib.alias("contrib"))
        .groupBy(id_col)
        .agg(F.sum("contrib").cast("long").alias("dup_tokens"))
    )
    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    out = base.join(cov, id_col, "left")
    dup = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    return out.select(
        id_col,
        "n_tokens",
        dup.alias("dup_tokens"),
        (dup / F.col("n_tokens")).alias("dup_ratio"),
    )


def exact_dedup_keep_best(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup with QUALITY-ranked survivor selection: within each
    content-hash group keep the document with the highest lexical
    diversity (scaled type-token ratio, exact integer), ties broken by
    lowest id — the production variant of ``exact_dedup``'s keep-first
    rule when duplicates differ in metadata but pipelines must keep the
    best-scored copy deterministically.

    One hash-partitioned window pass computes BOTH the rank and the
    group size (count over the same partition) — one shuffle, one corpus
    scan, same cost as exact_dedup."""
    from pyspark.sql import Window

    pri = F.expr(
        f"(CAST(size(array_distinct(split(`{text_col}`, ' '))) AS BIGINT)"
        f" * 1000000) div size(split(`{text_col}`, ' '))"
    )
    w = Window.partitionBy("text_hash").orderBy(
        F.col("priority").desc(), F.col(id_col).asc()
    )
    wg = Window.partitionBy("text_hash")
    ranked = (
        docs.select(
            F.col(id_col),
            F.md5(F.col(text_col)).alias("text_hash"),
            pri.cast("long").alias("priority"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("n_dups", F.count(F.lit(1)).over(wg).cast("long"))
    )
    return ranked.where(F.col("__rn") == 1).select(
        "text_hash",
        F.col(id_col).alias("kept_id"),
        "priority",
        "n_dups",
    )


def containment_pairs(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    max_shingle_freq: int = 10,
) -> DataFrame:
    """Asymmetric CONTAINMENT dedup: find pairs where the smaller
    document's shingle set is mostly inside the larger's — the
    subset-duplication case (quote pages, expanded reposts, boilerplate
    wrappers) that symmetric Jaccard misses (a 100-word doc fully
    contained in a 10000-word doc has Jaccard ≈ 0.01 but containment
    1.0).

    Candidate generation CANNOT reuse Jaccard-LSH banding — a contained
    pair has near-zero Jaccard, exactly the region banding is tuned to
    drop. Instead: RARE-SHINGLE INVERTED-INDEX BLOCKING — docs pair iff
    they share a shingle appearing in at most ``max_shingle_freq`` docs
    (a contained doc shares ≥num/den of the small set, so any rare
    shingle in it surfaces the pair; a doc made ENTIRELY of hot
    shingles is the documented miss, and the cap is the scale lever
    that keeps the block join skew-free — hot shingles never join).
    Only candidates re-join the distinct (doc, shingle) stream for the
    exact intersection. The keep test is the integer cross-compare
    inter·den ≥ num·min(|A|, |B|); the reported ratio takes one
    half-up floor. Returns (doc_a, doc_b, inter, n_a, n_b,
    containment_small)."""
    sh = _shingles(docs, text_col, id_col, shingle_k).distinct().transform(materialize)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("__f"))
        .filter(F.col("__f") <= max_shingle_freq)
        .select("shingle")
    )
    blocked = sh.join(rare, "shingle")
    ba = blocked.select(F.col(id_col).alias("doc_a"), "shingle")
    bb = blocked.select(
        F.col(id_col).alias("doc_b"), F.col("shingle").alias("__shc")
    )
    # Count shared RARE shingles per pair (same shuffle grain the former
    # DISTINCT paid) — it feeds a provably safe candidate prune below:
    # inter ≤ shared_rare + min(hot_a, hot_b), because every shared
    # shingle is either rare (counted in __cr) or hot (bounded by either
    # side's hot-shingle count). Pairs whose UPPER BOUND fails the keep
    # test cannot appear in the output, so dropping them changes nothing;
    # the exact intersection then runs over the survivors only (measured
    # at sf0.1: 435k raw candidates → a few hundred).
    cand_counts = (
        ba.join(
            bb,
            (F.col("shingle") == F.col("__shc"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("__cr"))
    )
    rare_sizes = blocked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__nr")
    )
    # Exact intersection WITHOUT re-joining the shingle stream at shingle
    # grain: the former cand ⋈ (doc,shingle) ⋈ (doc,shingle) + groupBy
    # materialized |pairs|·|small-doc shingles| rows (22M at sf0.1)
    # through an exchange. Each doc's DISTINCT shingle set instead
    # aggregates once to an array (doc-grain, carries its size), the two
    # doc-keyed joins attach both sets to each candidate pair, and
    # size(array_intersect(A, B)) is the same shared-distinct-shingle
    # count as the join+count — computed per pair row in the scan stage.
    doc_sets = (
        sh.groupBy(id_col)
        .agg(
            F.collect_list("shingle").alias("__set"),
            F.count(F.lit(1)).cast("long").alias("n_sh"),
        )
        .join(rare_sizes, id_col, "left")
        .withColumn(
            "__hot", F.col("n_sh") - F.coalesce(F.col("__nr"), F.lit(0))
        )
    )
    da = doc_sets.select(
        F.col(id_col).alias("doc_a"),
        F.col("__set").alias("__sa"),
        F.col("n_sh").alias("n_a"),
        F.col("__hot").alias("__ha"),
    )
    db = doc_sets.select(
        F.col(id_col).alias("doc_b"),
        F.col("__set").alias("__sb"),
        F.col("n_sh").alias("n_b"),
        F.col("__hot").alias("__hb"),
    )
    out = (
        cand_counts.join(da.drop("__sa"), "doc_a")
        .join(db.drop("__sb"), "doc_b")
        # safe prune: upper-bound the intersection before touching arrays
        .filter(
            (F.col("__cr") + F.least("__ha", "__hb")) * threshold_den
            >= threshold_num * F.least("n_a", "n_b")
        )
        .join(da.select("doc_a", "__sa"), "doc_a")
        .join(db.select("doc_b", "__sb"), "doc_b")
        .withColumn(
            "inter", F.size(F.array_intersect("__sa", "__sb")).cast("long")
        )
        .filter(
            F.col("inter") * threshold_den
            >= threshold_num * F.least("n_a", "n_b")
        )
    )
    return out.select(
        "doc_a",
        "doc_b",
        "inter",
        "n_a",
        "n_b",
        (
            F.floor(
                F.col("inter").cast("double")
                * 1e6
                / F.least("n_a", "n_b").cast("double")
                + F.lit(0.5)
            ).cast("long")
            / F.lit(1e6)
        ).alias("containment_small"),
    )
