"""LLM-data-pipeline queries: dedup, similarity search, text analysis over
the ``documents`` and ``embeddings`` tables, with exact DuckDB oracles
mirroring each operator's deterministic formulas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import load_tables
from ytsaurus_spark.operators import dedup, materialize, similarity, text, timeseries
from ytsaurus_spark.queries import local_result, register


# --- exact dedup -----------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash,
           min(doc_id) AS canonical_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return dedup.exact_dedup(cat.read("documents"))


# --- minhash + LSH banding -------------------------------------------------

@register(
    "dedup_minhash_lsh",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, len(t) - 1)]
                  ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks
    ), shx AS (
      SELECT doc_id, unnest(shs) AS s FROM sh
    ), mh AS (
      SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || s)) AS mh
      FROM shx CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
      GROUP BY doc_id, seed
    ), sigs AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(mh, '' ORDER BY seed)) AS band_sig
      FROM mh GROUP BY doc_id, seed // 2
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sigs a JOIN sigs b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return dedup.minhash_lsh_pairs(
        cat.read("documents"), num_hashes=8, band_rows=2, shingle_k=3
    )


# --- simhash ---------------------------------------------------------------

def _simhash_oracle(bits: int = 16) -> str:
    sums = ",\n             ".join(
        f"sum(CASE WHEN ascii(substr(md5(tok), {b + 1}, 1)) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    fp = " || ".join(
        f"CASE WHEN b{b} >= 0 THEN '1' ELSE '0' END" for b in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), filtered AS (
      SELECT doc_id, tok FROM toks WHERE tok <> ''
    ), sums AS (
      SELECT doc_id,
             {sums}
      FROM filtered GROUP BY doc_id
    )
    SELECT doc_id, {fp} AS simhash FROM sums
    """


@register("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return dedup.simhash(cat.read("documents"), bits=16)


# --- n-gram (word 5-shingle) Jaccard --------------------------------------

@register(
    "dedup_ngram_jaccard",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 5
                  THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                        t[i+3] || ' ' || t[i+4]
                        for i in range(1, len(t) - 3)]
                  ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks
    ), shx AS (
      SELECT DISTINCT doc_id, unnest(shs) AS shingle FROM sh
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shx GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(common * 1.0 / (sa.n_sh + sb.n_sh - common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        cat.read("documents"), shingle_k=5, threshold=0.5
    )


# --- brute-force cosine top-k ----------------------------------------------

@register(
    "sim_cosine_topk",
    """
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings
    ), s AS (
      SELECT q_id, c_id,
             list_dot_product(qv, cv) /
               sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cos
      FROM q, c WHERE q_id <> c_id
    ), r AS (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      FROM s
    )
    SELECT q_id, c_id, round(cos, 4) AS cosine, CAST(rnk AS INT) AS rank
    FROM r WHERE rnk <= 5
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5)


# --- LSH bucketing (the ANN scale path's partitioning artifact) ------------

@register(
    "sim_lsh_buckets",
    """
    WITH b AS (
      SELECT vec_id,
             {bits} AS bucket
      FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings)
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           min(vec_id) AS min_vec, max(vec_id) AS max_vec
    FROM b GROUP BY bucket
    """.format(
        bits=" || ".join(
            "CASE WHEN list_sum([cv[d+1] * (((({h}+1)*(d+3)) % 7) - 3) "
            "for d in range(0, 64)]) >= 0 THEN '1' ELSE '0' END".format(h=h)
            for h in range(8)
        )
    ),
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    buckets = similarity.lsh_bucket(cat.read("embeddings"), num_planes=8, dim=64)
    return buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
    )


# --- ANN: top-k within LSH bucket ------------------------------------------

@register(
    "sim_ann_lsh_topk",
    """
    WITH withb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {bits} AS bucket
      FROM (SELECT vec_id, embedding, embedding::DOUBLE[] AS cv FROM embeddings)
    ), q AS (
      SELECT vec_id AS q_id, v AS qv, bucket FROM withb WHERE vec_id < 20
    ), c AS (
      SELECT vec_id AS c_id, v AS cv2, bucket FROM withb
    ), s AS (
      SELECT q_id, c_id,
             list_dot_product(qv, cv2) /
               sqrt(list_dot_product(qv, qv) * list_dot_product(cv2, cv2)) AS cos
      FROM q JOIN c USING (bucket) WHERE q_id <> c_id
    ), r AS (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      FROM s
    )
    SELECT q_id, c_id, round(cos, 4) AS cosine, CAST(rnk AS INT) AS rank
    FROM r WHERE rnk <= 3
    """.format(
        bits=" || ".join(
            "CASE WHEN list_sum([cv[d+1] * (((({h}+1)*(d+3)) % 7) - 3) "
            "for d in range(0, 64)]) >= 0 THEN '1' ELSE '0' END".format(h=h)
            for h in range(8)
        )
    ),
)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.ann_topk_lsh(emb, queries, k=3, num_planes=8, dim=64)


# --- text analysis ---------------------------------------------------------

@register(
    "text_token_stats",
    """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           round((length(text) - (len(toks) - 1)) * 1.0 / len(toks), 4)
             AS avg_token_len,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
    FROM t
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return text.token_stats(cat.read("documents"))


@register(
    "text_quality",
    """
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    ), f AS (
      SELECT doc_id,
             len(list_filter(toks,
                 w -> list_contains(['the','a','of','and','to','in'], w)))
               * 1.0 / len(toks) AS stop_ratio,
             len(list_distinct(toks)) * 1.0 / len(toks) AS ttr,
             (length(text) - (len(toks) - 1)) * 1.0 / len(toks) AS mean_len
      FROM t
    )
    SELECT doc_id,
           round(stop_ratio, 4) AS stop_ratio,
           round(ttr, 4) AS type_token_ratio,
           round(mean_len, 4) AS mean_word_len,
           round((least(stop_ratio * 5, 1.0) + least(ttr * 2, 1.0) +
                  CASE WHEN mean_len >= 2 AND mean_len <= 10
                       THEN 1.0 ELSE 0.0 END) / 3, 4) AS quality
    FROM f
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return text.quality_score(cat.read("documents"))


@register(
    "text_lang_id",
    """
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN len(list_filter(toks,
                    w -> list_contains(['the','a','of','and','to','in'], w)))
                    * 1.0 / len(toks) >= 0.05
                THEN 'en' ELSE 'other' END AS predicted_lang
    FROM t
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return text.language_id(cat.read("documents"))


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    return text.fingerprint(cat.read("documents"))


# --- IVF ANN (exemplar centroids, nprobe=1) --------------------------------

@register(
    "sim_ivf_topk",
    """
    WITH cents AS (
      SELECT CAST(vec_id / 30 AS INT) AS cell, embedding::DOUBLE[] AS centv
      FROM embeddings WHERE vec_id % 30 = 0 AND vec_id < 30 * 16
    ), scored AS (
      SELECT e.vec_id, c.cell,
             list_sum([ (e.embedding[i]::DOUBLE - c.centv[i]) *
                        (e.embedding[i]::DOUBLE - c.centv[i])
                        for i in range(1, 65) ]) AS d2
      FROM embeddings e CROSS JOIN cents c
    ), assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM scored
      ) WHERE rn = 1
    ), withc AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v, a.cell
      FROM embeddings e JOIN assign a USING (vec_id)
    ), s AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             list_dot_product(q.v, c.v) /
               sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cos
      FROM withc q JOIN withc c USING (cell)
      WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
    ), r AS (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      FROM s
    )
    SELECT q_id, c_id, round(cos, 4) AS cosine, CAST(rnk AS INT) AS rank
    FROM r WHERE rnk <= 3
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-file ANN: deterministic exemplar centroids (stride 30,
    16 cells), nearest-cell assignment, top-3 within the query's cell."""
    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    from ytsaurus_spark.operators.similarity import ivf_topk

    # stride fixed (30) so the oracle mirrors the centroid set exactly
    return ivf_topk(emb, queries, k=3, num_cells=16, centroid_stride=30)


@register(
    "sim_ivf_multiprobe",
    """
    WITH cents AS (
      SELECT CAST(vec_id / 30 AS INT) AS cell, embedding::DOUBLE[] AS centv
      FROM embeddings WHERE vec_id % 30 = 0 AND vec_id < 30 * 16
    ), scored AS (
      SELECT e.vec_id, c.cell,
             list_sum([ (e.embedding[i]::DOUBLE - c.centv[i]) *
                        (e.embedding[i]::DOUBLE - c.centv[i])
                        for i in range(1, 65) ]) AS d2
      FROM embeddings e CROSS JOIN cents c
    ), assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM scored
      ) WHERE rn = 1
    ), qcells AS (
      SELECT vec_id AS q_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM scored WHERE vec_id < 20
      ) WHERE rn <= 2
    ), withc AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v, a.cell
      FROM embeddings e JOIN assign a USING (vec_id)
    ), s AS (
      SELECT qc.q_id, c.vec_id AS c_id,
             list_dot_product(q.embedding::DOUBLE[], c.v) /
               sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
                    * list_dot_product(c.v, c.v)) AS cos
      FROM qcells qc
      JOIN embeddings q ON q.vec_id = qc.q_id
      JOIN withc c ON c.cell = qc.cell
      WHERE qc.q_id <> c.vec_id
    ), r AS (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      FROM s
    )
    SELECT q_id, c_id, round(cos, 4) AS cosine, CAST(rnk AS INT) AS rank
    FROM r WHERE rnk <= 3
    """,
)
def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2: each query searches its TWO nearest cells — the
    standard recall/cost dial (2x candidates, same bucketed-join plan).
    Recall vs brute force is reported by sim_ann_recall's methodology in
    SCALE.md."""
    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    from ytsaurus_spark.operators.similarity import ivf_topk

    return ivf_topk(
        emb, queries, k=3, num_cells=16, centroid_stride=30, nprobe=2
    )


# --- end-to-end corpus cleaning pipeline -----------------------------------

@register(
    "pipeline_clean_corpus",
    """
    WITH exact_canon AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id IN (SELECT doc_id FROM exact_canon)
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, len(t) - 1)]
                  ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks
    ), shx AS (
      SELECT doc_id, unnest(shs) AS s FROM sh
    ), mh AS (
      SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || s)) AS mh
      FROM shx CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
      GROUP BY doc_id, seed
    ), sigs AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(mh, '' ORDER BY seed)) AS band_sig
      FROM mh GROUP BY doc_id, seed // 2
    ), near_dups AS (
      SELECT DISTINCT b.doc_id
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ), survivors AS (
      SELECT doc_id FROM exact_canon
      WHERE doc_id NOT IN (SELECT doc_id FROM near_dups)
    ), quality AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS t, d.text
      FROM documents d JOIN survivors USING (doc_id)
    )
    SELECT doc_id FROM quality
    WHERE len(list_distinct(t)) * 1.0 / len(t) >= 0.3
      AND length(text) >= 50
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data cleaning pipeline in one plan: exact dedup
    (keep min doc_id) → minhash-LSH near-dup removal (keep the lower id of
    each colliding pair) → quality filter (type-token ratio + length).

    Exact dedup is a single window pass (row_number per content hash)
    rather than a groupBy + semi-join back — one corpus read, not two —
    and the canon set is persisted because BOTH remaining stages (LSH
    pair mining, survivor filter) consume all of it (round-6 audit: 3
    corpus scans before, 1 after). The pipeline stays one declarative
    plan; the persist is the only materialization point."""
    from pyspark.sql import Window as W

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    canon_docs = (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .transform(materialize)
    )
    pairs = dedup.minhash_lsh_pairs(canon_docs, num_hashes=8, band_rows=2, shingle_k=3)
    near_dup_ids = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    # near-dup ids are pair-bounded (tiny vs the corpus): broadcast the
    # anti-join so the canon side never shuffles (was a SortMergeJoin —
    # an Exchange+Sort of every surviving document)
    survivors = canon_docs.join(F.broadcast(near_dup_ids), "doc_id", "left_anti")
    t = F.split(F.col("text"), " ")
    return (
        survivors.filter(
            (F.size(F.array_distinct(t)) / F.size(t) >= 0.3)
            & (F.length("text") >= 50)
        )
        .select("doc_id")
    )


# --- near-dup clusters: bounded min-label propagation over LSH pairs -------

_CLUSTER_PAIRS_CTE = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, len(t) - 1)]
                  ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks
    ), shx AS (
      SELECT doc_id, unnest(shs) AS s FROM sh
    ), mh AS (
      SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || s)) AS mh
      FROM shx CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
      GROUP BY doc_id, seed
    ), sigs AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(mh, '' ORDER BY seed)) AS band_sig
      FROM mh GROUP BY doc_id, seed // 2
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ), sym AS (
      SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
    ), l0 AS (
      SELECT DISTINCT u AS node, u AS label FROM sym
    )"""

_PROPAGATE = """
    , l{n} AS (
      SELECT node, min(label) AS label FROM (
        SELECT node, label FROM l{p}
        UNION ALL
        SELECT s.u AS node, l.label FROM sym s JOIN l{p} l ON s.v = l.node
      ) GROUP BY node
    )"""


@register(
    "dedup_clusters",
    _CLUSTER_PAIRS_CTE
    + "".join(_PROPAGATE.format(n=i + 1, p=i) for i in range(3))
    + """
    SELECT node AS doc_id, label AS cluster_id FROM l3
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected near-dup clusters: minhash-LSH candidate pairs → 3 rounds
    of min-label propagation (identical algorithm on both engines, so the
    oracle is exact even before full convergence)."""
    cat = load_tables(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        cat.read("documents"), num_hashes=8, band_rows=2, shingle_k=3
    )
    return dedup.cluster_pairs(pairs, iterations=3)


# --- per-label embedding centroids + pairwise centroid cosine --------------

@register(
    "sim_label_centroids",
    """
    WITH flat AS (
      SELECT label, i, avg(e) AS m
      FROM (
        SELECT label, unnest(embedding::DOUBLE[]) AS e,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
      )
      GROUP BY label, i
    ), cents AS (
      SELECT label, list(m ORDER BY i) AS c FROM flat GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           round(list_dot_product(a.c, b.c) /
                 sqrt(list_dot_product(a.c, a.c) * list_dot_product(b.c, b.c)),
                 4) AS cosine
    FROM cents a JOIN cents b ON a.label < b.label
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label (element-wise avg via posexplode — one
    shuffle keyed on (label, dim)) and pairwise centroid cosine."""
    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    flat = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "e")
    )
    cents = (
        flat.groupBy("label", "i")
        .agg(F.avg("e").alias("m"))
        .groupBy("label")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(i, m))), x -> x.m)").alias(
                "c"
            )
        )
    )
    from ytsaurus_spark.operators.similarity import _dot

    a = cents.select(F.col("label").alias("label_a"), F.col("c").alias("ca"))
    b = cents.select(F.col("label").alias("label_b"), F.col("c").alias("cb"))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(
                F.expr(
                    f"{_dot('ca', 'cb')} / sqrt({_dot('ca', 'ca')} * {_dot('cb', 'cb')})"
                ),
                4,
            ).alias("cosine"),
        )
    )


# --- character-bigram profile per language (n-gram language modeling) ------

@register(
    "text_char_bigrams",
    """
    WITH grams AS (
      SELECT lang,
             unnest([substr(text, i, 2) for i in range(1, length(text))]) AS bg
      FROM documents
    ), counts AS (
      SELECT lang, bg, CAST(count(*) AS BIGINT) AS cnt
      FROM grams WHERE bg NOT LIKE '% %' AND length(bg) = 2
      GROUP BY lang, bg
    ), ranked AS (
      SELECT lang, bg, cnt,
             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bg) AS rnk
      FROM counts
    )
    SELECT lang, bg, cnt, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def text_char_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top character bigrams per language label — the feature table a real
    n-gram language-ID model trains on (the plumbing behind
    operators/text.language_id's heuristic)."""
    from pyspark.sql import Window as W

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    grams = docs.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1), "
                "i -> substr(text, i, 2))"
            )
        ).alias("bg"),
    )
    counts = (
        grams.filter(~F.col("bg").like("% %") & (F.length("bg") == 2))
        .groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("lang").orderBy(F.col("cnt").desc(), "bg")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("lang", "bg", "cnt", F.col("rnk").cast("int").alias("rnk"))
    )


# --- k-means (3 Lloyd iterations) as chained declarative plans -------------

def _kmeans_oracle(iters: int = 3, k: int = 8, stride: int = 30) -> str:
    head = f"""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cents0 AS (
      SELECT CAST(vec_id / {stride} AS INT) AS cell, v AS cv
      FROM vecs WHERE vec_id % {stride} = 0 AND vec_id < {stride * k}
    )"""
    step = """
    , scored{n} AS (
      SELECT vec_id, cell,
             round(list_sum([ (v[i] - cv[i]) * (v[i] - cv[i])
                              for i in range(1, 65) ]), 6) AS d2
      FROM vecs CROSS JOIN cents{p}
    ), assign{n} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM scored{n}
      ) WHERE rn = 1
    ), flat{n} AS (
      SELECT a.cell, generate_subscripts(v, 1) AS i, unnest(v) AS e
      FROM vecs JOIN assign{n} a USING (vec_id)
    ), cents{n} AS (
      SELECT cell, list(m ORDER BY i) AS cv FROM (
        SELECT cell, i, avg(e) AS m FROM flat{n} GROUP BY cell, i
      ) GROUP BY cell
    )"""
    body = "".join(step.format(n=i + 1, p=i) for i in range(iters))
    return (
        head
        + body
        + f"""
    SELECT cell, CAST(count(*) AS BIGINT) AS n,
           min(vec_id) AS min_vec, max(vec_id) AS max_vec
    FROM assign{iters} GROUP BY cell
    """
    )


def _semantic_dedup_oracle(iters: int = 2, k: int = 8, stride: int = 30,
                           threshold: float = 0.3) -> str:
    """SemDeDup oracle: replay the Lloyd scaffold of _kmeans_oracle, then
    the within-cluster pair scan and the greedy min-id drop rule."""
    head = f"""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cents0 AS (
      SELECT CAST(vec_id / {stride} AS INT) AS cell, v AS cv
      FROM vecs WHERE vec_id % {stride} = 0 AND vec_id < {stride * k}
    )"""
    step = """
    , scored{n} AS (
      SELECT vec_id, cell,
             round(list_sum([ (v[i] - cv[i]) * (v[i] - cv[i])
                              for i in range(1, 65) ]), 6) AS d2
      FROM vecs CROSS JOIN cents{p}
    ), assign{n} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM scored{n}
      ) WHERE rn = 1
    ), flat{n} AS (
      SELECT a.cell, generate_subscripts(v, 1) AS i, unnest(v) AS e
      FROM vecs JOIN assign{n} a USING (vec_id)
    ), cents{n} AS (
      SELECT cell, list(m ORDER BY i) AS cv FROM (
        SELECT cell, i, avg(e) AS m FROM flat{n} GROUP BY cell, i
      ) GROUP BY cell
    )"""
    body = "".join(step.format(n=i + 1, p=i) for i in range(iters))
    return (
        head
        + body
        + f"""
    , withc AS (
      SELECT vec_id, v, cell FROM vecs JOIN assign{iters} USING (vec_id)
    ), drops AS (
      SELECT DISTINCT b.vec_id
      FROM withc a JOIN withc b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v) /
              sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)),
            4) >= {threshold}
    )
    SELECT w.vec_id, w.cell, d.vec_id IS NULL AS kept
    FROM withc w LEFT JOIN drops d ON w.vec_id = d.vec_id
    """
    )


@register("dedup_semantic", _semantic_dedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup, the published semantic-dedup recipe):
    k-means cells bucket the pair scan, within-cell cosine >= 0.3 pairs
    drop the higher id. The whole pipeline — Lloyd fit, cell equi-join,
    greedy drop — is one declarative plan chain replayed exactly by the
    DuckDB oracle (rounded distances and cosines keep argmin/threshold
    decisions engine-stable)."""
    from ytsaurus_spark.operators.dedup import semantic_dedup

    cat = load_tables(spark, sf_dir)
    return semantic_dedup(
        cat.read("embeddings"), k=8, iterations=2, threshold=0.3,
        centroid_stride=30,
    )


@register("sim_kmeans", _kmeans_oracle())
def sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 Lloyd iterations of k-means (k=8, exemplar init) — the iterative-
    algorithm pattern as chained joins/aggregations; assignments are made
    deterministic by rounding distances before argmin, so the DuckDB oracle
    replays the identical algorithm exactly."""
    from ytsaurus_spark.operators.similarity import kmeans_iterations

    cat = load_tables(spark, sf_dir)
    assign = kmeans_iterations(
        cat.read("embeddings"), k=8, iterations=3, centroid_stride=30
    )
    return assign.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
    )


# --- dedup-rate profile per source (pipeline observability) ----------------

@register(
    "text_dedup_rate_by_source",
    """
    WITH hashes AS (
      SELECT source, md5(text) AS h FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
           round(1.0 - count(DISTINCT h) * 1.0 / count(*), 4) AS dup_rate
    FROM hashes GROUP BY source
    """,
)
def text_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = load_tables(spark, sf_dir)
    h = cat.read("documents").select("source", F.md5("text").alias("h"))
    return h.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
        F.round(
            1.0 - F.countDistinct("h") / F.count(F.lit(1)), 4
        ).alias("dup_rate"),
    )


# --- ANN recall evaluation: LSH top-3 vs brute-force top-3 -----------------

@register(
    "sim_ann_recall",
    """
    WITH withb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {bits} AS bucket
      FROM (SELECT vec_id, embedding, embedding::DOUBLE[] AS cv FROM embeddings)
    ), q AS (
      SELECT vec_id AS q_id, v AS qv, bucket FROM withb WHERE vec_id < 50
    ), exact AS (
      SELECT q_id, c.vec_id AS c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY
               list_dot_product(qv, c.v) /
               sqrt(list_dot_product(qv, qv) * list_dot_product(c.v, c.v))
               DESC, c.vec_id) AS rnk
      FROM q CROSS JOIN withb c WHERE q_id <> c.vec_id
    ), approx AS (
      SELECT q_id, c.vec_id AS c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY
               list_dot_product(qv, c.v) /
               sqrt(list_dot_product(qv, qv) * list_dot_product(c.v, c.v))
               DESC, c.vec_id) AS rnk
      FROM q JOIN withb c USING (bucket) WHERE q_id <> c.vec_id
    ), hits AS (
      SELECT e.q_id, CAST(count(a.c_id) AS DOUBLE) / 3 AS recall
      FROM (SELECT * FROM exact WHERE rnk <= 3) e
      LEFT JOIN (SELECT * FROM approx WHERE rnk <= 3) a
        ON e.q_id = a.q_id AND e.c_id = a.c_id
      GROUP BY e.q_id
    )
    SELECT round(avg(recall), 4) AS avg_recall_at_3,
           CAST(count(*) AS BIGINT) AS n_queries
    FROM hits
    """.format(
        bits=" || ".join(
            "CASE WHEN list_sum([cv[d+1] * (((({h}+1)*(d+3)) % 7) - 3) "
            "for d in range(0, 64)]) >= 0 THEN '1' ELSE '0' END".format(h=h)
            for h in range(8)
        )
    ),
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the LSH ANN path against brute force over 50 queries —
    the 'measure, don't guess' artifact for the approximate index (the
    number that justifies raising planes/probes at scale)."""
    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    exact = similarity.cosine_topk(emb, queries, k=3).select(
        "q_id", F.col("c_id").alias("e_cid")
    )
    approx = similarity.ann_topk_lsh(emb, queries, k=3).select(
        "q_id", F.col("c_id").alias("a_cid")
    )
    hits = (
        exact.join(
            approx,
            (exact.q_id == approx.q_id) & (F.col("e_cid") == F.col("a_cid")),
            "left",
        )
        .groupBy(exact.q_id)
        .agg((F.count("a_cid") / 3.0).alias("recall"))
    )
    return hits.agg(
        F.round(F.avg("recall"), 4).alias("avg_recall_at_3"),
        F.count(F.lit(1)).alias("n_queries"),
    )


# --- embedding-cosine near-dup (semantic dedup) ----------------------------

@register(
    "dedup_embedding_cosine",
    """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
    ), v AS (
      SELECT vec_id, ev FROM base
      UNION ALL
      SELECT vec_id + 100000, list_concat([ev[1] * 1.01], ev[2:])
      FROM base WHERE vec_id < 60
    ), withb AS (
      SELECT vec_id, ev, {bits} AS bucket
      FROM (SELECT vec_id, ev, ev AS cv FROM v)
    ), s AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             list_dot_product(a.ev, b.ev) /
               sqrt(list_dot_product(a.ev, a.ev) *
                    list_dot_product(b.ev, b.ev)) AS cos
      FROM withb a JOIN withb b USING (bucket)
      WHERE a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, round(cos, 4) AS cosine
    FROM s WHERE cos >= 0.99
    ORDER BY a_id, b_id
    """.format(
        bits=" || ".join(
            "CASE WHEN list_sum([cv[d+1] * (((({h}+1)*(d+3)) % 7) - 3) "
            "for d in range(0, 64)]) >= 0 THEN '1' ELSE '0' END".format(h=h)
            for h in range(8)
        )
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-cosine) near-dup detection, LSH-bucketed.

    The fixture embeddings have no natural near-dups (max pairwise cosine
    ≈ 0.51), so the query plants one clone per vec_id < 60 with its first
    coordinate scaled by 1.01 (cosine vs the original ≈ 0.9999) — both
    engines derive the same planted set, making the LSH + exact-cosine
    pipeline fully hash-checkable. Candidates come from the deterministic
    hyperplane buckets, never an all-pairs join."""
    cat = load_tables(spark, sf_dir)
    base = cat.read("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    clones = base.filter(F.col("vec_id") < 60).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.col("embedding").getItem(0) * 1.01),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    v = base.unionByName(clones)
    return dedup.embedding_near_dup_pairs(
        v, threshold=0.99, num_planes=8, dim=64
    ).orderBy("a_id", "b_id")


@register(
    "sim_pq_topk",
    """
    WITH cb AS (
      SELECT CAST(vec_id / 60 AS INT) AS code, embedding::DOUBLE[] AS cbv
      FROM embeddings WHERE vec_id % 60 = 0 AND vec_id < 60 * 8
    ), cbs AS (
      SELECT sub, code, cbv[sub*16+1 : sub*16+16] AS cbslice
      FROM cb CROSS JOIN (SELECT unnest(range(4)) AS sub)
    ), vecsub AS (
      SELECT vec_id, sub,
             (embedding::DOUBLE[])[sub*16+1 : sub*16+16] AS vslice
      FROM embeddings CROSS JOIN (SELECT unnest(range(4)) AS sub)
    ), scored AS (
      SELECT v.vec_id, v.sub, c.code,
             list_sum([ (v.vslice[i] - c.cbslice[i]) * (v.vslice[i] - c.cbslice[i])
                        for i in range(1, 17) ]) AS d2
      FROM vecsub v JOIN cbs c USING (sub)
    ), codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
        FROM scored
      ) WHERE rn = 1
    ), adc AS (
      SELECT s.vec_id AS q_id, x.vec_id AS c_id, round(sum(s.d2), 4) AS adc
      FROM codes x JOIN scored s ON s.sub = x.sub AND s.code = x.code
      WHERE s.vec_id < 10 AND s.vec_id <> x.vec_id
      GROUP BY 1, 2
    ), r AS (
      SELECT q_id, c_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rnk
      FROM adc
    )
    SELECT q_id, c_id, adc, CAST(rnk AS INT) AS rank
    FROM r WHERE rnk <= 3
    """,
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC scan): vectors compress to m=4 codes
    from 8-entry per-subspace codebooks (deterministic exemplars, stride
    60 — mirrored exactly by the oracle); per-query distance tables
    broadcast and candidates are scanned as codes, never as full vectors.
    The third ANN scale path next to LSH buckets and IVF cells."""
    from ytsaurus_spark.operators.similarity import pq_topk

    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    return pq_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)


@register(
    "sim_ivfpq_topk",
    """
    WITH cents AS (
      SELECT CAST(vec_id / 30 AS INT) AS cell, embedding::DOUBLE[] AS centv
      FROM embeddings WHERE vec_id % 30 = 0 AND vec_id < 30 * 16
    ), cscored AS (
      SELECT e.vec_id, c.cell,
             list_sum([ (e.embedding[i]::DOUBLE - c.centv[i]) *
                        (e.embedding[i]::DOUBLE - c.centv[i])
                        for i in range(1, 65) ]) AS d2
      FROM embeddings e CROSS JOIN cents c
    ), assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM cscored
      ) WHERE rn = 1
    ), cb AS (
      SELECT CAST(vec_id / 60 AS INT) AS code, embedding::DOUBLE[] AS cbv
      FROM embeddings WHERE vec_id % 60 = 0 AND vec_id < 60 * 8
    ), cbs AS (
      SELECT sub, code, cbv[sub*16+1 : sub*16+16] AS cbslice
      FROM cb CROSS JOIN (SELECT unnest(range(4)) AS sub)
    ), vecsub AS (
      SELECT vec_id, sub,
             (embedding::DOUBLE[])[sub*16+1 : sub*16+16] AS vslice
      FROM embeddings CROSS JOIN (SELECT unnest(range(4)) AS sub)
    ), scored AS (
      SELECT v.vec_id, v.sub, c.code,
             list_sum([ (v.vslice[i] - c.cbslice[i]) * (v.vslice[i] - c.cbslice[i])
                        for i in range(1, 17) ]) AS d2
      FROM vecsub v JOIN cbs c USING (sub)
    ), codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
        FROM scored
      ) WHERE rn = 1
    ), adc AS (
      SELECT s.vec_id AS q_id, x.vec_id AS c_id, round(sum(s.d2), 4) AS adc
      FROM codes x
      JOIN assign ax ON ax.vec_id = x.vec_id
      JOIN assign aq ON aq.cell = ax.cell
      JOIN scored s ON s.sub = x.sub AND s.code = x.code AND s.vec_id = aq.vec_id
      WHERE s.vec_id < 10 AND s.vec_id <> x.vec_id
      GROUP BY 1, 2
    ), r AS (
      SELECT q_id, c_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rnk
      FROM adc
    )
    SELECT q_id, c_id, adc, CAST(rnk AS INT) AS rank
    FROM r WHERE rnk <= 3
    """,
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index: the PQ/ADC code scan restricted to the
    query's IVF cell (cell pruning × code compression — the standard
    billion-scale ANN layout). Oracle composes the exemplar-centroid
    assignment and the codebook arithmetic of both halves."""
    from ytsaurus_spark.operators.similarity import ivfpq_topk

    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    return ivfpq_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)


# --- IVF with k-means-refined centroids (trained index) --------------------

def _ivf_refined_oracle(iters: int = 1, k: int = 16, stride: int = 30) -> str:
    """IVF top-k after ``iters`` Lloyd refinement steps — the kmeans
    oracle's CTE chain feeding the ivf_topk search SQL. Distances round
    to 6 decimals before every argmin (exactly what the refined Spark
    path does), so assignments replay identically."""
    head = f"""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cents0 AS (
      SELECT CAST(vec_id / {stride} AS INT) AS cell, v AS cv
      FROM vecs WHERE vec_id % {stride} = 0 AND vec_id < {stride * k}
    )"""
    step = """
    , scored{n} AS (
      SELECT vec_id, cell,
             round(list_sum([ (v[i] - cv[i]) * (v[i] - cv[i])
                              for i in range(1, 65) ]), 6) AS d2
      FROM vecs CROSS JOIN cents{p}
    ), assign{n} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM scored{n}
      ) WHERE rn = 1
    ), flat{n} AS (
      SELECT a.cell, generate_subscripts(v, 1) AS i, unnest(v) AS e
      FROM vecs JOIN assign{n} a USING (vec_id)
    ), cents{n} AS (
      SELECT cell, list(m ORDER BY i) AS cv FROM (
        SELECT cell, i, avg(e) AS m FROM flat{n} GROUP BY cell, i
      ) GROUP BY cell
    )"""
    body = "".join(step.format(n=i + 1, p=i) for i in range(iters))
    return (
        head
        + body
        + f"""
    , scoredF AS (
      SELECT vec_id, cell,
             round(list_sum([ (v[i] - cv[i]) * (v[i] - cv[i])
                              for i in range(1, 65) ]), 6) AS d2
      FROM vecs CROSS JOIN cents{iters}
    ), assignF AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM scoredF
      ) WHERE rn = 1
    ), withc AS (
      SELECT e.vec_id, e.v, a.cell FROM vecs e JOIN assignF a USING (vec_id)
    ), s AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             list_dot_product(q.v, c.v) /
               sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v))
               AS cos
      FROM withc q JOIN withc c USING (cell)
      WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
    ), r AS (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id)
               AS rnk
      FROM s
    )
    SELECT q_id, c_id, round(cos, 4) AS cosine, CAST(rnk AS INT) AS rank
    FROM r WHERE rnk <= 3
    """
    )


@register("sim_ivf_refined_topk", _ivf_refined_oracle())
def sim_ivf_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED index: one Lloyd step refines the exemplar
    centroids over the corpus before assignment (ivf_assign
    refine_iterations=1) — the k-means index training the exemplar
    docstring promised, now wired in. Distances round before argmin so
    the DuckDB oracle replays the identical training + search. Recall
    uplift vs the exemplar index is measured in SCALE.md."""
    from ytsaurus_spark.operators.similarity import ivf_topk

    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(
        emb, queries, k=3, num_cells=16, centroid_stride=30,
        refine_iterations=1,
    )


@register(
    "text_word_entropy",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), c AS (
      SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2
    ), e AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             log2(CAST(sum(cnt) AS DOUBLE))
               - sum(cnt * log2(CAST(cnt AS DOUBLE))) / sum(cnt) AS h
      FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types, round(h, 6) AS entropy,
           CASE WHEN n_types > 1
                THEN round(h / log2(CAST(n_types AS DOUBLE)), 6) END
             AS norm_entropy
    FROM e
    """,
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram entropy / lexical-diversity quality signal over the
    documents table (see operators/text.py word_entropy for the
    distributed shape)."""
    cat = load_tables(spark, sf_dir)
    return text.word_entropy(cat.read("documents"))


@register(
    "sim_range_search",
    """
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings
    )
    SELECT q_id, c_id,
           round(list_dot_product(qv, cv) /
             sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)), 4)
             AS cosine
    FROM q, c
    WHERE q_id <> c_id
      AND list_dot_product(qv, cv) /
            sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) >= 0.3
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-radius neighbor search (all candidates with cosine >= 0.3 of
    each query vector) — the range complement of sim_cosine_topk."""
    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    return similarity.range_search(
        emb, emb.filter(F.col("vec_id") < 10), threshold=0.3
    )


@register(
    "curation_chunk_documents",
    """
    SELECT doc_id,
           CAST(off // 160 AS INT) AS chunk_id,
           CAST(off AS BIGINT) AS offset,
           substr(text, off + 1, 200) AS chunk_text
    FROM documents,
         unnest(range(0, greatest(length(text), 1), 160)) AS u(off)
    """,
)
def curation_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking (200 chars, 40 overlap) —
    the embed-pipeline pre-step; see operators/curation.chunk_documents
    for the scan-stage shape."""
    from ytsaurus_spark.operators.curation import chunk_documents

    cat = load_tables(spark, sf_dir)
    return chunk_documents(cat.read("documents"), chunk_chars=200, overlap=40)


@register(
    "text_vocabulary",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), per_doc AS (
      SELECT doc_id, token, count(*) AS tf_d FROM w GROUP BY 1, 2
    )
    SELECT token, CAST(sum(tf_d) AS BIGINT) AS tf,
           CAST(count(*) AS BIGINT) AS df
    FROM per_doc GROUP BY token
    ORDER BY tf DESC, token LIMIT 100
    """,
)
def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary with term and document frequencies."""
    cat = load_tables(spark, sf_dir)
    return text.vocabulary(cat.read("documents"), top_k=100)


@register(
    "text_tfidf_top_terms",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM w GROUP BY 1, 2
    ), df_t AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM w GROUP BY token
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df_t.df,
             tf.tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
      FROM tf JOIN df_t USING (token), n
    ), ranked AS (
      SELECT scored.*,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, token) AS rk
      FROM scored
    )
    SELECT doc_id, token, tf, df, round(tfidf, 6) AS tfidf,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf."""
    cat = load_tables(spark, sf_dir)
    return text.tfidf_top_terms(cat.read("documents"), k=3)


_BPE_ORACLE = """
WITH vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) > 0 GROUP BY word
), seq1 AS (
  SELECT chr(31) || array_to_string(list_transform(range(1, length(word)+1),
                                                   i -> word[i]),
                                    chr(31) || chr(31)) || chr(31) AS s, freq
  FROM vocab
), p1 AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(CASE WHEN len(l) >= 2
                  THEN list_transform(range(1, len(l)),
                                      i -> l[i] || chr(1) || l[i+1])
                  ELSE [] END) AS pair, freq
    FROM (SELECT string_split(trim(s, chr(31)), chr(31) || chr(31)) AS l, freq
          FROM seq1)
  ) GROUP BY pair), m1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
seq2 AS (
  SELECT replace(s,
                 chr(31) || replace(pair, chr(1), chr(31) || chr(31)) || chr(31),
                 chr(31) || replace(pair, chr(1), '') || chr(31)) AS s, freq
  FROM seq1, m1),
p2 AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(CASE WHEN len(l) >= 2
                  THEN list_transform(range(1, len(l)),
                                      i -> l[i] || chr(1) || l[i+1])
                  ELSE [] END) AS pair, freq
    FROM (SELECT string_split(trim(s, chr(31)), chr(31) || chr(31)) AS l, freq
          FROM seq2)
  ) GROUP BY pair), m2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
seq3 AS (
  SELECT replace(s,
                 chr(31) || replace(pair, chr(1), chr(31) || chr(31)) || chr(31),
                 chr(31) || replace(pair, chr(1), '') || chr(31)) AS s, freq
  FROM seq2, m2),
p3 AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(CASE WHEN len(l) >= 2
                  THEN list_transform(range(1, len(l)),
                                      i -> l[i] || chr(1) || l[i+1])
                  ELSE [] END) AS pair, freq
    FROM (SELECT string_split(trim(s, chr(31)), chr(31) || chr(31)) AS l, freq
          FROM seq3)
  ) GROUP BY pair), m3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1)
SELECT * FROM (
  SELECT 1 AS step, string_split(pair, chr(1))[1] AS left_sym,
         string_split(pair, chr(1))[2] AS right_sym,
         replace(pair, chr(1), '') AS merged, cnt FROM m1
  UNION ALL
  SELECT 2, string_split(pair, chr(1))[1], string_split(pair, chr(1))[2],
         replace(pair, chr(1), ''), cnt FROM m2
  UNION ALL
  SELECT 3, string_split(pair, chr(1))[1], string_split(pair, chr(1))[2],
         replace(pair, chr(1), ''), cnt FROM m3
) ORDER BY step
"""


@register("text_bpe_merges", _BPE_ORACLE)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 BPE merges learned from the documents corpus (see
    operators/text.bpe_learn_merges for the distributed shape; the
    oracle unrolls the same three iterations as chained CTEs with a
    scalar argmax subquery per step)."""
    cat = load_tables(spark, sf_dir)
    return text.bpe_learn_merges(cat.read("documents"), n_merges=3)




_BPE_ENCODE_ORACLE = _BPE_ORACLE.replace(
    """SELECT * FROM (
  SELECT 1 AS step, string_split(pair, chr(1))[1] AS left_sym,
         string_split(pair, chr(1))[2] AS right_sym,
         replace(pair, chr(1), '') AS merged, cnt FROM m1
  UNION ALL
  SELECT 2, string_split(pair, chr(1))[1], string_split(pair, chr(1))[2],
         replace(pair, chr(1), ''), cnt FROM m2
  UNION ALL
  SELECT 3, string_split(pair, chr(1))[1], string_split(pair, chr(1))[2],
         replace(pair, chr(1), ''), cnt FROM m3
) ORDER BY step""",
    """SELECT doc_id, n_tokens, round(n_tokens * 1.0 / n_chars, 4) AS fertility
FROM (
  SELECT doc_id, max(n_chars) AS n_chars,
         CAST(sum(len(string_split(trim(s, chr(31)), chr(31) || chr(31)))) AS BIGINT)
           AS n_tokens
  FROM (
    SELECT doc_id, n_chars,
           replace(replace(replace(
             chr(31) || array_to_string(list_transform(range(1, length(word)+1),
                                                       i -> word[i]),
                                        chr(31) || chr(31)) || chr(31),
             r1.pat, r1.rep), r2.pat, r2.rep), r3.pat, r3.rep) AS s
    FROM (SELECT doc_id, length(text) AS n_chars,
                 unnest(string_split(text, ' ')) AS word FROM documents) w,
         (SELECT chr(31) || replace(pair, chr(1), chr(31) || chr(31)) || chr(31) AS pat,
                 chr(31) || replace(pair, chr(1), '') || chr(31) AS rep FROM m1) r1,
         (SELECT chr(31) || replace(pair, chr(1), chr(31) || chr(31)) || chr(31) AS pat,
                 chr(31) || replace(pair, chr(1), '') || chr(31) AS rep FROM m2) r2,
         (SELECT chr(31) || replace(pair, chr(1), chr(31) || chr(31)) || chr(31) AS pat,
                 chr(31) || replace(pair, chr(1), '') || chr(31) AS rep FROM m3) r3
    WHERE length(word) > 0
  ) enc GROUP BY doc_id
) t""",
)


@register("text_bpe_encode", _BPE_ENCODE_ORACLE)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the 3 merges learned by text_bpe_merges
    and count tokens + fertility per doc (operators/text.bpe_encode):
    the model collects driver-side (3 rows), compiles into one codegen
    replace chain, and the corpus is tokenized in the scan stage — the
    per-doc aggregate is the only shuffle."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    merges = text.bpe_learn_merges(docs, n_merges=3)
    return text.bpe_encode(docs, merges)


@register(
    "text_lm_score",
    """
    WITH bg AS (
      SELECT doc_id, unnest([ substring(text, i, 2)
                              for i in range(1, length(text)) ]) AS bg
      FROM documents
    ), joint AS (
      SELECT bg, count(*) AS c_bg FROM bg GROUP BY bg
    ), prefix AS (
      SELECT substring(bg, 1, 1) AS c1, count(*) AS c_pre FROM bg GROUP BY 1
    ), alphabet AS (
      SELECT count(DISTINCT substring(bg, 2, 1)) AS vsize FROM bg
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(log2((c_bg + 1) * 1.0 / (c_pre + vsize))), 4) AS lm_score
    FROM bg
      JOIN joint USING (bg)
      JOIN prefix ON substring(bg, 1, 1) = c1
      CROSS JOIN alphabet
    GROUP BY doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram LM quality scoring trained in-plan on the corpus (the
    CCNet perplexity-filter shape without an external model): three tiny
    aggregates build the model, a broadcast join scores every bigram, and
    the per-doc average log-prob is the quality signal."""
    from ytsaurus_spark.operators.text import lm_score

    cat = load_tables(spark, sf_dir)
    return lm_score(cat.read("documents"))


# --- frozen-weight logistic quality classifier, applied in-plan ------------

@register(
    "text_classifier_filter",
    """
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    ), f AS (
      SELECT doc_id,
             CAST(floor(len(list_filter(toks,
                   w -> list_contains(['the','a','of','and','to','in'], w)))
               * 1.0 / len(toks) * 10000 + 0.5) AS BIGINT) / 10000.0 AS stop_ratio,
             CAST(floor(len(list_distinct(toks)) * 1.0 / len(toks) * 10000 + 0.5)
               AS BIGINT) / 10000.0 AS ttr,
             CAST(floor(((length(text) - (len(toks) - 1)) * 1.0 / len(toks)) / 10.0
               * 10000 + 0.5) AS BIGINT) / 10000.0 AS mean_len,
             CAST(floor((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
               * 1.0 / length(text) * 10000 + 0.5) AS BIGINT) / 10000.0 AS digit_ratio,
             CAST(floor(least(length(text) / 1000.0, 1.0) * 10000 + 0.5)
               AS BIGINT) / 10000.0 AS len_norm
      FROM t
    )
    SELECT doc_id, stop_ratio, ttr, digit_ratio,
           CAST(floor((2.0 * stop_ratio + 1.5 * ttr - 0.8 * mean_len
                       - 3.0 * digit_ratio + 0.5 * len_norm - 0.5) * 10000 + 0.5)
                AS BIGINT) / 10000.0 AS quality_logit,
           (2.0 * stop_ratio + 1.5 * ttr - 0.8 * mean_len
            - 3.0 * digit_ratio + 0.5 * len_norm - 0.5) >= 0.0 AS keep
    FROM f
    """,
)
def text_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-weight logistic quality classifier scored inside the scan
    stage (operators/text.py classifier_score) — the model-based filter
    step of a training-data pipeline, as one codegen expression."""
    cat = load_tables(spark, sf_dir)
    return text.classifier_score(cat.read("documents"))


# --- bucketed fuzzy join (edit-distance dedup candidate generation) --------

@register(
    "dedup_fuzzy_join",
    """
    WITH la AS (
      SELECT DISTINCT substr(p_name, 1, 6) AS a FROM part WHERE p_size <= 5
    ), lb AS (
      SELECT DISTINCT substr(p_name, 1, 6) AS b FROM part WHERE p_size >= 46
    )
    SELECT a, b, CAST(levenshtein(a, b) AS BIGINT) AS dist
    FROM la, lb
    WHERE levenshtein(a, b) <= 1
    """,
)
def dedup_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance join via (first-char, length-band) bucketing
    (operators/dedup.fuzzy_join): candidates meet on an equi-join key
    instead of a cross join, then verify with exact Levenshtein —
    recall-exact (wildcard bucket covers first-char edits; verified
    against brute force in tests). The oracle IS the brute force, so the
    gate proves the bucketing loses nothing."""
    from ytsaurus_spark.operators.dedup import fuzzy_join

    cat = load_tables(spark, sf_dir)
    part = cat.read("part")
    la = (
        part.filter(F.col("p_size") <= 5)
        .select(F.substring("p_name", 1, 6).alias("a"))
        .distinct()
    )
    lb = (
        part.filter(F.col("p_size") >= 46)
        .select(F.substring("p_name", 1, 6).alias("b"))
        .distinct()
    )
    return fuzzy_join(la, lb, "a", "b", max_distance=1)


# --- winnowing fingerprints: shared-passage detection ----------------------

@register(
    "dedup_winnowing",
    """
    WITH grams AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(length(text) - 15, 1))) AS p,
             text
      FROM documents
    ), hashed AS (
      SELECT doc_id, p, text,
             ('0x' || substr(md5(substr(text, p, 16)), 1, 8))::BIGINT AS h
      FROM grams
    ), winmin AS (
      SELECT doc_id, p, h, text,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS wmin
      FROM hashed
    ), fp AS (
      SELECT doc_id, wmin AS h FROM winmin WHERE p >= 8
      UNION
      SELECT doc_id, wmin AS h FROM winmin
      WHERE p = greatest(length(text) - 15, 1)
        AND greatest(length(text) - 15, 1) < 8
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) shared-passage detection: document pairs sharing
    >= 3 window-minimum k-gram fingerprints (k=16, w=8) — guaranteed to
    catch any copied substring of >= k+w-1 = 23 chars, the passage-level
    duplication whole-doc hashing misses. The window min partitions per
    document; the pair search is the inverted-index fingerprint join
    (operators/dedup.py:winnow_shared_passages, with the production
    df_max hot-fingerprint cap documented there)."""
    cat = load_tables(spark, sf_dir)
    return dedup.winnow_shared_passages(
        cat.read("documents"), k=16, w=8, min_shared=3
    )


# --- repetition quality signals (Gopher §A1.1) -----------------------------

@register(
    "text_repetition",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), g AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             list_transform(range(1, len(ws)),
                            i -> ws[i] || ' ' || ws[i + 1]) AS b2,
             list_transform(range(1, len(ws) - 1),
                            i -> ws[i] || ' ' || ws[i + 1] || ' '
                                 || ws[i + 2]) AS b3
      FROM w
    ), c AS (
      SELECT doc_id, n_words,
             CAST(len(b2) AS BIGINT) AS n_bigram,
             list_transform(list_distinct(b2),
                            d -> len(list_filter(b2, x -> x = d))) AS c2,
             CAST(len(b3) AS BIGINT) AS n_trigram,
             list_transform(list_distinct(b3),
                            d -> len(list_filter(b3, x -> x = d))) AS c3
      FROM g
    )
    SELECT doc_id, n_words,
           n_bigram,
           CAST(list_max(c2) AS BIGINT) AS top_bigram_n,
           CAST(COALESCE(list_sum(list_filter(c2, c -> c > 1)), 0)
                AS BIGINT) AS dup_bigram_n,
           n_trigram,
           CAST(list_max(c3) AS BIGINT) AS top_trigram_n,
           CAST(COALESCE(list_sum(list_filter(c3, c -> c > 1)), 0)
                AS BIGINT) AS dup_trigram_n,
           CAST(floor(CAST(COALESCE(list_sum(list_filter(c2, c -> c > 1)),
                               0) AS DOUBLE)
                      * 1e4 / n_bigram + 0.5) AS BIGINT) / 1e4
             AS dup_bigram_ratio
    FROM c
    ORDER BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (top/duplicated word
    n-gram mass) — the standard pretraining-corpus quality filter family
    alongside text_quality's length/stopword ratios. Scan-stage JVM HOFs
    only; see operators/text.py:repetition_signals for the scale notes."""
    cat = load_tables(spark, sf_dir)
    return text.repetition_signals(cat.read("documents")).orderBy("doc_id")


# --- incremental dedup: new batch vs persisted corpus index ----------------

@register(
    "dedup_incremental",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, len(t) - 1)]
                  ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks
    ), shx AS (
      SELECT doc_id, unnest(shs) AS s FROM sh
    ), mh AS (
      SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || s)) AS mh
      FROM shx CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
      GROUP BY doc_id, seed
    ), sigs AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(mh, '' ORDER BY seed)) AS band_sig
      FROM mh GROUP BY doc_id, seed // 2
    ), idx AS (
      SELECT DISTINCT band, band_sig FROM sigs WHERE doc_id % 2 = 0
    ), batch AS (
      SELECT * FROM sigs WHERE doc_id % 2 = 1
    ), dup_hist AS (
      SELECT DISTINCT doc_id FROM batch JOIN idx USING (band, band_sig)
    ), dup_batch AS (
      SELECT DISTINCT b.doc_id
      FROM batch a JOIN batch b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_index_rows
    FROM batch
    WHERE doc_id NOT IN (SELECT doc_id FROM dup_hist)
      AND doc_id NOT IN (SELECT doc_id FROM dup_batch)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup — the continuously-ingesting pipeline
    shape: even doc_ids play the already-ingested corpus whose PERSISTED
    band-signature index (operators/dedup.band_signatures — kilobytes per
    document) is all that survives between batches; odd doc_ids are the
    new batch, deduped against the index plus themselves WITHOUT reading
    any corpus text (operators/dedup.incremental_minhash_dedup). Output:
    surviving batch ids with their appended index-row counts — so the
    hash also proves the index-maintenance half of the loop."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    index = dedup.band_signatures(corpus)
    survivors, new_index = dedup.incremental_minhash_dedup(batch, index)
    return (
        new_index.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_index_rows"))
        .orderBy("doc_id")
    )


# --- incremental IVF: new embedding batch vs persisted centroids -----------

@register(
    "sim_ivf_incremental",
    """
    WITH cents AS (
      SELECT CAST(vec_id / 30 AS INT) AS cell, embedding::DOUBLE[] AS centv
      FROM embeddings
      WHERE vec_id % 30 = 0 AND vec_id < 30 * 8 AND vec_id % 2 = 0
    ), batch AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id % 2 = 1
    ), scored AS (
      SELECT b.vec_id, c.cell,
             list_sum([ (b.v[i] - c.centv[i]) * (b.v[i] - c.centv[i])
                        for i in range(1, 65) ]) AS d2
      FROM batch b CROSS JOIN cents c
    )
    SELECT vec_id, CAST(cell AS INT) AS cell
    FROM (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      FROM scored
    ) WHERE rn = 1 ORDER BY vec_id
    """,
)
def sim_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ingestion — the embedding-side twin of
    dedup_incremental: even vec_ids play the indexed corpus whose
    PERSISTED centroids (8 cells, stride-30 exemplars) are all that
    survives between batches; odd vec_ids are the new batch, routed to
    their nearest cell by operators/similarity.ivf_assign_to without
    touching corpus vectors. Appending the output to the corpus's
    (vec_id, cell) table keeps ivf_topk serving the grown index."""
    from ytsaurus_spark.operators.similarity import ivf_assign, ivf_assign_to

    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    _, centroids = ivf_assign(corpus, num_cells=8, centroid_stride=30)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    return (
        ivf_assign_to(batch, centroids)
        .select("vec_id", F.col("cell").cast("int").alias("cell"))
        .orderBy("vec_id")
    )


@register(
    "dedup_incremental_exact",
    """
    WITH idx AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
    ), batch AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
    )
    SELECT min(doc_id) AS doc_id, h AS text_hash
    FROM batch WHERE h NOT IN (SELECT h FROM idx)
    GROUP BY h ORDER BY doc_id
    """,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-hash incremental dedup — the cheap gate in front of the
    minhash stage (operators/dedup.incremental_exact_dedup): the corpus
    survives between batches as its distinct content-hash set only (32
    bytes per unique doc at any corpus size)."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    corpus_index = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("text_hash")
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    survivors, new_hashes = dedup.incremental_exact_dedup(batch, corpus_index)
    hashed = batch.select("doc_id", F.md5("text").alias("text_hash"))
    return (
        survivors.join(hashed, "doc_id")
        .select("doc_id", "text_hash")
        .orderBy("doc_id")
    )


# --- exact-substring duplicate coverage (Lee et al. 2021) -------------------

@register(
    "dedup_exact_substring",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(t[i:i+7], ' ')) AS g
      FROM toks, LATERAL unnest(range(1, len(t) - 6)) AS r(i)
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
    ), hits AS (
      SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)
    ), cov AS (
      SELECT doc_id,
             CASE WHEN lag(pos) OVER w IS NULL THEN 8
                  ELSE least(8, pos - lag(pos) OVER w) END AS contrib
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), doccov AS (
      SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS dup_tokens
      FROM cov GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           COALESCE(c.dup_tokens, 0) AS dup_tokens,
           COALESCE(c.dup_tokens, 0) / len(string_split(d.text, ' '))
             AS dup_ratio
    FROM documents d LEFT JOIN doccov c USING (doc_id)
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-grain exact-substring duplicate coverage: the corpus-scale
    equivalent of the suffix-array dedup pass (gram-hash groupBy instead
    of a single-node suffix array)."""
    cat = load_tables(spark, sf_dir)
    return dedup.exact_substring_coverage(cat.read("documents"), gram_len=8)


# --- Gopher quality rule set (Rae et al. 2021 A1.1) -------------------------

@register(
    "text_gopher_rules",
    """
    WITH base AS (
      SELECT doc_id,
             string_split(text, ' ') AS w,
             string_split(text, chr(10)) AS l,
             length(text) - length(replace(text, '#', '')) AS n_hash
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
               AS sum_word_len,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
               AS BIGINT) AS n_alpha_words,
             CAST(len(list_intersect(list_distinct(w),
               ['the','be','to','of','and','that','have','with']))
               AS BIGINT) AS n_stop_kinds,
             CAST(len(l) AS BIGINT) AS n_lines,
             CAST(len(list_filter(l, x -> regexp_matches(x, '^[-*]')))
               AS BIGINT) AS n_bullet_lines,
             CAST(len(list_filter(l, x -> regexp_matches(x, '\\.\\.\\.$')))
               AS BIGINT) AS n_ellipsis_lines,
             CAST(n_hash AS BIGINT) AS n_hash_symbols
      FROM base
    )
    SELECT *,
           (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
           (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words)
             AS ok_mean_word_len,
           (10 * n_hash_symbols <= n_words) AS ok_symbol_ratio,
           (10 * n_bullet_lines < 9 * n_lines) AS ok_bullets,
           (10 * n_ellipsis_lines < 3 * n_lines) AS ok_ellipsis,
           (5 * n_alpha_words >= 4 * n_words) AS ok_alpha,
           (n_stop_kinds >= 2) AS ok_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words)
            AND (10 * n_hash_symbols <= n_words)
            AND (10 * n_bullet_lines < 9 * n_lines)
            AND (10 * n_ellipsis_lines < 3 * n_lines)
            AND (5 * n_alpha_words >= 4 * n_words)
            AND (n_stop_kinds >= 2)) AS passes
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality filters as integer-only rule columns + conjunction."""
    cat = load_tables(spark, sf_dir)
    return text.gopher_rules(cat.read("documents"))


# --- unigram LM surprisal scoring (perplexity-filter shape) -----------------

@register(
    "text_unigram_surprisal",
    """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), wc AS (
      SELECT w, count(*) AS cnt FROM words GROUP BY w
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total FROM wc
    ), sur AS (
      SELECT w,
             (length(to_base(total, 2)) - 1)
               - (length(to_base(CAST(cnt AS BIGINT), 2)) - 1) AS bits
      FROM wc CROSS JOIN tot
    ), dw AS (
      SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(c * bits) AS BIGINT) AS total_bits,
           CAST(sum(c * bits) AS BIGINT) / CAST(sum(c) AS BIGINT)
             AS mean_bits
    FROM dw JOIN sur USING (w)
    GROUP BY doc_id
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-bit unigram surprisal score trained on the input corpus."""
    cat = load_tables(spark, sf_dir)
    return text.unigram_surprisal(cat.read("documents"))


# --- int8 scalar quantization of embeddings (FAISS SQ8 shape) ---------------

@register(
    "sim_scalar_quantize_int8",
    """
    WITH elems AS (
      SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS r(i)
    ), stats AS (
      SELECT dim, min(x) AS lo, max(x) AS hi FROM elems GROUP BY dim
    ), coded AS (
      SELECT e.vec_id, e.dim, e.x, s.lo, s.hi,
             CAST(floor((e.x - s.lo) * 255 / (s.hi - s.lo) + 0.5)
               AS BIGINT) AS q
      FROM elems e JOIN stats s USING (dim)
    ), errs AS (
      SELECT vec_id, dim, q,
             CAST(floor(abs((lo + q * (hi - lo) / 255) - x) * 1e9 + 0.5)
               AS BIGINT) AS err
      FROM coded
    )
    SELECT vec_id,
           CAST(count(*) AS BIGINT) AS n_dims,
           md5(string_agg(CAST(q AS VARCHAR), ',' ORDER BY dim)) AS code_md5,
           max(err) AS max_abs_err_1e9
    FROM errs GROUP BY vec_id
    """,
)
def sim_scalar_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized embedding codes + reconstruction fidelity."""
    cat = load_tables(spark, sf_dir)
    return similarity.scalar_quantize_int8(cat.read("embeddings"))


# --- exact dedup with quality-ranked survivor ------------------------------

@register(
    "dedup_exact_keep_best",
    """
    WITH p AS (
      SELECT doc_id, md5(text) AS text_hash,
             CAST((CAST(len(list_distinct(string_split(text, ' ')))
                     AS BIGINT) * 1000000)
                  // len(string_split(text, ' ')) AS BIGINT) AS priority
      FROM documents
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY text_hash
                                ORDER BY priority DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY text_hash) AS n_dups
      FROM p
    )
    SELECT text_hash, doc_id AS kept_id, priority,
           CAST(n_dups AS BIGINT) AS n_dups
    FROM r WHERE rn = 1
    """,
)
def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the best-scored duplicate per content hash."""
    cat = load_tables(spark, sf_dir)
    return dedup.exact_dedup_keep_best(cat.read("documents"))


# --- feature-hashing vectorizer --------------------------------------------

@register(
    "text_feature_hash",
    """
    SELECT doc_id,
           (('0x' || substr(md5(w), 1, 4))::BIGINT % 16) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
    GROUP BY doc_id, bucket
    """,
)
def text_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bucket hashing-trick bag-of-words featurization, long form."""
    cat = load_tables(spark, sf_dir)
    return text.feature_hash(cat.read("documents"), num_buckets=16)


# --- bigram conditional surprisal ------------------------------------------

@register(
    "text_bigram_surprisal",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
    ), dbg AS (
      SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY doc_id, w1, w2
    ), bgc AS (
      SELECT w1, w2, CAST(sum(c) AS BIGINT) AS bg_cnt
      FROM dbg GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, CAST(sum(bg_cnt) AS BIGINT) AS ctx_cnt FROM bgc GROUP BY w1
    ), s AS (
      SELECT w1, w2,
             (length(to_base(ctx_cnt, 2)) - 1)
               - (length(to_base(bg_cnt, 2)) - 1) AS bits
      FROM bgc JOIN ctx USING (w1)
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(sum(c * bits) AS BIGINT) AS total_bits,
           CAST(sum(c * bits) AS BIGINT) / CAST(sum(c) AS BIGINT)
             AS mean_bits
    FROM dbg JOIN s USING (w1, w2)
    GROUP BY doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-bit bigram conditional surprisal trained on the corpus."""
    cat = load_tables(spark, sf_dir)
    return text.bigram_surprisal(cat.read("documents"))


# --- k-NN majority-vote classification (embedding-quality probe) -----------

@register(
    "sim_knn_classify",
    """
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv, label AS true_label
      FROM embeddings WHERE vec_id % 10 = 0
    ), c AS (
      SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv, label AS nb_label
      FROM embeddings WHERE vec_id % 10 <> 0
    ), s AS (
      SELECT q_id, true_label, c_id, nb_label,
             list_dot_product(qv, cv) /
               sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv))
               AS cos
      FROM q, c
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, c_id) AS rnk
      FROM s
    ), v AS (
      SELECT q_id, true_label, nb_label, CAST(count(*) AS BIGINT) AS votes
      FROM r WHERE rnk <= 5 GROUP BY q_id, true_label, nb_label
    ), p AS (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY votes DESC, nb_label) AS pr
      FROM v
    )
    SELECT q_id, true_label, nb_label AS pred_label, votes,
           (nb_label = true_label) AS correct
    FROM p WHERE pr = 1
    """,
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-vote label prediction on the deterministic 1/10
    hold-out split of the embeddings table."""
    cat = load_tables(spark, sf_dir)
    return similarity.knn_classify(cat.read("embeddings"), k=5, query_mod=10)


# --- robust MAD outlier detection (exact integer arithmetic) ----------------

@register(
    "ts_mad_outliers",
    """
    WITH base AS (
      SELECT user_id AS k, event_id AS oid,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY k ORDER BY cents, oid) AS rn,
             count(*) OVER (PARTITION BY k) AS n
      FROM base
    ), med AS (
      SELECT k,
             CAST(max(CASE WHEN rn * 2 <= n + 1 THEN cents END) AS BIGINT)
               AS median_cents,
             CAST(count(*) AS BIGINT) AS n
      FROM ranked GROUP BY k
    ), dev AS (
      SELECT b.k, b.oid, b.cents, m.median_cents, m.n,
             abs(b.cents - m.median_cents) AS dv
      FROM base b JOIN med m USING (k)
    ), devr AS (
      SELECT *, row_number() OVER (PARTITION BY k ORDER BY dv, oid) AS drn
      FROM dev
    ), mad AS (
      SELECT k,
             CAST(max(CASE WHEN drn * 2 <= n + 1 THEN dv END) AS BIGINT)
               AS mad_cents
      FROM devr GROUP BY k
    )
    SELECT d.k AS user_id,
           CAST(max(d.n) AS BIGINT) AS n,
           CAST(max(d.median_cents) AS BIGINT) AS median_cents,
           CAST(max(ma.mad_cents) AS BIGINT) AS mad_cents,
           CAST(sum(CASE WHEN d.dv > 3 * ma.mad_cents THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers
    FROM dev d JOIN mad ma USING (k)
    GROUP BY d.k
    """,
)
def ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outlier counts via exact integer median/MAD."""
    from ytsaurus_spark.operators import timeseries

    cat = load_tables(spark, sf_dir)
    return timeseries.mad_outliers(cat.read("events"), k=3)


# --- C4 line-level cleaning --------------------------------------------------

@register(
    "text_c4_line_filter",
    """
    SELECT doc_id,
           CAST(len(l) AS BIGINT) AS n_lines,
           CAST(len(k) AS BIGINT) AS n_kept,
           md5(COALESCE(array_to_string(k, chr(10)), '')) AS kept_md5
    FROM (
      SELECT doc_id, l,
             list_filter(l, x -> len(string_split(x, ' ')) >= 3
                AND regexp_matches(x, '[.!?"]$')
                AND NOT regexp_matches(x, '\\{')
                AND NOT regexp_matches(lower(x), 'lorem ipsum')
                AND NOT regexp_matches(lower(x), 'javascript')) AS k
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM documents)
    )
    """,
)
def text_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-filter rules with the cleaned text md5-pinned per doc."""
    cat = load_tables(spark, sf_dir)
    return text.c4_line_filter(cat.read("documents"))


# --- corpus snapshot diff ----------------------------------------------------

@register(
    "curation_corpus_diff",
    """
    WITH oldv AS (
      SELECT doc_id, md5(text) AS oh FROM documents
    ), newv AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END)
               AS nh
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 1000000, md5('new ' || text)
      FROM documents WHERE doc_id % 19 = 0
    ), j AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.oh IS NULL THEN 'added'
                  WHEN n.nh IS NULL THEN 'removed'
                  WHEN o.oh = n.nh THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM oldv o FULL OUTER JOIN newv n USING (doc_id)
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM j GROUP BY status
    """,
)
def curation_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (added/removed/changed/unchanged) between the corpus
    and a deterministically perturbed recrawl of it, counted by status."""
    from ytsaurus_spark.operators import curation

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    changed = F.when(
        F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    new = (
        docs.where(F.col("doc_id") % 17 != 0)
        .select("doc_id", changed.alias("text"))
        .unionByName(
            docs.where(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit("new "), F.col("text")).alias("text"),
            )
        )
    )
    diff = curation.corpus_diff(docs, new)
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


# --- grid-bucketed interval-overlap join ------------------------------------

@register(
    "ts_interval_join",
    """
    WITH win AS (
      SELECT i AS window_id,
             TIMESTAMP '2024-01-01 00:00:00' + (i * 36) * INTERVAL 1 HOUR
               AS w_start,
             TIMESTAMP '2024-01-01 00:00:00' + (i * 36 + 24) * INTERVAL 1 HOUR
               AS w_end
      FROM (SELECT unnest(range(14)) AS i)
    )
    SELECT w.window_id, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events e JOIN win w
      ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY w.window_id, e.event_type
    """,
)
def ts_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events matched to 14 overlapping 24h windows (36h stride) through
    the grid-bucketed interval join — the oracle uses the plain range
    theta-join, proving the equi-join rewrite exact."""
    from ytsaurus_spark.operators import timeseries

    cat = load_tables(spark, sf_dir)
    win = spark.range(14).select(
        F.col("id").cast("int").alias("window_id"),
        F.expr(
            "timestampadd(HOUR, CAST(id * 36 AS INT),"
            " timestamp'2024-01-01 00:00:00')"
        ).alias("w_start"),
        F.expr(
            "timestampadd(HOUR, CAST(id * 36 + 24 AS INT),"
            " timestamp'2024-01-01 00:00:00')"
        ).alias("w_end"),
    )
    joined = timeseries.interval_join(
        cat.read("events"),
        win,
        ts_col="ts",
        start_col="w_start",
        end_col="w_end",
        grid_seconds=3600,
    )
    return joined.groupBy("window_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@register(
    "text_inverted_index",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), per_doc AS (
      SELECT token, doc_id, count(*) AS tf_d
      FROM w WHERE length(token) > 0 GROUP BY 1, 2
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf_d) AS BIGINT) AS cf,
           array_to_string(list_sort(list(doc_id))[1:16], ',') AS postings
    FROM per_doc GROUP BY token HAVING count(*) >= 5
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index shard build (operators/text.inverted_index): per
    term document frequency, collection frequency, and the first 16
    posting doc-ids — the reference's canonical Map+Sort+Reduce indexing
    chain re-expressed as two partial-aggregating shuffles with the
    posting list capped before serialization."""
    cat = load_tables(spark, sf_dir)
    return text.inverted_index(cat.read("documents"), min_df=5, postings_cap=16)


@register(
    "text_cooccurrence_lift",
    """
    WITH t AS (
      SELECT doc_id, tok, pos FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
      WHERE length(tok) > 0
    ), pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS c_ab
      FROM t a JOIN t b ON a.doc_id = b.doc_id
            AND b.pos - a.pos BETWEEN 1 AND 3
      GROUP BY 1, 2 HAVING count(*) >= 20
    ), uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY tok),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t)
    SELECT tok_a, tok_b, c_ab, ua.c AS c_a, ub.c AS c_b,
           CAST(nn.n AS DOUBLE) * CAST(c_ab AS DOUBLE)
             / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
    FROM pairs JOIN uni ua ON pairs.tok_a = ua.tok
               JOIN uni ub ON pairs.tok_b = ub.tok, nn
    """,
)
def text_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed (≤3) token co-occurrence with lift scoring
    (operators/text.cooccurrence_lift) — skip-gram pair mining with a
    log-free PMI monotone: lift = N·c_xy/(c_x·c_y), one exact IEEE
    division of exact integer counts, identical in both engines. The
    positional self-join is doc-keyed and window-banded, so intermediates
    are |tokens|·window, never quadratic."""
    cat = load_tables(spark, sf_dir)
    return text.cooccurrence_lift(cat.read("documents"), window=3, min_pair=20)


@register(
    "dedup_lsh_eval",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, len(t) - 1)]
                  ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks
    ), shx AS (
      SELECT doc_id, unnest(shs) AS s FROM sh
    ), mh AS (
      SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || s)) AS mh
      FROM shx CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
      GROUP BY doc_id, seed
    ), sigs AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(mh, '' ORDER BY seed)) AS band_sig
      FROM mh GROUP BY doc_id, seed // 2
    ), pred AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs a JOIN sigs b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ), shd AS (
      SELECT DISTINCT doc_id, s FROM shx
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), truth AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.5
    ), j AS (
      SELECT coalesce(p.doc_a, t.doc_a) AS doc_a,
             CASE WHEN p.doc_a IS NOT NULL AND t.doc_a IS NOT NULL THEN 'tp'
                  WHEN p.doc_a IS NOT NULL THEN 'fp' ELSE 'fn' END AS cls
      FROM pred p
      FULL OUTER JOIN truth t ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
    )
    SELECT
      CAST(sum(CASE WHEN cls = 'tp' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      CAST(sum(CASE WHEN cls = 'fp' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      CAST(sum(CASE WHEN cls = 'fn' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      CAST(sum(CASE WHEN cls = 'tp' THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(sum(CASE WHEN cls IN ('tp', 'fp') THEN 1 ELSE 0 END) AS DOUBLE)
        AS precision,
      CAST(sum(CASE WHEN cls = 'tp' THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(sum(CASE WHEN cls IN ('tp', 'fn') THEN 1 ELSE 0 END) AS DOUBLE)
        AS recall
    FROM j
    """,
)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality audit of the minhash-LSH detector against exact 3-shingle
    Jaccard ground truth (threshold 0.5): TP/FP/FN pair counts plus
    precision and recall as single exact IEEE divisions — 'measure,
    don't guess' as a first-class registry query, not a notebook
    afterthought. Both sides are bucketed equi-joins (band-signature
    buckets / shingle buckets); the eval itself is a pair-keyed full
    outer join. At 100 TB the exact-truth leg runs on a sampled slice —
    the detector leg is the production path being audited."""
    docs = load_tables(spark, sf_dir).read("documents").transform(materialize)
    pred = dedup.minhash_lsh_pairs(
        docs, num_hashes=8, band_rows=2, shingle_k=3,
    ).select("doc_a", "doc_b")
    truth = dedup.ngram_jaccard_pairs(
        docs, shingle_k=3, threshold=0.5,
    ).select("doc_a", "doc_b")
    p = pred.withColumn("__p", F.lit(1))
    t = truth.withColumn("__t", F.lit(1))
    j = p.join(t, ["doc_a", "doc_b"], "full_outer")
    cls = (
        F.when(F.col("__p").isNotNull() & F.col("__t").isNotNull(), F.lit("tp"))
        .when(F.col("__p").isNotNull(), F.lit("fp"))
        .otherwise(F.lit("fn"))
    )
    agg = j.select(cls.alias("cls")).agg(
        F.sum(F.when(F.col("cls") == "tp", 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(F.col("cls") == "fp", 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(F.col("cls") == "fn", 1).otherwise(0)).cast("long").alias("fn"),
    )
    return agg.select(
        "tp", "fp", "fn",
        (F.col("tp").cast("double")
         / (F.col("tp") + F.col("fp")).cast("double")).alias("precision"),
        (F.col("tp").cast("double")
         / (F.col("tp") + F.col("fn")).cast("double")).alias("recall"),
    )


@register(
    "text_oov_rate",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), w2 AS (
      SELECT doc_id, tok FROM w WHERE length(tok) > 0
    ), v AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c FROM w2 GROUP BY tok
        ORDER BY c DESC, tok LIMIT 100)
    ), f AS (
      SELECT doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      FROM w2 LEFT JOIN v ON w2.tok = v.tok
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
    FROM f GROUP BY doc_id
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate vs the corpus top-100 vocabulary
    (operators/text.oov_rate): the tokenizer-coverage signal. The vocab
    is aggregate-sized and broadcasts into the token stream (no extra
    shuffle); the rank-100 tie boundary is deterministic via
    (tf DESC, token); rates are exact integer counts through one IEEE
    division."""
    cat = load_tables(spark, sf_dir)
    return text.oov_rate(cat.read("documents"), vocab_k=100)


@register(
    "text_langid_eval",
    """
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), pred AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS actual,
             CASE WHEN len(list_filter(toks,
                      w -> list_contains(['the','a','of','and','to','in'], w)))
                      * 1.0 / len(toks) >= 0.05
                  THEN 'en' ELSE 'other' END AS predicted
      FROM t
    )
    SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY actual, predicted
    """,
)
def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-ratio language-ID heuristic
    against the corpus's labeled lang column (collapsed to en/other, the
    detector's codomain) — the detector-audit companion to
    dedup_lsh_eval: quality signals get measured in-engine, not assumed.
    One scan, scan-stage HOF arithmetic, a 4-row aggregate."""
    cat = load_tables(spark, sf_dir)
    pred = text.language_id(cat.read("documents"))
    return (
        pred.select(
            F.when(F.col("labeled_lang") == "en", F.lit("en"))
            .otherwise(F.lit("other"))
            .alias("actual"),
            F.col("predicted_lang").alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@register(
    "pipeline_refinedweb",
    """
    WITH chunks AS (
      SELECT doc_id, CAST(off AS BIGINT) AS off,
             substr(text, off + 1, 160) AS chunk
      FROM documents,
           unnest(range(0, greatest(length(text), 1), 160)) AS u(off)
    ), flagged AS (
      SELECT doc_id, off, chunk,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, off) AS rn
      FROM chunks
    ), cleaned AS (
      SELECT doc_id,
             coalesce(string_agg(chunk, '' ORDER BY off)
                        FILTER (WHERE rn = 1), '') AS clean_text,
             CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped
      FROM flagged GROUP BY doc_id
    ), scored AS (
      SELECT d.source, c.doc_id, c.clean_text, c.n_dropped,
             string_split(c.clean_text, ' ') AS toks
      FROM cleaned c JOIN documents d USING (doc_id)
      WHERE c.clean_text <> ''
    ), kept AS (
      SELECT source, doc_id, n_dropped, len(toks) AS n_toks
      FROM scored
      WHERE len(toks) BETWEEN 8 AND 1000
        AND length(clean_text) - len(toks) + 1 <= 12 * len(toks)
        AND len(list_filter(toks,
              w -> list_contains(['the','a','of','and','to','in'], w)))
            * 1.0 / len(toks) >= 0.05
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           CAST(sum(n_dropped) AS BIGINT) AS n_dropped_chunks
    FROM kept GROUP BY source
    """,
)
def pipeline_refinedweb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style pipeline as ONE declarative plan: cross-corpus
    passage dedup with reassembly (curation.paragraph_dedup) → integer
    quality gate (8 ≤ words ≤ 1000, mean word length ≤ 12 via
    cross-multiplication — chars − words + 1 ≤ 12·words) → stopword-ratio
    English gate (the lang_id heuristic on the CLEANED text) → per-source
    export summary. Complements pipeline_clean_corpus (minhash path):
    this is the passage-grain chain. One chunk-hash shuffle, one doc
    reassembly shuffle, the rest scan-stage; the summary partial-aggs."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents").transform(materialize)  # dedup chunking + source join
    from ytsaurus_spark.operators.curation import paragraph_dedup

    cleaned = paragraph_dedup(docs, chunk_chars=160).filter(
        F.col("clean_text") != ""
    )
    joined = cleaned.join(docs.select("doc_id", "source"), "doc_id")
    toks = F.split(F.col("clean_text"), " ")
    n_toks = F.size(toks)
    stop_ratio_ok = (
        F.size(
            F.filter(
                toks,
                lambda w: w.isin("the", "a", "of", "and", "to", "in"),
            )
        )
        * F.lit(1.0)
        / n_toks
        >= 0.05
    )
    kept = joined.filter(
        n_toks.between(8, 1000)
        & (F.length("clean_text") - n_toks + 1 <= 12 * n_toks)
        & stop_ratio_ok
    ).select("source", F.col("n_dropped"), n_toks.alias("n_toks"))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_dropped").cast("long").alias("n_dropped_chunks"),
    )


@register(
    "text_langid_ngram",
    """
    WITH w AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), w2 AS (
      SELECT doc_id, lang, tok FROM w WHERE length(tok) > 0
    ), lp AS (
      SELECT lang AS cand, tok, lrank FROM (
        SELECT lang, tok, count(*) AS c,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY count(*) DESC, tok) AS lrank
        FROM w2 GROUP BY lang, tok)
      WHERE lrank <= 20
    ), langs AS (SELECT DISTINCT cand FROM lp),
    dp AS (
      SELECT doc_id, actual, tok, drank FROM (
        SELECT doc_id, lang AS actual, tok, count(*) AS c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY count(*) DESC, tok) AS drank
        FROM w2 GROUP BY doc_id, lang, tok)
      WHERE drank <= 10
    ), scored AS (
      SELECT dp.doc_id, dp.actual, langs.cand,
             CAST(sum(coalesce(abs(dp.drank - lp.lrank), 20)) AS BIGINT)
               AS score
      FROM dp CROSS JOIN langs
      LEFT JOIN lp ON lp.cand = langs.cand AND lp.tok = dp.tok
      GROUP BY dp.doc_id, dp.actual, langs.cand
    )
    SELECT doc_id, actual, cand AS predicted, score FROM (
      SELECT scored.*,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score, cand) AS rk
      FROM scored)
    WHERE rk = 1
    """,
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar–Trenkle rank-profile language ID over the full 5-language
    label set (operators/text.langid_ngram): per-lang top-20 token
    profiles (aggregate-sized, broadcast), per-doc top-10 profiles
    (doc-partitioned rank window), out-of-place scoring in pure integer
    arithmetic, deterministic (score, lang) argmin — the real
    multi-class language detector the stopword heuristic approximates."""
    cat = load_tables(spark, sf_dir)
    return text.langid_ngram(cat.read("documents"))


@register(
    "sim_ann_recall_eval",
    """
    WITH q0 AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 20
    ), cand AS (
      SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings
    ), exact AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY
                 list_dot_product(qv, cv) /
                   sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv))
                 DESC, c_id) AS rnk
        FROM q0 CROSS JOIN cand WHERE q_id <> c_id)
      WHERE rnk <= 3
    ), cents AS (
      SELECT CAST(vec_id / 30 AS INT) AS cell, embedding::DOUBLE[] AS centv
      FROM embeddings WHERE vec_id % 30 = 0 AND vec_id < 30 * 16
    ), scored AS (
      SELECT e.vec_id, c.cell,
             list_sum([ (e.embedding[i]::DOUBLE - c.centv[i]) *
                        (e.embedding[i]::DOUBLE - c.centv[i])
                        for i in range(1, 65) ]) AS d2
      FROM embeddings e CROSS JOIN cents c
    ), assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM scored
      ) WHERE rn = 1
    ), withc AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v, a.cell
      FROM embeddings e JOIN assign a USING (vec_id)
    ), ivf AS (
      SELECT q_id, c_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_dot_product(q.v, c.v) /
                   sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v))
                 DESC, c.vec_id) AS rnk
        FROM withc q JOIN withc c USING (cell)
        WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
      WHERE rnk <= 3
    )
    SELECT exact.q_id,
           CAST(count(ivf.c_id) AS BIGINT) AS n_hits,
           CAST(count(ivf.c_id) AS DOUBLE) / 3e0 AS recall
    FROM exact LEFT JOIN ivf
      ON exact.q_id = ivf.q_id AND exact.c_id = ivf.c_id
    GROUP BY exact.q_id
    """,
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@3 of the IVF index against exact brute-force
    cosine top-3 — the ANN-quality audit as a first-class registry query
    (the detector-audit companion to dedup_lsh_eval; SCALE.md's recall
    tables, now oracle-gated). Both legs are the existing operators'
    plans (broadcast queries / cell-bucketed probe); the eval join is
    pair-keyed. At 100 TB the exact leg runs on a query SAMPLE — the
    standard ANN-benchmark protocol — while the IVF leg is the
    production path."""
    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, queries, k=3).select("q_id", "c_id")
    from ytsaurus_spark.operators.similarity import ivf_topk

    ivf = ivf_topk(emb, queries, k=3, num_cells=16, centroid_stride=30).select(
        F.col("q_id").alias("iq"), F.col("c_id").alias("ic")
    )
    j = exact.join(
        ivf, (F.col("q_id") == F.col("iq")) & (F.col("c_id") == F.col("ic")),
        "left",
    )
    return j.groupBy("q_id").agg(
        F.count("ic").cast("long").alias("n_hits"),
        (F.count("ic").cast("double") / F.lit(3.0)).alias("recall"),
    )


@register(
    "text_bm25_topk",
    """
    WITH q(q_id, q_text) AS (VALUES ('q1', 'table scan fast'),
                                    ('q2', 'join merge sort'),
                                    ('q3', 'stream window agg group')),
    w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), wf AS (SELECT doc_id, tok FROM w WHERE length(tok) > 0),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM wf GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM wf GROUP BY 1
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ), df_t AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ), qt AS (
      SELECT DISTINCT q_id, tok FROM (
        SELECT q_id, unnest(string_split(q_text, ' ')) AS tok FROM q)
      WHERE length(tok) > 0
    ), m AS (
      SELECT qt.q_id, tf.doc_id,
             CAST(round(
               ((CAST(n_docs - df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5))
               * (CAST(tf AS DOUBLE) * 2.2
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))
               * 1e6) AS BIGINT) AS micro
      FROM qt JOIN tf USING (tok) JOIN df_t USING (tok)
              JOIN dl USING (doc_id), stats
    ), s AS (
      SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(micro) AS BIGINT) AS score_micros
      FROM m GROUP BY 1, 2
    ), r AS (
      SELECT s.*, row_number() OVER (PARTITION BY q_id
               ORDER BY score_micros DESC, doc_id) AS rk
      FROM s
    )
    SELECT q_id, doc_id, n_terms, score_micros,
           CAST(score_micros AS DOUBLE) / 1e6 AS score, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 5
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 retrieval for three fixed term queries over the
    documents corpus (operators/text.bm25_topk) — log-free Robertson
    idf, per-term integer micro-unit contributions summed exactly, so
    the ranking is engine-exact end to end. Query terms, df, and the
    one-row corpus stats broadcast into the (doc, token) tf stream."""
    queries = local_result(
        spark,
        [("q1", "table scan fast"),
         ("q2", "join merge sort"),
         ("q3", "stream window agg group")],
        "q_id string, q_text string",
    )
    cat = load_tables(spark, sf_dir)
    return text.bm25_topk(cat.read("documents"), queries, k=5)


@register(
    "ts_lag_corr",
    """
    WITH daily AS (
      SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'click'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY 1
    ), lags AS (SELECT unnest(range(8)) AS lag_v),
    pairs AS (
      SELECT lag_v, a.x AS x, b.y AS y
      FROM daily a CROSS JOIN lags JOIN daily b ON b.d = a.d + lag_v
    ), m AS (
      SELECT CAST(lag_v AS INT) AS lag_d, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY 1
    ), d2 AS (
      SELECT lag_d, n,
             CAST(n * sxy - sx * sy AS BIGINT) AS num,
             CAST(n * sxx - sx * sx AS BIGINT) AS dx,
             CAST(n * syy - sy * sy AS BIGINT) AS dy
      FROM m
    )
    SELECT lag_d, n, num, dx, dy,
           CASE WHEN dx > 0 AND dy > 0
                THEN CAST(num AS DOUBLE)
                     / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE)))
           END AS r
    FROM d2
    """,
)
def ts_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag attribution: Pearson r between daily purchase cents and
    click cents at lags 0..7 days (operators/timeseries.lag_corr). All
    five moments are exact BIGINT sums; r is one IEEE-exact expression
    (+,-,*,/,sqrt are all correctly rounded — ln is not, and is not
    used). The daily frame is aggregate-sized, so the lag self-join is
    broadcast-tiny; the single corpus shuffle is the per-day sum."""
    from ytsaurus_spark.operators.timeseries import lag_corr

    cat = load_tables(spark, sf_dir)
    ev = cat.read("events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    daily = ev.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "click",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("y"),
    )
    out = lag_corr(daily, max_lag=7)
    return out.select(
        F.col("lag").alias("lag_d"), "n", "num", "dx", "dy", "r"
    )


@register(
    "text_textrank_keywords",
    """
    WITH t AS (
      SELECT doc_id, tok, pos FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
      WHERE length(tok) > 0
    ), co AS (
      SELECT a.tok AS src, b.tok AS dst
      FROM t a JOIN t b
        ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
       AND a.tok <> b.tok
    ), edges AS (
      SELECT src, dst FROM co UNION ALL SELECT dst AS src, src AS dst FROM co
    ), nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), nn AS (SELECT count(*) * 1.0 AS n FROM nodes),
    outdeg AS (SELECT src AS node, count(*) * 1.0 AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
    c1 AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS recv
           FROM r0 r JOIN outdeg d ON r.node = d.node
                     JOIN edges e ON e.src = r.node GROUP BY e.dst),
    d1 AS (SELECT coalesce(sum(r.rank), 0) AS dm
           FROM r0 r LEFT JOIN outdeg d ON r.node = d.node WHERE d.node IS NULL),
    r1 AS (SELECT nodes.node,
                  0.15 / nn.n + 0.85 * (coalesce(recv, 0) + d1.dm / nn.n) AS rank
           FROM nodes LEFT JOIN c1 ON nodes.node = c1.node, nn, d1),
    c2 AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS recv
           FROM r1 r JOIN outdeg d ON r.node = d.node
                     JOIN edges e ON e.src = r.node GROUP BY e.dst),
    d2 AS (SELECT coalesce(sum(r.rank), 0) AS dm
           FROM r1 r LEFT JOIN outdeg d ON r.node = d.node WHERE d.node IS NULL),
    r2 AS (SELECT nodes.node,
                  0.15 / nn.n + 0.85 * (coalesce(recv, 0) + d2.dm / nn.n) AS rank
           FROM nodes LEFT JOIN c2 ON nodes.node = c2.node, nn, d2),
    c3 AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS recv
           FROM r2 r JOIN outdeg d ON r.node = d.node
                     JOIN edges e ON e.src = r.node GROUP BY e.dst),
    d3 AS (SELECT coalesce(sum(r.rank), 0) AS dm
           FROM r2 r LEFT JOIN outdeg d ON r.node = d.node WHERE d.node IS NULL),
    r3 AS (SELECT nodes.node,
                  0.15 / nn.n + 0.85 * (coalesce(recv, 0) + d3.dm / nn.n) AS rank
           FROM nodes LEFT JOIN c3 ON nodes.node = c3.node, nn, d3)
    SELECT node AS tok, round(rank, 6) AS rank,
           CAST(row_number() OVER (ORDER BY round(rank, 6) DESC, node)
                AS INT) AS kw_rank
    FROM r3
    """,
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): damped
    PageRank over the symmetric token co-occurrence graph (window <= 2),
    parallel edges acting as co-occurrence weights — reuses
    operators/graph.pagerank (3 synchronous passes, d=0.85), so the
    per-iteration shape is the same two src/dst-keyed shuffles; the
    positional self-join building edges is doc-keyed and window-banded
    (|tokens|·window, never quadratic). Ranks round to 1e-6 before the
    keyword ordering, so the row_number is taken over engine-identical
    values; the final ordering window is vocabulary-sized (aggregate
    scale), not corpus-sized."""
    from ytsaurus_spark.operators.graph import pagerank

    cat = load_tables(spark, sf_dir)
    # persisted: the positional self-join + symmetric union would
    # otherwise re-derive the token stream 4x from the corpus scan
    toks = cat.read("documents").select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    ).filter(F.length("tok") > 0).select("doc_id", "tok", "pos").transform(materialize)
    a = toks.select(
        F.col("doc_id").alias("da"), F.col("tok").alias("ta"),
        F.col("pos").alias("pa"),
    )
    b = toks.select(
        F.col("doc_id").alias("db"), F.col("tok").alias("tb"),
        F.col("pos").alias("pb"),
    )
    co = a.join(
        b,
        (F.col("da") == F.col("db"))
        & ((F.col("pb") - F.col("pa")).between(1, 2))
        & (F.col("ta") != F.col("tb")),
    ).select(F.col("ta").alias("src"), F.col("tb").alias("dst"))
    edges = co.union(
        co.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(edges, iterations=3, damping=0.85)
    from pyspark.sql import Window as W

    from ytsaurus_spark.operators.curation import prefix_sum

    # Global keyword rank WITHOUT a global window: ranks quantize to
    # exact micro-integers (they were just rounded to 1e-6), the
    # value-grain histogram prefix-sums tokens with strictly GREATER
    # rank (hierarchical prefix_sum, no unpartitioned level), and the
    # residual row_number partitions by the rank value — so
    # kw_rank = row_number() OVER (ORDER BY rank DESC, tok) exactly,
    # but every window in the plan is partitioned (vocab-scale safe).
    ranked = pr.select(
        F.col("node").alias("tok"), F.round("rank", 6).alias("rank")
    ).withColumn(
        "rm", F.floor(F.col("rank") * F.lit(1e6) + F.lit(0.5)).cast("long")
    )  # hist and the final join both read pagerank's last (cut) round
    hist = (
        ranked.groupBy("rm")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("nk", -F.col("rm"))
    )
    off = prefix_sum(hist, "nk", "c", out_col="off").select("rm", "off")
    w = W.partitionBy("rm").orderBy("tok")
    return (
        ranked.join(off, "rm")  # co-partitioned on rm with the window
        .withColumn(
            "kw_rank", (F.col("off") + F.row_number().over(w)).cast("int")
        )
        .select("tok", "rank", "kw_rank")
    )


@register(
    "sim_mips_topk",
    """
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings
    ), s AS (
      SELECT q_id, c_id, list_dot_product(qv, cv) AS dot
      FROM q, c WHERE q_id <> c_id
    ), r AS (
      SELECT q_id, c_id, dot,
             row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, c_id)
               AS rnk
      FROM s
    )
    SELECT q_id, c_id, round(dot, 4) AS dot, CAST(rnk AS INT) AS rank
    FROM r WHERE rnk <= 5
    """,
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-5 (operators/similarity.mips_topk) —
    the recommendation/reward scoring mode where magnitude matters.
    Same broadcast-queries shape and sequential-fold dot as cosine_topk;
    the order-preserving augmentation to cosine (so the LSH/IVF indexes
    serve MIPS unchanged at 100 TB) is unit-tested in test_llm_ops."""
    cat = load_tables(spark, sf_dir)
    emb = cat.read("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.mips_topk(emb, queries, k=5)


@register(
    "ts_seasonal_decompose",
    """
    WITH daily AS (
      SELECT event_type AS k,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT k, d, x, CAST(d % 7 AS INT) AS phase,
             CASE WHEN count(*) OVER w7 = 7
                  THEN CAST(sum(x) OVER w7 AS BIGINT) END AS trend_p
      FROM daily
      WINDOW w7 AS (PARTITION BY k ORDER BY d
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), b2 AS (
      SELECT *, CAST(7 * x - trend_p AS BIGINT) AS detr_p FROM base
    ), pm AS (
      SELECT k, phase,
             CAST(sum(detr_p) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS s_p
      FROM b2 WHERE detr_p IS NOT NULL GROUP BY k, phase
    )
    SELECT b2.k, d, x, b2.phase, trend_p, detr_p,
           CAST(trend_p AS DOUBLE) / 7.0 AS trend,
           s_p / 7.0 AS seasonal,
           (CAST(detr_p AS DOUBLE) - s_p) / 7.0 AS resid
    FROM b2 LEFT JOIN pm ON b2.k = pm.k AND b2.phase = pm.phase
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly additive decomposition of every event type's daily cents
    series (operators/timeseries.seasonal_decompose, multi-series form):
    exact BIGINT 7-day window sums and x7-scaled detrended integers; the
    only doubles are three final correctly-rounded divisions, so
    trend/seasonal/residual are engine-identical without any rounding
    wrapper. Every window PARTITIONS by the series key — the audited
    no-global-window production shape."""
    from ytsaurus_spark.operators.timeseries import seasonal_decompose

    cat = load_tables(spark, sf_dir)
    daily = (
        cat.read("events")
        .groupBy(
            F.col("event_type").alias("k"),
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    return seasonal_decompose(daily, period=7, key_col="k")


@register(
    "ts_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type AS k,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM daily GROUP BY k
    ), c AS (
      SELECT daily.k, d, x, CAST(n * x - s AS BIGINT) AS dev,
             CAST(sum(n * x - s) OVER (PARTITION BY daily.k ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cusum
      FROM daily JOIN tot ON daily.k = tot.k
    )
    SELECT k, d, x, dev, cusum,
           CAST(row_number() OVER (PARTITION BY k
                                   ORDER BY abs(cusum) DESC, d) AS INT)
             AS abs_rank
    FROM c
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift scan over every event type's daily cents series
    (operators/timeseries.cusum_changepoint, multi-metric form):
    deviations are n-scaled so dev, the running cusum, and the peak rank
    are all exact BIGINTs — zero float ops anywhere. abs_rank 1 marks
    each series' strongest changepoint candidate; the last row's cusum
    is exactly 0 per series by construction. Totals group by the series
    key and both windows PARTITION by it — no global window."""
    from ytsaurus_spark.operators.timeseries import cusum_changepoint

    cat = load_tables(spark, sf_dir)
    daily = (
        cat.read("events")
        .groupBy(
            F.col("event_type").alias("k"),
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    return cusum_changepoint(daily, key_col="k")


_PC1_CTES = """el AS (
      SELECT vid, i - 1 AS i, CAST(round(u * 127) AS BIGINT) AS c
      FROM (SELECT vec_id AS vid, unnest(embedding::DOUBLE[]) AS u,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ), stats AS (
      SELECT i, CAST(sum(c) AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS n
      FROM el GROUP BY i
    ), y AS (
      SELECT vid, el.i AS i, CAST(n * c - m AS BIGINT) AS y
      FROM el JOIN stats ON el.i = stats.i
    ), cov AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.y * b.y) AS BIGINT) AS cv
      FROM y a JOIN y b ON a.vid = b.vid GROUP BY 1, 2
    ), maxc AS (SELECT CAST(max(abs(cv)) AS BIGINT) AS mc FROM cov),
    cf AS (
      SELECT i, j,
             CAST(CASE WHEN mc = 0 THEN 0
                  WHEN cv >= 0 THEN (cv * 1000 + mc // 2) // mc
                  ELSE -((-cv * 1000 + mc // 2) // mc) END AS BIGINT) AS cq
      FROM cov, maxc
    ),
    w1 AS (SELECT i, CAST(sum(cq) AS BIGINT) AS w FROM cf GROUP BY i),
    m1 AS (SELECT CAST(max(abs(w)) AS BIGINT) AS mw FROM w1),
    v1 AS (SELECT i AS j,
                  CAST(CASE WHEN mw = 0 THEN 0
                       WHEN w >= 0 THEN (w * 1000 + mw // 2) // mw
                       ELSE -((-w * 1000 + mw // 2) // mw) END AS BIGINT) AS v
           FROM w1, m1),
    w2 AS (SELECT cf.i AS i, CAST(sum(cq * v) AS BIGINT) AS w
           FROM cf JOIN v1 ON cf.j = v1.j GROUP BY cf.i),
    m2 AS (SELECT CAST(max(abs(w)) AS BIGINT) AS mw FROM w2),
    v2 AS (SELECT i AS j,
                  CAST(CASE WHEN mw = 0 THEN 0
                       WHEN w >= 0 THEN (w * 1000 + mw // 2) // mw
                       ELSE -((-w * 1000 + mw // 2) // mw) END AS BIGINT) AS v
           FROM w2, m2),
    w3 AS (SELECT cf.i AS i, CAST(sum(cq * v) AS BIGINT) AS w
           FROM cf JOIN v2 ON cf.j = v2.j GROUP BY cf.i),
    m3 AS (SELECT CAST(max(abs(w)) AS BIGINT) AS mw FROM w3),
    v3 AS (SELECT i AS j,
                  CAST(CASE WHEN mw = 0 THEN 0
                       WHEN w >= 0 THEN (w * 1000 + mw // 2) // mw
                       ELSE -((-w * 1000 + mw // 2) // mw) END AS BIGINT) AS v
           FROM w3, m3)"""


@register(
    "sim_power_iteration_pc1",
    "WITH " + _PC1_CTES + """
    SELECT CAST(v1.j AS INT) AS dim, v1.v AS v1, v2.v AS v2, v3.v AS v3
    FROM v1 JOIN v2 ON v1.j = v2.j JOIN v3 ON v1.j = v3.j
    """,
)
def sim_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal direction of the embedding cloud by fixed-point
    power iteration (operators/similarity.power_iteration_pc1): int8
    quantization, n-scaled integer centering, exact BIGINT covariance,
    and pure-integer half-up renormalization each pass — the whitening /
    drift diagnostic with zero float summations, so all three iterates
    hash identically cross-engine. The oracle unrolls the same three
    passes as CTEs."""
    cat = load_tables(spark, sf_dir)
    return similarity.power_iteration_pc1(cat.read("embeddings"), iterations=3)


@register(
    "sim_hybrid_rrf",
    """
    WITH qd AS (
      SELECT doc_id AS q_id, text AS q_text FROM documents WHERE doc_id < 5
    ),
    w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), wf AS (SELECT doc_id, tok FROM w WHERE length(tok) > 0),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM wf GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM wf GROUP BY 1
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ), df_t AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ), qt AS (
      SELECT DISTINCT q_id, tok FROM (
        SELECT q_id, unnest(string_split(q_text, ' ')) AS tok FROM qd)
      WHERE length(tok) > 0
    ), m AS (
      SELECT qt.q_id, tf.doc_id,
             CAST(round(
               ((CAST(n_docs - df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5))
               * (CAST(tf AS DOUBLE) * 2.2
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))
               * 1e6) AS BIGINT) AS micro
      FROM qt JOIN tf USING (tok) JOIN df_t USING (tok)
              JOIN dl USING (doc_id), stats
      WHERE tf.doc_id <> qt.q_id
    ), s AS (
      SELECT q_id, doc_id, CAST(sum(micro) AS BIGINT) AS score_micros
      FROM m GROUP BY 1, 2
    ), br AS (
      SELECT q_id, doc_id AS c_id,
             CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY score_micros DESC, doc_id) AS INT) AS rk_b
      FROM s
    ), bleg AS (
      SELECT q_id, c_id, rk_b FROM br WHERE rk_b <= 10
    ),
    qv AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qvec
      FROM embeddings WHERE vec_id < 5
    ), cv AS (
      SELECT vec_id AS c_id, embedding::DOUBLE[] AS cvec FROM embeddings
    ), cs AS (
      SELECT q_id, c_id,
             list_dot_product(qvec, cvec) /
               sqrt(list_dot_product(qvec, qvec)
                    * list_dot_product(cvec, cvec)) AS cos
      FROM qv, cv WHERE q_id <> c_id
    ), cr AS (
      SELECT q_id, c_id,
             CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, c_id) AS INT) AS rk_c
      FROM cs
    ), cleg AS (SELECT q_id, c_id, rk_c FROM cr WHERE rk_c <= 10),
    fused AS (
      SELECT q_id, c_id, rk_b, rk_c,
             coalesce(1.0 / (60 + rk_b), 0)
               + coalesce(1.0 / (60 + rk_c), 0) AS rrf
      FROM bleg FULL JOIN cleg USING (q_id, c_id)
    )
    SELECT q_id, c_id, rk_b, rk_c, rrf,
           CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY rrf DESC, c_id) AS INT) AS rk
    FROM fused QUALIFY rk <= 5
    """,
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid query-by-example retrieval with reciprocal-rank fusion
    (Cormack et al. 2009): a lexical BM25 leg (the query is the example
    document's own text) and a dense cosine leg over the aligned
    embedding, fused by rrf = Σ 1/(60 + rank) and re-ranked — the
    standard RAG retrieval stack as one declarative plan. Both legs
    exclude the query's own document BEFORE ranking (bm25_topk's
    exclude_self mirrors cosine_topk's native behavior), so the two
    rank scales are aligned for fusion. Both legs are
    the existing operators' shapes (posting-bounded BM25; broadcast
    cosine); the fusion is a top-10 × top-10 full outer join at
    (query, candidate) grain, and the two-term rrf sum is a fixed-order
    expression over exact small-integer divisions, so scores and the
    fused ranking are engine-exact."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    emb = cat.read("embeddings")
    qdocs = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("q_id"), F.col("text").alias("q_text")
    )
    bleg = (
        text.bm25_topk(docs, qdocs, k=10, exclude_self=True)
        .select("q_id", F.col("doc_id").alias("c_id"), F.col("rk").alias("rk_b"))
    )
    cleg = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10
    ).select("q_id", "c_id", F.col("rank").alias("rk_c"))
    fused = bleg.join(cleg, ["q_id", "c_id"], "full").withColumn(
        "rrf",
        F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rk_b")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rk_c")), F.lit(0.0)),
    )
    from pyspark.sql import Window as W

    rk_w = W.partitionBy("q_id").orderBy(F.col("rrf").desc(), F.col("c_id"))
    return (
        fused.withColumn("rk", F.row_number().over(rk_w).cast("int"))
        .filter(F.col("rk") <= 5)
        .select("q_id", "c_id", "rk_b", "rk_c", "rrf", "rk")
    )


@register(
    "ts_rolling_median",
    """
    WITH daily AS (
      SELECT event_type AS k,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    )
    SELECT k, d, x,
           CASE WHEN count(*) OVER w7 = 7
                THEN CAST(list_sort(list(x) OVER w7)[4] AS BIGINT) END AS med
    FROM daily
    WINDOW w7 AS (PARTITION BY k ORDER BY d
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    """,
)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 7-day rolling median of every event type's daily cents
    series (operators/timeseries.rolling_median, multi-series form):
    exact integer ELEMENT selection from the sorted window list — no
    interpolation, no floats — so the robust-smoothed series is
    engine-identical. Incomplete edge windows stay null on both sides;
    the window PARTITIONS by the series key — no global window."""
    from ytsaurus_spark.operators.timeseries import rolling_median

    cat = load_tables(spark, sf_dir)
    daily = (
        cat.read("events")
        .groupBy(
            F.col("event_type").alias("k"),
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    return rolling_median(daily, window=7, key_col="k")


@register(
    "sim_pc1_drift_by_label",
    "WITH " + _PC1_CTES + """,
    vz AS (SELECT j AS i, v FROM v3),
    proj AS (
      SELECT vid, CAST(sum(y * v) AS BIGINT) AS proj
      FROM y JOIN vz ON y.i = vz.i GROUP BY vid
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(proj) AS BIGINT) AS sum_proj,
           CAST(floor(CAST(sum(proj) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                      + 0.5) AS BIGINT) AS mean_proj
    FROM proj JOIN embeddings ON proj.vid = embeddings.vec_id
    GROUP BY label
    """,
)
def sim_pc1_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift by segment
    (operators/similarity.pc1_project_by_label): each centered vector's
    exact integer projection onto the fixed-point leading principal
    direction, aggregated per label — the "which segment moved along
    the main axis" diagnostic. The oracle reuses the pc1 CTE chain and
    adds the projection + label rollup; sums are exact BIGINTs and the
    mean is one half-up floor over explicit double division."""
    cat = load_tables(spark, sf_dir)
    return similarity.pc1_project_by_label(cat.read("embeddings"), iterations=3)


@register(
    "eval_quality_auc",
    """
    WITH t AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS toks
      FROM documents
    ), f AS (
      SELECT lang,
             CAST(floor(len(list_filter(toks,
                   w -> list_contains(['the','a','of','and','to','in'], w)))
               * 1.0 / len(toks) * 10000 + 0.5) AS BIGINT) / 10000.0
               AS stop_ratio,
             CAST(floor(len(list_distinct(toks)) * 1.0 / len(toks) * 10000
               + 0.5) AS BIGINT) / 10000.0 AS ttr,
             CAST(floor(((length(text) - (len(toks) - 1)) * 1.0 / len(toks))
               / 10.0 * 10000 + 0.5) AS BIGINT) / 10000.0 AS mean_len,
             CAST(floor((length(text)
               - length(regexp_replace(text, '[0-9]', '', 'g')))
               * 1.0 / length(text) * 10000 + 0.5) AS BIGINT) / 10000.0
               AS digit_ratio,
             CAST(floor(least(length(text) / 1000.0, 1.0) * 10000 + 0.5)
               AS BIGINT) / 10000.0 AS len_norm
      FROM t
    ), s AS (
      SELECT lang = 'en' AS pos,
             CAST(floor((2.0 * stop_ratio + 1.5 * ttr - 0.8 * mean_len
                         - 3.0 * digit_ratio + 0.5 * len_norm - 0.5)
                        * 10000 + 0.5) AS BIGINT) AS sc
      FROM f
    ), g AS (
      SELECT sc,
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_g,
             CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_g
      FROM s GROUP BY sc
    ), c AS (
      SELECT pos_g, neg_g,
             CAST(coalesce(sum(neg_g) OVER (ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS neg_below
      FROM g
    )
    SELECT CAST(sum(pos_g) AS BIGINT) AS n_pos,
           CAST(sum(neg_g) AS BIGINT) AS n_neg,
           CAST(sum(pos_g * (2 * neg_below + neg_g)) AS BIGINT) AS u2,
           CAST(floor(CAST(sum(pos_g * (2 * neg_below + neg_g)) AS DOUBLE)
                / (2 * sum(pos_g) * sum(neg_g)) * 1e6 + 0.5) AS BIGINT)
             / 1e6 AS auc
    FROM c
    """,
)
def eval_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation AUC (operators/text.auc): exact
    Mann-Whitney AUC of the frozen quality-classifier logit
    (text.classifier_score) as a predictor of lang = 'en', computed at
    score grain with the hierarchical prefix sum — no global row rank,
    exact tie handling via the doubled-U identity. The oracle rebuilds
    the feature chain and the grouped U from scratch, so a feature,
    quantization, or prefix-sum bug breaks the hash."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    scored = text.classifier_score(docs, extra_cols=("lang",)).select(
        F.round(F.col("quality_logit") * 10000).cast("long").alias("sc"),
        (F.col("lang") == "en").alias("pos"),
    )
    return text.auc(scored, "sc", "pos")


@register(
    "sim_label_centroid_matrix",
    """
    WITH el AS (
      SELECT label AS lab, i - 1 AS i,
             CAST(round(u * 127) AS BIGINT) AS c
      FROM (SELECT label, unnest(embedding::DOUBLE[]) AS u,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ), cent AS (
      SELECT lab, i, CAST(sum(c) AS BIGINT) AS s FROM el GROUP BY lab, i
    ), norms AS (
      SELECT lab, CAST(sum(s * s) AS BIGINT) AS n2 FROM cent GROUP BY lab
    ), dots AS (
      SELECT a.lab AS label_a, b.lab AS label_b,
             CAST(sum(a.s * b.s) AS BIGINT) AS dot
      FROM cent a JOIN cent b ON a.i = b.i AND a.lab < b.lab
      GROUP BY a.lab, b.lab
    )
    SELECT label_a, label_b, dot,
           CAST(floor(CAST(dot AS DOUBLE)
                / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
                * 1e6 + 0.5) AS BIGINT) / 1e6 AS cos
    FROM dots
    JOIN norms na ON na.lab = dots.label_a
    JOIN norms nb ON nb.lab = dots.label_b
    """,
)
def sim_label_centroid_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids
    (operators/similarity.label_centroid_similarity): the
    cluster/source-proximity audit. The 1/n factors cancel in cosine,
    so the matrix computes on exact BIGINT sums of int8 codes — the
    corpus collapses in ONE (label, dim) aggregate; pair dots, norms,
    and the final sqrt run on the broadcast labels×dims frame. The
    label columns keep the fixture's INT type on both engines."""
    cat = load_tables(spark, sf_dir)
    return similarity.label_centroid_similarity(cat.read("embeddings"))


@register(
    "text_zipf_fit",
    """
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), v AS (
      SELECT tok, count(*) AS c FROM w WHERE length(tok) > 0 GROUP BY tok
    ), b AS (
      SELECT c, CAST(count(*) AS BIGINT) AS nw FROM v GROUP BY c
    ), r AS (
      SELECT c, nw,
             1 + coalesce(sum(nw) OVER (ORDER BY c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS minrank
      FROM b
    ), p AS (
      SELECT nw AS wgt,
             CAST(length(bin(minrank)) - 1 AS BIGINT) AS x,
             CAST(length(bin(c)) - 1 AS BIGINT) AS y
      FROM r
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_bands,
             CAST(sum(wgt) AS BIGINT) AS sw,
             CAST(sum(wgt * x) AS BIGINT) AS sx,
             CAST(sum(wgt * y) AS BIGINT) AS sy,
             CAST(sum(wgt * x * x) AS BIGINT) AS sxx,
             CAST(sum(wgt * x * y) AS BIGINT) AS sxy
      FROM p
    )
    SELECT n_bands, sw AS n_words,
           CAST(floor(CAST(sw * sxy - sx * sy AS DOUBLE) * 1e6
                / CAST(sw * sxx - sx * sx AS DOUBLE) + 0.5) AS BIGINT)
             / 1e6 AS slope,
           CAST(floor(CAST(sy * sxx - sx * sxy AS DOUBLE) * 1e6
                / CAST(sw * sxx - sx * sx AS DOUBLE) + 0.5) AS BIGINT)
             / 1e6 AS intercept
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostic (operators/text.zipf_fit):
    weighted least-squares slope of whole-bit log2(count) vs
    log2(rank) over count-grain vocabulary bands — no global rank
    window (band min-ranks come from the hierarchical prefix sum with
    key = −count), logs are digit-string floor-log2 (no libm), and the
    regression runs on exact BIGINT sums. Natural corpora fit near −1;
    template floods bend the slope — the cheap corpus-health check
    before training."""
    cat = load_tables(spark, sf_dir)
    return text.zipf_fit(cat.read("documents"))


_EVAL_FEATURES_SQL = """
    t AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS toks
      FROM documents
    ), f AS (
      SELECT lang,
             CAST(floor(len(list_filter(toks,
                   w -> list_contains(['the','a','of','and','to','in'], w)))
               * 1.0 / len(toks) * 10000 + 0.5) AS BIGINT) / 10000.0
               AS stop_ratio,
             CAST(floor(len(list_distinct(toks)) * 1.0 / len(toks) * 10000
               + 0.5) AS BIGINT) / 10000.0 AS ttr,
             CAST(floor(((length(text) - (len(toks) - 1)) * 1.0 / len(toks))
               / 10.0 * 10000 + 0.5) AS BIGINT) / 10000.0 AS mean_len,
             CAST(floor((length(text)
               - length(regexp_replace(text, '[0-9]', '', 'g')))
               * 1.0 / length(text) * 10000 + 0.5) AS BIGINT) / 10000.0
               AS digit_ratio,
             CAST(floor(least(length(text) / 1000.0, 1.0) * 10000 + 0.5)
               AS BIGINT) / 10000.0 AS len_norm
      FROM t
    ), s AS (
      SELECT lang = 'en' AS pos,
             CAST(floor((2.0 * stop_ratio + 1.5 * ttr - 0.8 * mean_len
                         - 3.0 * digit_ratio + 0.5 * len_norm - 0.5)
                        * 10000 + 0.5) AS BIGINT) AS sc
      FROM f
    )
"""


@register(
    "eval_calibration_ece",
    "WITH "
    + _EVAL_FEATURES_SQL
    + """
    , b AS (
      SELECT least(greatest(500000 + sc * 100, 0), 1000000) AS cm, pos
      FROM s
    ), g AS (
      SELECT least(cm * 10 // 1000000, 9) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(sum(cm) AS BIGINT) AS conf_micros
      FROM b GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(abs(n_pos * 1000000 - conf_micros)) AS BIGINT) AS gt
      FROM g
    )
    SELECT bin, n, n_pos, conf_micros,
           CAST(floor(CAST(n_pos * 1000000 AS DOUBLE) / CAST(n AS DOUBLE)
                + 0.5) AS BIGINT) / 1e6 AS acc,
           CAST(floor(CAST(conf_micros AS DOUBLE) / CAST(n AS DOUBLE)
                + 0.5) AS BIGINT) / 1e6 AS conf,
           abs(CAST(floor(CAST(n_pos * 1000000 AS DOUBLE) / CAST(n AS DOUBLE)
                     + 0.5) AS BIGINT)
               - CAST(floor(CAST(conf_micros AS DOUBLE) / CAST(n AS DOUBLE)
                     + 0.5) AS BIGINT)) / 1e6 AS gap,
           CAST(floor(CAST(gt AS DOUBLE) / CAST(nt AS DOUBLE) + 0.5)
                AS BIGINT) / 1e6 AS ece
    FROM g, tot
    ORDER BY bin
    """,
)
def eval_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table + ECE of the frozen quality classifier as a
    predictor of lang = 'en' (operators/text.calibration_ece): the
    calibration audit a corpus-gating classifier gets before its
    threshold is trusted. Confidence is the integral linear squash of
    the quantized logit (sigmoid's exp() diverges between libms), bins
    accumulate exact BIGINT (n, n_pos, Σconf), and the ECE numerator is
    an exact integer — one corpus shuffle at ≤10-bin grain, partial-
    agged. The oracle rebuilds features, squash, binning, and the ECE
    identity from scratch."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    scored = text.classifier_score(docs, extra_cols=("lang",)).select(
        F.round(F.col("quality_logit") * 10000).cast("long").alias("sc"),
        (F.col("lang") == "en").alias("pos"),
    )
    return text.calibration_ece(scored, "sc", "pos", bins=10, slope=100)


@register(
    "eval_confusion_f1",
    "WITH "
    + _EVAL_FEATURES_SQL
    + """
    , cm AS (
      SELECT CAST(sum(CASE WHEN sc >= 0 AND pos THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(sum(CASE WHEN sc >= 0 AND NOT pos THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(sum(CASE WHEN sc < 0 AND pos THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn,
             CAST(sum(CASE WHEN sc < 0 AND NOT pos THEN 1 ELSE 0 END)
                  AS BIGINT) AS tn
      FROM s
    ), r AS (
      SELECT 'pos' AS cls, tp AS c_tp, fp AS c_fp, fn AS c_fn FROM cm
      UNION ALL
      SELECT 'neg' AS cls, tn AS c_tp, fn AS c_fp, fp AS c_fn FROM cm
    )
    SELECT cls, c_tp AS tp, c_fp AS fp, c_fn AS fn,
           CASE WHEN c_tp + c_fp = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(c_tp AS DOUBLE) * 1e6
                     / CAST(c_tp + c_fp AS DOUBLE) + 0.5) AS BIGINT)
           END / 1e6 AS precision,
           CASE WHEN c_tp + c_fn = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(c_tp AS DOUBLE) * 1e6
                     / CAST(c_tp + c_fn AS DOUBLE) + 0.5) AS BIGINT)
           END / 1e6 AS recall,
           CASE WHEN 2 * c_tp + c_fp + c_fn = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(2 * c_tp AS DOUBLE) * 1e6
                     / CAST(2 * c_tp + c_fp + c_fn AS DOUBLE) + 0.5)
                     AS BIGINT)
           END / 1e6 AS f1
    FROM r
    ORDER BY cls DESC
    """,
)
def eval_confusion_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded-classifier confusion matrix with per-class
    precision/recall/F1 (operators/text.confusion_stats): logit >= 0
    predicts lang = 'en'. One exact-count aggregate pivots to a 'pos'
    and a 'neg' row (macro-average ready); F1 uses the 2tp/(2tp+fp+fn)
    identity so no intermediate P/R rounding enters. The oracle
    recomputes the features and all four cells independently."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    scored = text.classifier_score(docs, extra_cols=("lang",)).select(
        F.round(F.col("quality_logit") * 10000).cast("long").alias("sc"),
        (F.col("lang") == "en").alias("pos"),
    )
    return text.confusion_stats(scored, "sc", "pos", threshold=0)


@register(
    "eval_precision_recall_at_k",
    """
    WITH el AS (
      SELECT vec_id, i - 1 AS i, CAST(round(u * 127) AS BIGINT) AS c
      FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS u,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ), d AS (
      SELECT q.vec_id AS q_id, e.vec_id AS c_id,
             CAST(sum(q.c * e.c) AS BIGINT) AS dot
      FROM (SELECT * FROM el WHERE vec_id % 37 = 0) q
      JOIN el e ON q.i = e.i AND e.vec_id <> q.vec_id
      GROUP BY q.vec_id, e.vec_id
    ), r AS (
      SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY dot DESC, c_id) AS rk
      FROM d
    ), h AS (
      SELECT q_id, ql.label AS q_lab,
             CAST(sum(CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits
      FROM r
      JOIN embeddings cl ON cl.vec_id = r.c_id
      JOIN embeddings ql ON ql.vec_id = r.q_id
      WHERE rk <= 10
      GROUP BY q_id, ql.label
    ), relc AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_lab
      FROM embeddings GROUP BY label
    )
    SELECT q_lab AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(hits) AS BIGINT) AS n_hits,
           CAST(floor(CAST(sum(hits) AS DOUBLE) * 1e6
                / CAST(count(*) * 10 AS DOUBLE) + 0.5) AS BIGINT) / 1e6
             AS p_at_k,
           CASE WHEN count(*) * (any_value(n_lab) - 1) = 0
                THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(sum(hits) AS DOUBLE) * 1e6
                     / CAST(count(*) * (any_value(n_lab) - 1) AS DOUBLE)
                     + 0.5) AS BIGINT)
           END / 1e6 AS r_at_k
    FROM h JOIN relc ON relc.label = h.q_lab
    GROUP BY q_lab
    ORDER BY q_lab
    """,
)
def eval_precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro P@10 / R@10 of exact int8-code inner-product retrieval
    against label ground truth (operators/similarity.labeled_retrieval_eval)
    — the retrieval-quality eval that complements sim_ann_recall_eval's
    index-vs-exact audit (that one scores the INDEX against exact
    search; this scores exact search against LABELS). Deterministic
    query subset broadcasts; scores are exact BIGINT dots so the rank
    window never sees a float tie; the oracle recomputes ranks from the
    unnested element join."""
    cat = load_tables(spark, sf_dir)
    return similarity.labeled_retrieval_eval(
        cat.read("embeddings"), k=10, stride=37
    )


@register(
    "text_readability",
    """
    WITH per_doc AS (
      SELECT lang AS grp,
             CAST(floor((CAST(206.835 AS DOUBLE)
               - CAST(1.015 AS DOUBLE)
                 * (CAST(length(text) - length(replace(text, ' ', '')) + 1
                         AS DOUBLE)
                    / CAST(greatest(1, length(text)
                        - length(regexp_replace(text, '[.!?]', '', 'g')))
                        AS DOUBLE))
               - CAST(84.6 AS DOUBLE)
                 * (CAST(length(regexp_replace(lower(text), '[aeiouy]+',
                                               'V', 'g'))
                         - length(regexp_replace(lower(text), '[aeiouy]+',
                                                 '', 'g')) AS DOUBLE)
                    / CAST(length(text) - length(replace(text, ' ', '')) + 1
                           AS DOUBLE)))
               * 10000 + 0.5) AS BIGINT) AS fre_tt
      FROM documents
    )
    SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(floor(CAST(sum(fre_tt) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) / 1e4
             AS mean_fre,
           min(fre_tt) / 1e4 AS min_fre,
           max(fre_tt) / 1e4 AS max_fre
    FROM per_doc
    GROUP BY grp
    ORDER BY grp
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease profile per language
    (operators/text.readability): words/sentences/syllables are pure
    integer length arithmetic (syllables via the two-replacement
    vowel-group identity), the formula runs one fixed IEEE op chain per
    document and quantizes half-up to 1e−4 BEFORE the group sums, so
    aggregation is exact BIGINT. One scan, one ≤|langs|-group shuffle.
    The oracle rebuilds all three counters and the op chain verbatim."""
    cat = load_tables(spark, sf_dir)
    return text.readability(cat.read("documents"))


@register(
    "sim_silhouette",
    """
    WITH el AS (
      SELECT vec_id, label AS own, i - 1 AS i,
             CAST(round(u * 127) AS BIGINT) AS c
      FROM (SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS u,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ), nl AS (
      SELECT label AS lab, CAST(count(*) AS BIGINT) AS n
      FROM embeddings GROUP BY 1
    ), cent AS (
      SELECT own AS lab, i, CAST(sum(c) AS BIGINT) AS s
      FROM el GROUP BY 1, 2
    ), q AS (
      SELECT e.vec_id, e.own, c.lab,
             CAST(sum((n.n * e.c - c.s) * (n.n * e.c - c.s)) AS BIGINT)
               AS qq,
             any_value(n.n) AS n
      FROM el e
      JOIN cent c ON c.i = e.i
      JOIN nl n ON n.lab = c.lab
      GROUP BY e.vec_id, e.own, c.lab
    ), d AS (
      SELECT vec_id, own, lab,
             sqrt(CAST(qq AS DOUBLE)) / CAST(n AS DOUBLE) AS d
      FROM q
    ), ab AS (
      SELECT vec_id, own,
             min(CASE WHEN lab = own THEN d END) AS a,
             min(CASE WHEN lab <> own THEN d END) AS b
      FROM d GROUP BY vec_id, own
    ), sil AS (
      SELECT own,
             CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor((b - a) / greatest(a, b) * 1e6 + 0.5)
                            AS BIGINT)
             END AS sm
      FROM ab
    )
    SELECT own AS label, CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(sm) AS BIGINT) AS sil_micros_sum,
           CAST(floor(CAST(sum(sm) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                + 0.5) AS BIGINT) / 1e6 AS mean_silhouette
    FROM sil
    GROUP BY own
    ORDER BY own
    """,
)
def sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid silhouette per label
    (operators/similarity.centroid_silhouette): cluster-separation
    quality of the label partition — a = distance to own centroid, b =
    nearest other centroid, silhouette (b−a)/max(a,b) with the n-scaled
    integer distance identity so the only floats are one sqrt + one
    divide per (point, label). Centroids broadcast; corpus-grain work is
    a single N·d·L partial-agged aggregate. The oracle rebuilds the
    element sums, the scaled distances, and the per-point quantization
    from scratch."""
    cat = load_tables(spark, sf_dir)
    return similarity.centroid_silhouette(cat.read("embeddings"))


_GOPHER_FLAGS_SQL = """
    base AS (
      SELECT string_split(text, ' ') AS w,
             string_split(text, chr(10)) AS l,
             length(text) - length(replace(text, '#', '')) AS n_hash
      FROM documents
    ), m AS (
      SELECT CAST(len(w) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
               AS sum_word_len,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
               AS BIGINT) AS n_alpha_words,
             CAST(len(list_intersect(list_distinct(w),
               ['the','be','to','of','and','that','have','with']))
               AS BIGINT) AS n_stop_kinds,
             CAST(len(l) AS BIGINT) AS n_lines,
             CAST(len(list_filter(l, x -> regexp_matches(x, '^[-*]')))
               AS BIGINT) AS n_bullet_lines,
             CAST(len(list_filter(l, x -> regexp_matches(x, '\\.\\.\\.$')))
               AS BIGINT) AS n_ellipsis_lines,
             CAST(n_hash AS BIGINT) AS n_hash_symbols
      FROM base
    ), fl AS (
      SELECT (n_words >= 50 AND n_words <= 100000) AS g1,
             (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words)
               AS g2,
             (10 * n_hash_symbols <= n_words) AS g3,
             (10 * n_bullet_lines < 9 * n_lines) AS g4,
             (10 * n_ellipsis_lines < 3 * n_lines) AS g5,
             (5 * n_alpha_words >= 4 * n_words) AS g6,
             (n_stop_kinds >= 2) AS g7
      FROM m
    )
"""

_GOPHER_GATE_NAMES = (
    "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio", "ok_bullets",
    "ok_ellipsis", "ok_alpha", "ok_stopwords",
)


def _attrition_oracle_sql() -> str:
    reach = "TRUE"
    selects = []
    for i, name in enumerate(_GOPHER_GATE_NAMES, start=1):
        selects.append(
            f"SELECT {i} AS stage, '{name}' AS gate,\n"
            f"  CAST(sum(CASE WHEN {reach} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_in,\n"
            f"  CAST(sum(CASE WHEN {reach} AND NOT g{i} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS n_fail\n"
            f"FROM fl"
        )
        reach = f"{reach} AND g{i}" if reach != "TRUE" else f"g{i}"
    union = "\nUNION ALL\n".join(selects)
    return (
        "WITH " + _GOPHER_FLAGS_SQL + f", stages AS ({union})\n"
        "SELECT CAST(stage AS INT) AS stage, gate, n_in, n_fail,\n"
        "  CAST(n_in - n_fail AS BIGINT) AS n_out,\n"
        "  CASE WHEN n_in = 0 THEN CAST(0 AS BIGINT)\n"
        "       ELSE CAST(floor(CAST(n_fail AS DOUBLE) * 1e6\n"
        "            / CAST(n_in AS DOUBLE) + 0.5) AS BIGINT)\n"
        "  END AS fail_ppm\n"
        "FROM stages ORDER BY stage"
    )


@register("curation_filter_attrition", _attrition_oracle_sql())
def curation_filter_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-by-gate attrition waterfall of the Gopher filter pipeline
    (operators/curation.filter_attrition over text.gopher_rules): which
    filter eats the corpus — n_in (docs that passed all earlier gates),
    n_fail, n_out, and fail_ppm per gate in pipeline order. ONE
    aggregate of 2·|gates| conditional sums over the integer-only rule
    projection — zero joins, one all-to-one exchange, pivot via stack()
    on the single aggregate row. The oracle rebuilds every rule and the
    cumulative reach logic as a UNION ALL over the flags CTE."""
    from ytsaurus_spark.operators.curation import filter_attrition

    cat = load_tables(spark, sf_dir)
    flags = text.gopher_rules(cat.read("documents"))
    return filter_attrition(flags, list(_GOPHER_GATE_NAMES))


@register(
    "ts_downsample_lttb",
    """
    WITH ev AS (
      SELECT event_type AS series, event_id AS pid,
             epoch_us(ts) // 1000000 AS xs,
             CAST(round(value * 100) AS BIGINT) AS yc
      FROM events
    ), rng AS (
      SELECT series, min(xs) AS mn, max(xs) AS mx FROM ev GROUP BY 1
    ), pts AS (
      SELECT ev.series, pid, xs - mn AS x, yc,
             greatest(1, (mx - mn) // 32 + 1) AS span,
             (xs - mn) // greatest(1, (mx - mn) // 32 + 1) AS bucket
      FROM ev JOIN rng ON rng.series = ev.series
    ), bag AS (
      SELECT series, bucket,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(yc) AS BIGINT) AS sy,
             any_value(span) AS span
      FROM pts GROUP BY 1, 2
    ), anch AS (
      SELECT series, bucket, span,
             lag(bucket) OVER w AS b_p, lag(c) OVER w AS c_p,
             lag(sy) OVER w AS sy_p,
             lead(bucket) OVER w AS b_n, lead(c) OVER w AS c_n,
             lead(sy) OVER w AS sy_n
      FROM bag
      WINDOW w AS (PARTITION BY series ORDER BY bucket)
    ), j AS (
      SELECT p.series, p.bucket, p.pid, p.x, p.yc,
             abs(((2 * b_p + 1) * a.span - (2 * b_n + 1) * a.span) * c_n
                   * (p.yc * c_p - sy_p)
                 - ((2 * b_p + 1) * a.span - 2 * p.x)
                   * (sy_n * c_p - sy_p * c_n)) AS area2
      FROM pts p
      JOIN anch a ON a.series = p.series AND a.bucket = p.bucket
      WHERE b_p IS NOT NULL AND b_n IS NOT NULL
    ), rk AS (
      SELECT *, row_number() OVER (PARTITION BY series, bucket
                                   ORDER BY area2 DESC, pid) AS r
      FROM j
    )
    SELECT series, CAST(bucket AS BIGINT) AS bucket, pid AS id,
           x AS x_s, yc AS val_cents, CAST(area2 AS BIGINT) AS area2
    FROM rk WHERE r = 1
    ORDER BY series, bucket
    """,
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel fixed-anchor LTTB downsampling of the events series
    (operators/timeseries.lttb_downsample): one shape-preserving point
    per interior bucket per event type, selected by exact BIGINT
    triangle cross products (count-scaled mean anchors, 2x-scaled
    bucket centers — no float enters the argmax). One bucket-grain
    aggregate + lag/lead window (≤ series·32 rows) broadcasts back
    onto the points; one per-bucket rank window. The oracle unrolls
    the identical rebasing, bucketing, and area algebra."""
    cat = load_tables(spark, sf_dir)
    return timeseries.lttb_downsample(cat.read("events"), n_buckets=32)


@register(
    "sim_matryoshka_recall",
    """
    WITH el AS (
      SELECT vec_id, i - 1 AS i, CAST(round(u * 127) AS BIGINT) AS c
      FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS u,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ), d AS (
      SELECT q.vec_id AS q_id, e.vec_id AS c_id,
             CAST(sum(q.c * e.c) AS BIGINT) AS dot_full,
             CAST(sum(CASE WHEN q.i < 16 THEN q.c * e.c ELSE 0 END)
                  AS BIGINT) AS dot_trunc
      FROM (SELECT * FROM el WHERE vec_id % 41 = 0) q
      JOIN el e ON q.i = e.i AND e.vec_id <> q.vec_id
      GROUP BY q.vec_id, e.vec_id
    ), r AS (
      SELECT q_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY dot_full DESC, c_id) AS rk_f,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY dot_trunc DESC, c_id) AS rk_t
      FROM d
    ), agg AS (
      SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_q,
             CAST(sum(CASE WHEN rk_f <= 1 AND rk_t <= 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS h_1,
             CAST(sum(CASE WHEN rk_f <= 5 AND rk_t <= 5 THEN 1 ELSE 0 END)
                  AS BIGINT) AS h_5,
             CAST(sum(CASE WHEN rk_f <= 10 AND rk_t <= 10 THEN 1 ELSE 0 END)
                  AS BIGINT) AS h_10
      FROM r WHERE rk_f <= 10 OR rk_t <= 10
    ), rows_k AS (
      SELECT 1 AS k, n_q, h_1 AS n_hits FROM agg
      UNION ALL SELECT 5, n_q, h_5 FROM agg
      UNION ALL SELECT 10, n_q, h_10 FROM agg
    )
    SELECT CAST(k AS INT) AS k, CAST(16 AS INT) AS trunc_dim,
           n_q AS n_queries, n_hits,
           CAST(floor(CAST(n_hits AS DOUBLE) * 1e6
                / CAST(n_q * k AS DOUBLE) + 0.5) AS BIGINT) / 1e6 AS recall
    FROM rows_k
    ORDER BY k
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of 16-dim-prefix retrieval vs full 64-dim exact top-k
    (operators/similarity.matryoshka_recall): the Matryoshka audit that
    decides whether the cheap prefix index preserves neighbor structure.
    Both dots are exact BIGINT folds over ONE joined frame (no second
    corpus pass); two rank windows share it; recall@{1,5,10} pivots
    from one aggregate row. The oracle rebuilds both rankings from the
    element join with a conditional prefix sum."""
    cat = load_tables(spark, sf_dir)
    return similarity.matryoshka_recall(
        cat.read("embeddings"), k_values=(1, 5, 10), trunc_dim=16, stride=41
    )


_NDCG_W_SQL = "[" + ", ".join(
    str(x) for x in (1000000, 630930, 500000, 430677, 386853,
                     356207, 333333, 315465, 301030, 289065)
) + "]"
_NDCG_IDEAL_SQL = "[" + ", ".join(
    str(x) for x in (1000000, 1630930, 2130930, 2561607, 2948460,
                     3304667, 3638000, 3953465, 4254495, 4543560)
) + "]"


@register(
    "eval_ndcg_at_k",
    f"""
    WITH el AS (
      SELECT vec_id, i - 1 AS i, CAST(round(u * 127) AS BIGINT) AS c
      FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS u,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ), d AS (
      SELECT q.vec_id AS q_id, e.vec_id AS c_id,
             CAST(sum(q.c * e.c) AS BIGINT) AS dot
      FROM (SELECT * FROM el WHERE vec_id % 43 = 0) q
      JOIN el e ON q.i = e.i AND e.vec_id <> q.vec_id
      GROUP BY q.vec_id, e.vec_id
    ), r AS (
      SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY dot DESC, c_id) AS rk
      FROM d
    ), dcg AS (
      SELECT r.q_id, ql.label AS q_lab,
             CAST(sum(CASE WHEN cl.label = ql.label
                           THEN {_NDCG_W_SQL}[rk] ELSE 0 END) AS BIGINT)
               AS dcg_micros
      FROM r
      JOIN embeddings cl ON cl.vec_id = r.c_id
      JOIN embeddings ql ON ql.vec_id = r.q_id
      WHERE rk <= 10
      GROUP BY r.q_id, ql.label
    ), nl AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_lab
      FROM embeddings GROUP BY 1
    ), per_q AS (
      SELECT q_lab,
             CASE WHEN n_lab <= 1 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(CAST(dcg_micros AS DOUBLE) * 1e6
                       / CAST({_NDCG_IDEAL_SQL}[
                           least(10, greatest(1, n_lab - 1))] AS DOUBLE)
                       + 0.5) AS BIGINT)
             END AS ndcg_micros
      FROM dcg JOIN nl ON nl.label = dcg.q_lab
    )
    SELECT q_lab AS label, CAST(count(*) AS BIGINT) AS n_queries,
           CAST(floor(CAST(sum(ndcg_micros) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) / 1e6
             AS mean_ndcg
    FROM per_q
    GROUP BY q_lab
    ORDER BY q_lab
    """,
)
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro nDCG@10 of exact int8 inner-product retrieval against
    label ground truth (operators/similarity.labeled_ndcg_at_k): the
    rank-weighted eval — log2 discounts enter ONLY via the precomputed
    integer weight table (no libm), so DCG/IDCG are exact BIGINT sums
    with one half-up floor per query. Queries broadcast; candidates
    never shuffle. The oracle indexes the same literal weight arrays."""
    cat = load_tables(spark, sf_dir)
    return similarity.labeled_ndcg_at_k(
        cat.read("embeddings"), k=10, stride=43
    )


@register(
    "eval_cohens_kappa",
    """
    WITH p AS (
      SELECT lang = 'en' AS act,
             (len(list_filter(string_split(text, ' '),
                w -> list_contains(['the','a','of','and','to','in'], w)))
              * 20 >= len(string_split(text, ' '))) AS pred
      FROM documents
    ), cm AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pred AND act THEN 1 ELSE 0 END) AS BIGINT)
               AS tp,
             CAST(sum(CASE WHEN pred AND NOT act THEN 1 ELSE 0 END)
               AS BIGINT) AS fp,
             CAST(sum(CASE WHEN NOT pred AND act THEN 1 ELSE 0 END)
               AS BIGINT) AS fn,
             CAST(sum(CASE WHEN NOT pred AND NOT act THEN 1 ELSE 0 END)
               AS BIGINT) AS tn
      FROM p
    )
    SELECT n, tp, fp, fn, tn,
           CAST(floor(CAST(n * (tp + tn)
                  - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
                  AS DOUBLE) * 1e6
                / CAST(n * n
                  - ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
                  AS DOUBLE) + 0.5) AS BIGINT) / 1e6 AS kappa
    FROM cm
    """,
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the stopword-density language-ID heuristic
    (operators/text.language_id: >=5% function-word density predicts
    'en', expressed integrally as 20·hits >= tokens) and the labeled
    language — the chance-corrected inter-rater agreement that tells a
    pipeline whether a cheap classifier can stand in for labels. The
    identity kappa = (N·agree − Σ marginal products) / (N² − Σ marginal
    products) keeps numerator and denominator exact BIGINTs; one
    half-up floor. One scan, one 1-row aggregate, zero joins."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    t = F.split(F.col("text"), " ")
    stop_arr = "array('the', 'a', 'of', 'and', 'to', 'in')"
    n_stop = F.expr(
        f"size(filter(split(text, ' '), w -> array_contains({stop_arr}, w)))"
    )
    p = docs.select(
        (F.col("lang") == "en").alias("act"),
        (n_stop * 20 >= F.size(t)).alias("pred"),
    )
    cm = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("pred") & F.col("act"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("act"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("act"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~F.col("pred") & ~F.col("act"), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    marg = (F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn")) + (
        F.col("fn") + F.col("tn")
    ) * (F.col("fp") + F.col("tn"))
    return cm.select(
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        (
            F.floor(
                (F.col("n") * (F.col("tp") + F.col("tn")) - marg)
                .cast("double")
                * 1e6
                / (F.col("n") * F.col("n") - marg).cast("double")
                + F.lit(0.5)
            ).cast("long")
            / F.lit(1e6)
        ).alias("kappa"),
    )


_MRR_W_SQL = "[" + ", ".join(
    str(x) for x in (1000000, 500000, 333333, 250000, 200000,
                     166667, 142857, 125000, 111111, 100000)
) + "]"


@register(
    "eval_mrr_at_k",
    f"""
    WITH el AS (
      SELECT vec_id, i - 1 AS i, CAST(round(u * 127) AS BIGINT) AS c
      FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS u,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ), d AS (
      SELECT q.vec_id AS q_id, e.vec_id AS c_id,
             CAST(sum(q.c * e.c) AS BIGINT) AS dot
      FROM (SELECT * FROM el WHERE vec_id % 43 = 0) q
      JOIN el e ON q.i = e.i AND e.vec_id <> q.vec_id
      GROUP BY q.vec_id, e.vec_id
    ), r AS (
      SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY dot DESC, c_id) AS rk
      FROM d
    ), fr AS (
      SELECT r.q_id, ql.label AS q_lab,
             min(CASE WHEN cl.label = ql.label THEN rk END) AS first_rk
      FROM r
      JOIN embeddings cl ON cl.vec_id = r.c_id
      JOIN embeddings ql ON ql.vec_id = r.q_id
      WHERE rk <= 10
      GROUP BY r.q_id, ql.label
    ), rr AS (
      SELECT q_lab,
             CASE WHEN first_rk IS NULL THEN CAST(0 AS BIGINT)
                  ELSE CAST({_MRR_W_SQL}[first_rk] AS BIGINT)
             END AS rr_micros
      FROM fr
    )
    SELECT q_lab AS label, CAST(count(*) AS BIGINT) AS n_queries,
           CAST(floor(CAST(sum(rr_micros) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) / 1e6
             AS mean_mrr
    FROM rr
    GROUP BY q_lab
    ORDER BY q_lab
    """,
)
def eval_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro MRR@10 of exact int8 inner-product retrieval vs label
    ground truth (operators/similarity.labeled_mrr_at_k): reciprocal
    rank of the first same-label neighbor, reciprocals from the literal
    integer weight table (libm-free, same discipline as eval_ndcg_at_k).
    The oracle indexes the same literal array over recomputed ranks."""
    cat = load_tables(spark, sf_dir)
    return similarity.labeled_mrr_at_k(cat.read("embeddings"), k=10, stride=43)


@register(
    "ts_theilsen_trend",
    """
    WITH daily AS (
      SELECT event_type AS k,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.k, a.d AS xi, b.d AS xj,
             CAST(b.x - a.x AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON a.k = b.k AND a.d < b.d
    ), np AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs
              FROM pairs GROUP BY k),
    ms AS (
      SELECT k, slope, n_pairs FROM (
        SELECT pairs.k, slope, n_pairs,
               row_number() OVER (PARTITION BY pairs.k
                                  ORDER BY slope, xi, xj) AS rk
        FROM pairs JOIN np ON pairs.k = np.k
      ) WHERE rk = floor((n_pairs + 1) / 2)
    ), nn AS (SELECT k, CAST(count(*) AS BIGINT) AS n_points
              FROM daily GROUP BY k),
    resid AS (
      SELECT daily.k, n_pairs, slope,
             CAST(x AS DOUBLE) - slope * CAST(d AS DOUBLE) AS r, d AS xx
      FROM daily JOIN ms ON daily.k = ms.k
    )
    SELECT k, n_points, n_pairs,
           CAST(floor(slope * 1e6 + 0.5) AS BIGINT) / 1e6 AS slope,
           CAST(floor(r * 1e6 + 0.5) AS BIGINT) / 1e6 AS intercept
    FROM (
      SELECT resid.k, n_points, n_pairs, slope, r,
             row_number() OVER (PARTITION BY resid.k ORDER BY r, xx) AS rk
      FROM resid JOIN nn ON resid.k = nn.k
    ) WHERE rk = floor((n_points + 1) / 2)
    """,
)
def ts_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of every event type's daily cents series
    (operators/timeseries.theilsen_trend, multi-series form):
    lower-median of all pairwise slopes, then lower-median residual as
    intercept — immune to ~29% outlier days, unlike the
    Holt/least-squares trend. The O(n²) pair join runs on the
    ALREADY-AGGREGATED day frame per key (corpus reduces in one
    partial-agged shuffle first); slopes are single IEEE divisions of
    exact integers and the medians select actual elements by rank over
    KEY-PARTITIONED windows — no global window. The oracle unrolls the
    identical pair/rank chain."""
    from ytsaurus_spark.operators.timeseries import theilsen_trend

    cat = load_tables(spark, sf_dir)
    daily = (
        cat.read("events")
        .groupBy(
            F.col("event_type").alias("k"),
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    return theilsen_trend(daily, "d", "x", key_col="k")


@register(
    "eval_spearman_quality_length",
    "WITH "
    + _EVAL_FEATURES_SQL.replace(
        "SELECT lang = 'en' AS pos,",
        "SELECT nch,",
    ).replace(
        "SELECT lang,",
        "SELECT lang, length(text) AS nch,",
    )
    + """
    , sc2 AS (
      SELECT nch AS x,
             CAST(floor((2.0 * stop_ratio + 1.5 * ttr - 0.8 * mean_len
                         - 3.0 * digit_ratio + 0.5 * len_norm - 0.5)
                        * 10000 + 0.5) AS BIGINT) AS y
      FROM (SELECT nch, stop_ratio, ttr, mean_len, digit_ratio, len_norm
            FROM f) f2
    ), hx AS (
      SELECT x, CAST(count(*) AS BIGINT) AS c FROM sc2 GROUP BY x
    ), rx AS (
      SELECT x, CAST(2 * COALESCE(SUM(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS BIGINT) AS r2x
      FROM hx
    ), hy AS (
      SELECT y, CAST(count(*) AS BIGINT) AS c FROM sc2 GROUP BY y
    ), ry AS (
      SELECT y, CAST(2 * COALESCE(SUM(c) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS BIGINT) AS r2y
      FROM hy
    ), mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r2x) AS BIGINT) AS sx,
             CAST(sum(r2y) AS BIGINT) AS sy,
             CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
             CAST(sum(r2y * r2y) AS BIGINT) AS syy,
             CAST(sum(r2x * r2y) AS BIGINT) AS sxy
      FROM sc2 JOIN rx USING (x) JOIN ry USING (y)
    )
    SELECT n,
           CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                * 1e6 + 0.5) AS BIGINT) / 1e6 AS rho
    FROM mo
    """,
)
def eval_spearman_quality_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between document length
    and the frozen quality logit — "is the classifier just measuring
    length?" — computed WITHOUT a global rank window: average ranks
    come from value-grain histograms + the hierarchical prefix sum in
    the doubled-rank identity R2(v) = 2·count_below + count(v) + 1
    (integral even at ties), and ρ is Pearson over the exact BIGINT
    rank moments, combined in one fixed double op chain with a single
    half-up floor. Exact while n³ < 2^63 (≈2·10⁶ docs — beyond that,
    center the doubled ranks first; documented). One scan; two
    value-grain joins."""
    from ytsaurus_spark.operators.curation import prefix_sum

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    scored = text.classifier_score(docs, extra_cols=("n_chars",)).select(
        F.col("n_chars").cast("long").alias("x"),
        F.round(F.col("quality_logit") * 10000).cast("long").alias("y"),
    ).transform(materialize)  # histograms (x, y) + the moment aggregate share it

    def rank_map(col: str) -> DataFrame:
        h = scored.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        cum = prefix_sum(h, col, "__c", out_col="__below")
        return cum.select(
            col,
            (2 * F.col("__below") + F.col("__c") + 1)
            .cast("long")
            .alias(f"r2{col}"),
        )

    mo = (
        scored.join(rank_map("x"), "x")
        .join(rank_map("y"), "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("r2x").cast("long").alias("sx"),
            F.sum("r2y").cast("long").alias("sy"),
            F.sum(F.col("r2x") * F.col("r2x")).cast("long").alias("sxx"),
            F.sum(F.col("r2y") * F.col("r2y")).cast("long").alias("syy"),
            F.sum(F.col("r2x") * F.col("r2y")).cast("long").alias("sxy"),
        )
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    den = F.sqrt(
        (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return mo.select(
        "n",
        (
            F.floor(num / den * 1e6 + F.lit(0.5)).cast("long") / F.lit(1e6)
        ).alias("rho"),
    )


_BINSEG_SEG_SQL = """
  SELECT k, level, seg, seg_lo, seg_hi, n_seg, cp, peak_abs_cusum FROM (
    SELECT k, {level} AS level, seg, seg_lo, seg_hi, n_seg, d AS cp,
           abs(cusum) AS peak_abs_cusum,
           row_number() OVER (PARTITION BY k, seg
                              ORDER BY abs(cusum) DESC, d) AS rk
    FROM (
      SELECT s.k, s.seg, s.d, st.seg_lo, st.seg_hi, st.n_seg,
             CAST(sum(st.n_seg * s.y - st.s_seg)
                  OVER (PARTITION BY s.k, s.seg ORDER BY s.d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cusum
      FROM {src} s
      JOIN (SELECT k, seg, CAST(count(*) AS BIGINT) AS n_seg,
                   CAST(sum(y) AS BIGINT) AS s_seg,
                   CAST(min(d) AS BIGINT) AS seg_lo,
                   CAST(max(d) AS BIGINT) AS seg_hi
            FROM {src} GROUP BY k, seg) st USING (k, seg)
    )
  ) WHERE rk = 1"""


@register(
    "ts_binary_segmentation",
    """
    WITH daily AS (
      SELECT event_type AS k,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), s1 AS (SELECT k, 0 AS seg, d, y FROM daily),
    l1 AS ("""
    + _BINSEG_SEG_SQL.format(level=1, src="s1")
    + """),
    s2 AS (
      SELECT d.k, CASE WHEN d.d <= l1.cp THEN 1 ELSE 2 END AS seg, d.d, d.y
      FROM daily d JOIN l1 ON d.k = l1.k
    ),
    l2 AS ("""
    + _BINSEG_SEG_SQL.format(level=2, src="s2")
    + """)
    SELECT k, CAST(level AS INT) AS level, CAST(seg AS BIGINT) AS seg,
           seg_lo, seg_hi, n_seg, CAST(cp AS BIGINT) AS cp,
           CAST(peak_abs_cusum AS BIGINT) AS peak_abs_cusum
    FROM (SELECT * FROM l1 UNION ALL SELECT * FROM l2)
    ORDER BY k, level, seg
    """,
)
def ts_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level binary segmentation of every event type's daily cents
    series (operators/timeseries.binary_segmentation, multi-series
    form): each series' level-1 CUSUM peak splits it and each half
    reruns a segment-local n-scaled CUSUM — three changepoint candidates
    per series from one deterministic plan, every quantity an exact
    BIGINT (deviation, cusum, peak). Windows partition by (series key,
    segment) over the aggregated day grid — no global window (the bare
    level-1 ``seg = 0`` literal would constant-fold to one). The oracle
    unrolls both levels with the identical algebra."""
    from ytsaurus_spark.operators.timeseries import binary_segmentation

    cat = load_tables(spark, sf_dir)
    daily = (
        cat.read("events")
        .groupBy(
            F.col("event_type").alias("k"),
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    return binary_segmentation(daily, "d", "y", key_col="k")


@register(
    "sim_embedding_outliers",
    """
    WITH el AS (
      SELECT vec_id, label AS lab, i - 1 AS i,
             CAST(round(u * 127) AS BIGINT) AS c
      FROM (SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS u,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ), nl AS (
      SELECT lab, CAST(count(*) AS BIGINT) AS n
      FROM el WHERE i = 0 GROUP BY lab
    ), cent AS (
      SELECT lab, i, CAST(sum(c) AS BIGINT) AS s FROM el GROUP BY lab, i
    ), q AS (
      SELECT e.vec_id, e.lab,
             CAST(sum((n.n * e.c - c.s) * (n.n * e.c - c.s)) AS BIGINT)
               AS qq,
             any_value(n.n) AS n
      FROM el e
      JOIN cent c ON c.lab = e.lab AND c.i = e.i
      JOIN nl n ON n.lab = e.lab
      GROUP BY e.vec_id, e.lab
    ), means AS (
      SELECT lab, CAST(sum(qq) AS BIGINT) AS sq FROM q GROUP BY lab
    ), fl AS (
      SELECT q.lab, (qq * n * 4 > 9 * sq) AS out
      FROM q JOIN means ON means.lab = q.lab
    )
    SELECT lab AS label, CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(CASE WHEN out THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(floor(CAST(sum(CASE WHEN out THEN 1 ELSE 0 END) AS DOUBLE)
                * 1e6 / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT)
             AS outlier_ppm
    FROM fl
    GROUP BY lab
    ORDER BY lab
    """,
)
def sim_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding OOD flags
    (operators/similarity.embedding_outliers, k = 3/2): a point is an
    outlier when its n-scaled squared centroid distance exceeds (3/2)²
    times the label mean — the mislabeled-point curation filter. The
    flag is a pure integer cross-comparison q·n·4 > 9·Σq: no division,
    sqrt, or float anywhere. The oracle rebuilds centroids, distances,
    and the cross-compare from the element join."""
    cat = load_tables(spark, sf_dir)
    return similarity.embedding_outliers(
        cat.read("embeddings"), k_num=3, k_den=2
    )





@register(
    "dedup_containment",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, len(t) - 1)]
                  ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks
    ), shd AS (
      SELECT DISTINCT doc_id, unnest(shs) AS s FROM sh
    ), rare AS (
      SELECT s FROM (SELECT s, count(*) AS f FROM shd GROUP BY s)
      WHERE f <= 10
    ), blocked AS (
      SELECT doc_id, shd.s FROM shd JOIN rare ON rare.s = shd.s
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blocked a JOIN blocked b
        ON a.s = b.s AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd GROUP BY 1
    ), inter AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
      FROM cand c
      JOIN shd x ON x.doc_id = c.doc_a
      JOIN shd y ON y.doc_id = c.doc_b AND y.s = x.s
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, inter, na.n AS n_a, nb.n AS n_b,
           CAST(floor(CAST(inter AS DOUBLE) * 1e6
                / CAST(least(na.n, nb.n) AS DOUBLE) + 0.5) AS BIGINT) / 1e6
             AS containment_small
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE inter * 5 >= 4 * least(na.n, nb.n)
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (operators/dedup.containment_pairs):
    pairs where the SMALLER shingle set is >=80% inside the larger —
    the quote-page / expanded-repost case symmetric Jaccard misses.
    Jaccard-LSH banding cannot surface these pairs (contained pairs
    have near-zero Jaccard), so candidates come from RARE-SHINGLE
    inverted-index blocking (shared shingle in <=10 docs — the cap
    keeps the block join skew-free; a doc of only hot shingles is the
    documented miss); only candidates re-join the distinct shingle
    stream for the exact intersection, and the keep test is the
    integer cross-compare inter*5 >= 4*min(|A|,|B|). The oracle
    rebuilds shingles, blocking, candidates, and the verify."""
    cat = load_tables(spark, sf_dir)
    return dedup.containment_pairs(
        cat.read("documents"), threshold_num=4, threshold_den=5
    )


@register(
    "text_vocab_divergence",
    """
    WITH words AS (
      SELECT CAST(substr(source, 4) AS INT) % 2 AS g,
             unnest(string_split(text, ' ')) AS w
      FROM documents
    ), gc AS (
      SELECT g, w, CAST(count(*) AS BIGINT) AS c
      FROM words WHERE length(w) > 0 GROUP BY g, w
    ), piv AS (
      SELECT w,
             CAST(sum(CASE WHEN g = 0 THEN c END) AS BIGINT) AS cnt_a,
             CAST(sum(CASE WHEN g = 1 THEN c END) AS BIGINT) AS cnt_b
      FROM gc GROUP BY w
      HAVING cnt_a IS NOT NULL AND cnt_b IS NOT NULL
    ), tot AS (
      SELECT CAST(sum(CASE WHEN g = 0 THEN c END) AS BIGINT) AS ta,
             CAST(sum(CASE WHEN g = 1 THEN c END) AS BIGINT) AS tb
      FROM gc
    ), scored AS (
      SELECT w AS token, cnt_a, cnt_b,
             CAST((length(bin(ta)) - 1) - (length(bin(cnt_a)) - 1)
                  AS BIGINT) AS bits_a,
             CAST((length(bin(tb)) - 1) - (length(bin(cnt_b)) - 1)
                  AS BIGINT) AS bits_b
      FROM piv CROSS JOIN tot
    )
    SELECT token, cnt_a, cnt_b, bits_a, bits_b,
           CAST(bits_a - bits_b AS BIGINT) AS delta_bits
    FROM scored
    ORDER BY abs(bits_a - bits_b) DESC, token
    LIMIT 20
    """,
)
def text_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between even- and odd-numbered sources
    (operators/text.vocab_divergence): per shared token the whole-bit
    surprisal delta — the distribution-shift report for a train-mix
    change. Digit-string log2 (never libm), exact BIGINT scores,
    orderBy+limit top-k. The oracle rebuilds both groups' counts and
    the bit algebra with DuckDB's bin() digit length."""
    cat = load_tables(spark, sf_dir)
    return text.vocab_divergence(
        cat.read("documents"),
        F.expr("CAST(substr(source, 4) AS INT) % 2"),
        top_k=20,
    )


@register(
    "curation_kfold_split",
    """
    SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 5 AS INT) AS fold,
           lang AS strat,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM documents
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def curation_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold audit
    (operators/curation.kfold_split, k=5, stratified by lang): fold =
    int(md5(id)[:8], 16) % k — content-independent and stable under
    reruns, unlike random(); the assignment is a pure scan projection
    and only the (fold, lang) audit aggregate exchanges. Both engines
    parse the identical md5 hex prefix, so assignment is bit-equal."""
    from ytsaurus_spark.operators.curation import kfold_split

    cat = load_tables(spark, sf_dir)
    return kfold_split(cat.read("documents"), k=5, strat_col="lang")


@register(
    "sim_hard_negative_mining",
    """
    WITH el AS (
      SELECT vec_id, i - 1 AS i, CAST(round(u * 127) AS BIGINT) AS c
      FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS u,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ), d AS (
      SELECT q.vec_id AS q_id, e.vec_id AS c_id,
             CAST(sum(q.c * e.c) AS BIGINT) AS dot
      FROM (SELECT * FROM el WHERE vec_id % 47 = 0) q
      JOIN el e ON q.i = e.i AND e.vec_id <> q.vec_id
      GROUP BY q.vec_id, e.vec_id
    ), lab AS (SELECT vec_id, label FROM embeddings),
    r AS (
      SELECT d.q_id, d.c_id, d.dot,
             (cl.label = ql.label) AS same,
             row_number() OVER (PARTITION BY d.q_id, cl.label = ql.label
                                ORDER BY dot DESC, c_id) AS rk
      FROM d
      JOIN lab cl ON cl.vec_id = d.c_id
      JOIN lab ql ON ql.vec_id = d.q_id
    )
    SELECT q_id, CASE WHEN same THEN 'pos' ELSE 'neg' END AS kind,
           CAST(rk AS INT) AS rk, c_id, dot
    FROM r
    WHERE (same AND rk = 1) OR (NOT same AND rk <= 3)
    ORDER BY q_id, kind, rk
    """,
)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair mining
    (operators/similarity.hard_negative_mining): per anchor the nearest
    same-label positive + the 3 nearest different-label HARD negatives —
    the pairs a contrastive loss actually learns from. Exact BIGINT
    dots, one scored frame, rank windows per (anchor, same?) slice;
    anchors broadcast. The oracle recomputes both slices' ranks."""
    cat = load_tables(spark, sf_dir)
    return similarity.hard_negative_mining(
        cat.read("embeddings"), n_negatives=3, stride=47
    )


@register(
    "eval_brier_score",
    "WITH "
    + _EVAL_FEATURES_SQL
    + """
    , b AS (
      SELECT least(greatest(500 + sc // 1000, 0), 1000) AS cm,
             CASE WHEN pos THEN 1000 ELSE 0 END AS y
      FROM s
    ), mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum((cm - y) * (cm - y)) AS BIGINT) AS se
      FROM b
    )
    SELECT n, se AS sq_err_milli2,
           CAST(floor(CAST(se AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
                AS BIGINT) / 1e6 AS brier
    FROM mo
    """,
)
def eval_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the squashed quality-classifier confidence
    against lang = 'en' — the proper scoring rule next to ECE
    (calibration) and AUC (ranking). Confidence uses the same integral
    linear squash as eval_calibration_ece but in MILLI-units, so the
    squared-error sum stays an exact BIGINT at any corpus size
    (max 1e6·n); one scan, one 1-row aggregate, a single half-up
    floor. Brier = Σ(conf − y)²/n in milli² units scaled to [0, 1]."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    scored = text.classifier_score(docs, extra_cols=("lang",)).select(
        F.round(F.col("quality_logit") * 10000).cast("long").alias("sc"),
        (F.col("lang") == "en").alias("pos"),
    )
    b = scored.select(
        F.least(
            F.lit(1000).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                (F.lit(500) + F.expr("sc div 1000")).cast("long"),
            ),
        ).alias("cm"),
        F.when(F.col("pos"), 1000).otherwise(0).cast("long").alias("y"),
    )
    mo = b.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("cm") - F.col("y")) * (F.col("cm") - F.col("y")))
        .cast("long")
        .alias("se"),
    )
    return mo.select(
        "n",
        F.col("se").alias("sq_err_milli2"),
        (
            F.floor(
                F.col("se").cast("double") / F.col("n").cast("double")
                + F.lit(0.5)
            ).cast("long")
            / F.lit(1e6)
        ).alias("brier"),
    )


@register(
    "curation_fold_leakage",
    """
    WITH f AS (
      SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 5 AS INT) AS fold,
             md5(text) AS th
      FROM documents
    ), g AS (
      SELECT th,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(count(DISTINCT fold) AS BIGINT) AS n_folds
      FROM f GROUP BY th
    )
    SELECT CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_groups,
           CAST(sum(CASE WHEN n_folds > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS leaking_groups,
           CAST(sum(CASE WHEN n_folds > 1 THEN n_copies ELSE 0 END)
                AS BIGINT) AS leaking_docs,
           CAST(count(*) AS BIGINT) AS distinct_texts
    FROM g
    """,
)
def curation_fold_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval fold-leakage audit: exact-duplicate texts whose copies
    land in MORE THAN ONE k-fold (curation.kfold_split's md5-prefix
    assignment) — the classic contamination bug where a test fold
    contains a training duplicate. One scan → (text-hash) grain with
    count + distinct-fold count (both partial-aggable) → a 1-row
    summary; the cure (dedup before splitting, or fold by content hash)
    is one upstream operator swap. All counts exact."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 5
    ).cast("int")
    f = docs.select(fold.alias("fold"), F.md5("text").alias("th"))
    g = f.groupBy("th").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.countDistinct("fold").cast("long").alias("n_folds"),
    )
    return g.agg(
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .cast("long")
        .alias("dup_groups"),
        F.sum(F.when(F.col("n_folds") > 1, 1).otherwise(0))
        .cast("long")
        .alias("leaking_groups"),
        F.sum(F.when(F.col("n_folds") > 1, F.col("n_copies")).otherwise(0))
        .cast("long")
        .alias("leaking_docs"),
        F.count(F.lit(1)).cast("long").alias("distinct_texts"),
    )


@register(
    "curation_boilerplate_lines",
    """
    WITH lines AS (
      SELECT doc_id, lang, unnest(string_split(text, chr(10))) AS line
      FROM documents
    ), l2 AS (
      SELECT doc_id, lang, line FROM lines WHERE length(line) > 0
    ), bp AS (
      SELECT line FROM (
        SELECT line, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, line FROM l2)
        GROUP BY line
      ) WHERE df >= 2
    ), per_doc AS (
      SELECT doc_id, lang,
             CAST(sum(CASE WHEN bp.line IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_bp,
             CAST(sum(CASE WHEN bp.line IS NOT NULL THEN length(l2.line)
                           ELSE 0 END) AS BIGINT) AS bp_chars
      FROM l2 LEFT JOIN bp ON bp.line = l2.line
      GROUP BY doc_id, lang
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_bp > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_affected,
           CAST(sum(n_bp) AS BIGINT) AS boilerplate_instances,
           CAST(sum(bp_chars) AS BIGINT) AS chars_removed
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def curation_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-line boilerplate report (the CCNet/RefinedWeb line
    filter — operators/text.boilerplate_line_stats, min_df=2): lines
    shared by ≥2 distinct documents are headers/footers/banners; report
    per language how many documents the filter touches and the exact
    character mass it strips. The fixture's single-line docs make this
    degenerate to exact-duplicate mass at this SF (the multi-line
    mechanics — per-line df, broadcast boilerplate set, removal scan —
    are pinned by the unit test on a synthetic multi-line corpus); the
    plan shape is the production one: one line-grain exchange + one
    group aggregate."""
    cat = load_tables(spark, sf_dir)
    return text.boilerplate_line_stats(
        cat.read("documents"), min_df=2, group_col="lang"
    )


@register(
    "dedup_minhash_incremental",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, len(t) - 1)]
                  ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks
    ), shx AS (
      SELECT doc_id, unnest(shs) AS s FROM sh
    ), mh AS (
      SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || s)) AS mh
      FROM shx CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
      GROUP BY doc_id, seed
    ), sigs AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(mh, '' ORDER BY seed)) AS band_sig
      FROM mh GROUP BY doc_id, seed // 2
    )
    SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                    greatest(a.doc_id, b.doc_id) AS doc_b
    FROM sigs a JOIN sigs b
      ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id <> b.doc_id
    WHERE a.doc_id % 5 = 0
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH (the daily-crawl dedup pattern): the
    corpus's persisted band-signature index (operators/dedup.py::
    band_signatures — kilobytes per historical doc) absorbs a new batch
    without re-reading or re-hashing history. Scenario: docs with
    doc_id % 5 == 0 are the new batch, the rest are the stored index;
    candidates = new-vs-stored + new-vs-new band collisions. The oracle
    recomputes full-corpus LSH and keeps pairs touching the new set —
    the incremental path must find exactly those."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    history = docs.filter(F.col("doc_id") % 5 != 0)
    stored = dedup.band_signatures(
        history, num_hashes=8, band_rows=2, shingle_k=3
    )
    pairs, _updated = dedup.minhash_lsh_incremental(
        new, stored, num_hashes=8, band_rows=2, shingle_k=3
    )
    return pairs
