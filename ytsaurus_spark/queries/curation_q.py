"""Corpus-curation queries: sequence packing, contamination, PII scrubbing,
stratified sampling, repetition detection, domain-mixture weighting.

Each entry pairs the distributed implementation (operators/curation.py)
with a DuckDB oracle that mirrors the arithmetic exactly — same hash
function (md5), same rounding, same regex subset — so the driver's value
hash matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ytsaurus_spark.catalog import load_tables
from ytsaurus_spark.operators import curation, materialize
from ytsaurus_spark.queries import register

PACK_BUDGET = 2048


@register(
    "curation_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(ceil(length(text) / 4.0) AS BIGINT) AS tok
      FROM documents
    ), c AS (
      SELECT doc_id, tok, sum(tok) OVER (ORDER BY doc_id) AS cum FROM t
    )
    SELECT CAST(floor((cum - tok) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS tokens,
           round(sum(tok) / {PACK_BUDGET}.0, 4) AS fill
    FROM c GROUP BY 1
    """,
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing of documents into fixed token windows via a
    two-phase distributed prefix sum (no single-partition window)."""
    cat = load_tables(spark, sf_dir)
    packed = curation.pack_sequences(cat.read("documents"), PACK_BUDGET)
    return curation.pack_bins_summary(packed, PACK_BUDGET)


@register(
    "curation_contamination",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 5
                  THEN [array_to_string(t[i:i+4], ' ')
                        for i in range(1, len(t) - 3)]
                  ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks
    ), shx AS (
      SELECT DISTINCT doc_id, s
      FROM (SELECT doc_id, unnest(shs) AS s FROM sh)
    ), bench AS (
      SELECT DISTINCT s FROM shx WHERE doc_id % 7 = 0
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM shx JOIN bench USING (s)
    WHERE doc_id % 7 != 0
    GROUP BY doc_id
    """,
)
def curation_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: 5-gram overlap between the training
    split and a broadcast benchmark split."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    return curation.contamination_check(train, bench, k=5)


@register(
    "curation_pii_scrub",
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@mail.com or 555-' ||
             lpad(CAST((doc_id * 7919) % 10000 AS VARCHAR), 4, '0') ||
             ' ref ' || (1000000 + doc_id) AS t0
      FROM documents
    ), s1 AS (
      SELECT doc_id,
             len(regexp_extract_all(t0, '[a-z0-9._]+@[a-z0-9]+\\.[a-z]+')) AS c1,
             regexp_replace(t0, '[a-z0-9._]+@[a-z0-9]+\\.[a-z]+', '<EMAIL>', 'g') AS t1
      FROM aug
    ), s2 AS (
      SELECT doc_id, c1,
             len(regexp_extract_all(t1, '[0-9]{3}-[0-9]{4}')) AS c2,
             regexp_replace(t1, '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS t2
      FROM s1
    ), s3 AS (
      SELECT doc_id, c1, c2,
             len(regexp_extract_all(t2, '[0-9]{6,}')) AS c3,
             regexp_replace(t2, '[0-9]{6,}', '<NUM>', 'g') AS t3
      FROM s2
    )
    SELECT doc_id, CAST(c1 + c2 + c3 AS BIGINT) AS n_redactions,
           md5(t3) AS scrubbed_md5
    FROM s3
    """,
)
def curation_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a deterministically PII-augmented text column —
    the augmentation guarantees every regex class actually fires, so the
    oracle checks real match/replace behavior, not a no-op."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.com or 555-"),
            F.lpad(((F.col("doc_id") * 7919) % 10000).cast("string"), 4, "0"),
            F.lit(" ref "),
            (F.col("doc_id") + 1000000).cast("string"),
        ).alias("text"),
    )
    return curation.pii_scrub(aug)


@register(
    "curation_stratified_sample",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100)
          < CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 10
                        WHEN 'src2' THEN 25 WHEN 'src3' THEN 50 ELSE 80 END
    GROUP BY source
    """,
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket sampling with per-source rates; the kept
    set is identical on any cluster size / partitioning."""
    cat = load_tables(spark, sf_dir)
    kept = curation.stratified_sample(
        cat.read("documents"),
        {"src0": 5, "src1": 10, "src2": 25, "src3": 50},
        default_rate=80,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@register(
    "curation_repetition",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), pt AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(max(c) AS BIGINT) AS top_count,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_ratio
    FROM pt GROUP BY doc_id
    """,
)
def curation_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition detector (max single-token share)."""
    cat = load_tables(spark, sf_dir)
    return curation.repetition_stats(cat.read("documents"))


@register(
    "curation_train_mix",
    """
    WITH per AS (
      SELECT source,
             CAST(sum(ceil(length(text) / 4.0)) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS k FROM per
    )
    SELECT source, tokens, round((t / k) / tokens, 6) AS weight
    FROM per, tot
    """,
)
def curation_train_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture weights that equalize per-source token mass."""
    cat = load_tables(spark, sf_dir)
    return curation.train_mix_weights(cat.read("documents"))


@register(
    "curation_global_shuffle",
    """
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS __shuffle_key
    FROM documents
    ORDER BY __shuffle_key LIMIT 100
    """,
)
def curation_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle (training-order decorrelation): a
    pseudorandom permutation by id-hash, reproducible across engines and
    cluster sizes; one range shuffle at scale."""
    cat = load_tables(spark, sf_dir)
    return (
        curation.global_shuffle(cat.read("documents"))
        .select("doc_id", "__shuffle_key")
        .limit(100)
    )


@register(
    "curation_length_buckets",
    """
    WITH t AS (
      SELECT doc_id, CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens
      FROM documents
    ), h AS (
      SELECT est_tokens, count(*) AS c FROM t GROUP BY est_tokens
    ), cum AS (
      SELECT est_tokens,
             COALESCE(SUM(c) OVER (ORDER BY est_tokens
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_lt,
             SUM(c) OVER () AS total
      FROM h
    ), b AS (
      SELECT est_tokens,
             CAST(FLOOR(8.0 * c_lt / total) AS BIGINT) + 1 AS bucket
      FROM cum
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(min(t.est_tokens) AS BIGINT) AS min_toks,
           CAST(max(t.est_tokens) AS BIGINT) AS max_toks
    FROM t JOIN b USING (est_tokens) GROUP BY bucket
    """,
)
def curation_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching: histogram-derived quantile buckets of
    estimated token length so padded batches waste minimal compute. The
    oracle mirrors the histogram decomposition (DuckDB may use the naive
    window — it is the oracle, not the scale path)."""
    cat = load_tables(spark, sf_dir)
    b = curation.length_buckets(cat.read("documents"), n_buckets=8)
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("est_tokens").cast("long").alias("min_toks"),
        F.max("est_tokens").cast("long").alias("max_toks"),
    )


@register(
    "pipeline_training_export",
    f"""
    WITH train AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0
    ), canon AS (
      SELECT min(doc_id) AS doc_id FROM train GROUP BY md5(text)
    ), dd AS (
      SELECT t.doc_id, t.text FROM train t JOIN canon USING (doc_id)
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 5
                  THEN [array_to_string(t[i:i+4], ' ')
                        for i in range(1, len(t) - 3)]
                  ELSE [array_to_string(t, ' ')] END AS shs
      FROM toks
    ), shx AS (
      SELECT DISTINCT doc_id, s
      FROM (SELECT doc_id, unnest(shs) AS s FROM sh)
    ), bench AS (
      SELECT DISTINCT s FROM shx WHERE doc_id % 7 = 0
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM shx JOIN bench USING (s)
      WHERE doc_id % 7 != 0
    ), clean AS (
      SELECT dd.doc_id, CAST(ceil(length(dd.text) / 4.0) AS BIGINT) AS tok
      FROM dd
      WHERE dd.doc_id NOT IN (SELECT doc_id FROM contaminated)
        AND CAST(ceil(length(dd.text) / 4.0) AS BIGINT) >= 40
    ), cum AS (
      SELECT doc_id, tok, sum(tok) OVER (ORDER BY doc_id) AS cum FROM clean
    )
    SELECT CAST(floor((cum - tok) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS tokens
    FROM cum GROUP BY 1
    """,
)
def pipeline_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data export as ONE declarative plan: exact dedup
    (min-id per content hash) → benchmark decontamination (broadcast 5-gram
    scan) → quality floor (≥40 est tokens) → sequence packing into
    2048-token windows. Catalyst fuses the stages; nothing materializes
    between them (the reference would chain four MapReduce operations with
    intermediate tables — run_map_reduce, run_operation_commands.py:142)
    except the deduped train set, which is persisted: both downstream
    consumers (contamination shingling, the quality+packing chain) need
    ALL of it, and dedup itself is a single window pass instead of a
    groupBy + join-back (round-6 audit: 6 corpus scans before, 2 after —
    the persisted dd materialization plus the benchmark slice)."""
    from pyspark.sql import Window as W

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    dd = (
        train.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .transform(materialize)
    )
    dirty = curation.contamination_check(dd, bench, k=5).select("doc_id")
    clean = (
        dd.join(dirty, "doc_id", "left_anti")
        .filter(F.ceil(F.length("text") / 4).cast("long") >= 40)
    )
    packed = curation.pack_sequences(clean, PACK_BUDGET)
    return curation.pack_bins_summary(packed, PACK_BUDGET).select(
        "bin_id", "n_docs", "tokens"
    )


@register(
    "curation_weighted_sample",
    """
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1.0)
                / 4294967297.0) / n_chars AS k
      FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM keyed ORDER BY k DESC, doc_id LIMIT 50
    """,
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible weighted sampling without replacement (A-ES top-k,
    operators/curation.weighted_sample), weight = doc length. One
    distributed top-k; the md5-derived uniform makes the sample
    deterministic across engines and runs."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents").select("doc_id", "source", "n_chars")
    out = curation.weighted_sample(docs, "n_chars", k=50)
    return out.select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))


@register(
    "curation_train_mix_temp",
    """
    WITH per AS (
      SELECT source,
             CAST(sum(ceil(length(text) / 4.0)) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(tokens) AS DOUBLE) AS t,
             sum(sqrt(tokens::DOUBLE)) AS sp FROM per
    )
    SELECT source, tokens,
           round((sqrt(tokens::DOUBLE) / sp) / (tokens / t), 6) AS weight
    FROM per, tot ORDER BY source
    """,
)
def curation_train_mix_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (alpha = 0.5, the T5-style
    ``target ∝ natural^alpha`` damping): dominant sources shrink, small
    sources grow, but natural ordering survives — unlike the uniform
    (alpha = 0) mix. alpha = 0.5 is the oracle-exact choice: sqrt is
    correctly rounded IEEE in both engines, arbitrary pow is not
    (operators/curation.train_mix_weights)."""
    cat = load_tables(spark, sf_dir)
    return curation.train_mix_weights(
        cat.read("documents"), alpha=0.5
    ).orderBy("source")


# --- budget-capped quality selection ---------------------------------------

@register(
    "curation_select_to_budget",
    """
    WITH stats AS (
      SELECT doc_id,
             CAST((n_chars + 3) // 4 AS BIGINT) AS est_tokens,
             CAST((CAST(len(list_distinct(string_split(text, ' ')))
                     AS BIGINT) * 1000000)
                  // len(string_split(text, ' ')) AS BIGINT) AS priority
      FROM documents
    ), b AS (
      SELECT CAST(sum(est_tokens) // 10 AS BIGINT) AS budget FROM stats
    ), c AS (
      SELECT doc_id, priority, est_tokens,
             CAST(sum(est_tokens) OVER (
               ORDER BY priority DESC, doc_id ASC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM stats
    )
    SELECT doc_id, priority, est_tokens, cum_tokens
    FROM c CROSS JOIN b WHERE cum_tokens <= budget
    """,
)
def curation_select_to_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-ranked fill to 1/10 of the corpus's token budget."""
    cat = load_tables(spark, sf_dir)
    return curation.select_to_budget(cat.read("documents"), budget_denom=10)


@register(
    "curation_balanced_shards",
    """
    WITH est AS (
      SELECT doc_id, CAST((n_chars + 3) // 4 AS BIGINT) AS est_tokens
      FROM documents
    ), pre AS (
      SELECT doc_id, est_tokens,
             CAST(coalesce(sum(est_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS prefix
      FROM est
    ), t AS (SELECT CAST(sum(est_tokens) AS BIGINT) AS total FROM est)
    SELECT CAST(prefix // ((total + 7) // 8) AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(est_tokens) AS BIGINT) AS n_tokens
    FROM pre CROSS JOIN t
    GROUP BY 1
    """,
)
def curation_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-equal-token export sharding (operators/curation.balanced_shards):
    shard = exclusive-prefix-tokens // ceil(total/8) in doc-id order —
    deterministic integer assignment via the hierarchical prefix sum (no
    unpartitioned window at any level; the oracle's global OVER (ORDER BY)
    is the semantics, not the plan). One row per shard with doc and token
    totals; shard sizes differ only by the straddling document at each
    boundary."""
    cat = load_tables(spark, sf_dir)
    return curation.balanced_shards(cat.read("documents"), num_shards=8)


@register(
    "curation_dataset_card",
    """
    WITH base AS (
      SELECT doc_id, text, lang, source,
             md5(text) AS h,
             len(string_split(text, ' ')) AS n_toks
      FROM documents
    ), top_lang AS (
      SELECT lang FROM base GROUP BY lang
      ORDER BY count(*) DESC, lang ASC LIMIT 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts,
           CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           (SELECT lang FROM top_lang) AS top_lang,
           CAST(count(*) - count(DISTINCT h) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS exact_dup_rate,
           CAST(sum(n_toks) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS mean_doc_tokens
    FROM base
    """,
)
def curation_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card (datasheet) for the corpus: doc/unique/dup
    counts, token totals, language and source cardinalities, dominant
    language, exact-dup rate and mean length — the summary artifact a
    training-data export ships alongside the shards. ONE corpus scan
    feeding conditional/distinct aggregates (distincts partial-aggregate
    per grouping-set expansion); the dominant language is an
    aggregate-sized broadcast scalar with a deterministic
    (count DESC, lang ASC) tie-break; rates are exact IEEE divisions."""
    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents").select(
        "doc_id", "text", "lang", "source",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).alias("n_toks"),
    ).transform(materialize)  # top_lang + main aggregate consumers
    top_lang = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("lang").asc())
        .limit(1)
        .select(F.col("lang").alias("top_lang"))
    )
    agg = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("h").cast("long").alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct("h")).cast("long").alias("n_exact_dups"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    return agg.crossJoin(F.broadcast(top_lang)).select(
        "n_docs", "n_unique_texts", "n_exact_dups", "n_tokens",
        "n_langs", "n_sources", "top_lang",
        (F.col("n_exact_dups").cast("double") / F.col("n_docs").cast("double"))
        .alias("exact_dup_rate"),
        (F.col("n_tokens").cast("double") / F.col("n_docs").cast("double"))
        .alias("mean_doc_tokens"),
    )


@register(
    "curation_paragraph_dedup",
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
    )
    SELECT doc_id,
           coalesce(string_agg(chunk, '' ORDER BY off)
                      FILTER (WHERE rn = 1), '') AS clean_text,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM flagged GROUP BY doc_id
    """,
)
def curation_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus passage dedup with document reassembly
    (operators/curation.paragraph_dedup): every repeated 160-char chunk
    is dropped except its globally-first occurrence (min (doc_id, off) —
    one hash-partitioned window), then each document's surviving chunks
    re-concatenate in offset order — the RefinedWeb line-dedup move with
    the unique remainder kept. Chunking explodes inside the scan; dedup
    is one chunk-hash shuffle; reassembly one doc shuffle with per-doc
    state bounded by the doc's own chunk count."""
    cat = load_tables(spark, sf_dir)
    return curation.paragraph_dedup(cat.read("documents"), chunk_chars=160)


@register(
    "curation_ccnet_buckets",
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
    ), scored AS (
      SELECT doc_id,
             CAST(sum(c * bits) AS BIGINT) AS total_bits,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(c * bits) AS BIGINT) / CAST(sum(c) AS BIGINT)
               AS mean_bits
      FROM dw JOIN sur USING (w) GROUP BY doc_id
    ), ranked AS (
      SELECT s.doc_id, d.lang, s.mean_bits,
             row_number() OVER (PARTITION BY d.lang
                                ORDER BY s.mean_bits, s.doc_id) AS rk,
             count(*) OVER (PARTITION BY d.lang) AS n
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, mean_bits,
           CASE (3 * (rk - 1)) // n
                WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM ranked
    """,
)
def curation_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality terciles PER LANGUAGE over
    the exact whole-bit unigram surprisal score (lower = more fluent):
    per-lang rank with a deterministic (score, doc_id) tie-break, bucket
    = (3·(rank−1)) div n in pure integer arithmetic — the
    perplexity-bucketing move of Wenzek et al.'s CCNet pipeline with the
    in-engine LM replacing the external one. Windows partition on lang
    (never global); the model CTEs are the persisted corpus aggregates
    of text_unigram_surprisal."""
    from pyspark.sql import Window as W

    from ytsaurus_spark.operators import text as text_ops

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    scored = text_ops.unigram_surprisal(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = W.partitionBy("lang").orderBy("mean_bits", "doc_id")
    wn = W.partitionBy("lang")
    ranked = scored.select(
        "doc_id", "lang", "mean_bits",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bucket_ix = F.expr("(3 * (rk - 1)) div n")
    return ranked.select(
        "doc_id", "lang", "mean_bits",
        F.when(bucket_ix == 0, F.lit("head"))
        .when(bucket_ix == 1, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


@register(
    "curation_source_cap",
    """
    WITH r AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN rk > 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(sum(CASE WHEN rk <= 10 THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM r GROUP BY source
    """,
)
def curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap (operators/curation.source_cap): keep
    the top-10 documents per source by length, drop the rest — the
    RefinedWeb/CCNet guard against any one domain dominating the mix.
    The distributed form is the salted two-phase top-k (skew-free
    (source, salt) window finalizes the bulk as dropped; only the
    bounded per-source survivor set re-ranks on the raw key, and the
    two streams union — no join back, one corpus-wide exchange); the
    oracle is the plain unsalted rank, which phase equivalence must
    reproduce exactly."""
    cat = load_tables(spark, sf_dir)
    capped = curation.source_cap(cat.read("documents"), cap=10)
    return (
        capped.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("kept"), 0).otherwise(1))
            .cast("long")
            .alias("n_dropped"),
            F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
    )


# --- DSIR importance resampling (Xie et al. 2023) --------------------------

@register(
    "curation_dsir_select",
    """
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_t, string_split(text, ' ') AS t
      FROM documents
    ), uni AS (
      SELECT doc_id, is_t, unnest(t) AS g FROM toks
    ), bi AS (
      SELECT doc_id, is_t, t[i] || ' ' || t[i+1] AS g
      FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
    ), f AS (
      SELECT doc_id, is_t,
             (('0x' || substr(md5(g), 1, 4))::BIGINT % 256) AS b
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ), cx AS (
      SELECT doc_id, is_t, b, count(*) AS c FROM f GROUP BY doc_id, is_t, b
    ), tb AS (
      SELECT b,
             sum(CASE WHEN is_t THEN c ELSE 0 END) AS tc,
             sum(CASE WHEN NOT is_t THEN c ELSE 0 END) AS rc
      FROM cx GROUP BY b
    ), tot AS (
      SELECT (length(to_base(CAST(sum(rc) + 256 AS BIGINT), 2)) - 1)
               - (length(to_base(CAST(sum(tc) + 256 AS BIGINT), 2)) - 1)
               AS norm
      FROM tb
    ), w AS (
      SELECT b, (length(to_base(CAST(tc + 1 AS BIGINT), 2)) - 1)
                  - (length(to_base(CAST(rc + 1 AS BIGINT), 2)) - 1) AS wb
      FROM tb
    )
    SELECT doc_id,
           CAST(sum(c * wb) + sum(c) * (SELECT norm FROM tot) AS BIGINT)
             AS dsir_score
    FROM cx JOIN w USING (b)
    WHERE NOT is_t
    GROUP BY doc_id
    ORDER BY dsir_score DESC, doc_id
    LIMIT 100
    """,
)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: pick the 100 non-English-pool documents whose
    hashed unigram+bigram profile is most target-like (target = the
    corpus's 'en' slice), scores in exact whole-bit arithmetic
    (operators/curation.dsir_select docstring for the published-method
    mapping and the 100 TB plan shape)."""
    cat = load_tables(spark, sf_dir)
    return curation.dsir_select(
        cat.read("documents"),
        target_pred=F.col("lang") == "en",
        num_buckets=256,
        top_k=100,
    )
