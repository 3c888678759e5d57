"""Training-corpus curation operators: sequence packing, benchmark
contamination checks, PII scrubbing, stratified sampling, repetition
detection, and domain-mixture weighting.

These are the operations a 100 TB LLM-data pipeline runs after dedup
(operators/dedup.py) and quality scoring (operators/text.py). Everything is
built from JVM-side expressions and equi-joins; the only global ordering
(sequence packing) uses the two-phase prefix-sum pattern instead of a
single-partition window, so every operator keeps all executors busy at
1000-node scale.

Reference parity note: the reference expresses such pipelines as chained
MapReduce operations over static tables (run_map_reduce,
yt/python/yt/wrapper/run_operation_commands.py:142); here each pipeline
stage is a declarative DataFrame plan that Catalyst fuses and AQE re-splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ytsaurus_spark.operators import materialize

# A deterministic per-row hash in [0, 100) that DuckDB reproduces exactly:
# first 4 hex chars of md5 of the stringified id. Used for sampling so the
# "same rows on re-run" guarantee holds across engines and cluster sizes
# (the reference's deterministic sampling: sampling_rate with a fixed seed,
# yt/yt/ytlib/scheduler/config.h:349-361).
def _hash_bucket(col, buckets: int = 100):
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10)
            .cast("long") % buckets)


def _floor_div(col_name: str, n: int):
    """Exact floor division of an integer column by a literal, in pure
    integer arithmetic: ``(x - pmod(x, n)) div n``. The numerator is an
    exact multiple of ``n`` so truncating ``div`` equals floor even for
    negative ids, and nothing routes through a double (ids >= 2^53 stay
    exact) — float ``(x / n).cast('long')`` breaks both properties."""
    return F.expr(f"((`{col_name}`) - pmod(`{col_name}`, {n})) div {n}")


def prefix_sum(
    df: DataFrame,
    key_col: str,
    val_col: str,
    out_col: str = "__prefix",
    block: int = 4096,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``val_col`` in ``key_col`` order with no
    unpartitioned window at ANY level — the hierarchical form of the
    two-phase prefix-sum trick.

    A naive ``sum() OVER (ORDER BY key)`` moves every row to one executor
    (the reference never does this either: its Sort builds a sampled
    partition tree, sort_controller.cpp:241-308). Decomposition here:

    - level 0: cumsum *within* id-blocks (``__b1 = key fdiv block``) via a
      window PARTITIONED on ``__b1`` — the only shuffle the data takes;
    - level 1: per-block sums (n/block rows) cumsum'd within
      super-blocks (``__b2 = key fdiv block²``), window PARTITIONED on
      ``__b2``;
    - level 2: super-block offsets via a broadcast ``<`` self-join over
      the n/block² super-block rows — (n/block²)² pairs ≈ 360k at 10^10
      rows, so the top never needs a window at all.

    Ties in ``key_col`` are summed together (the exclusive prefix counts
    strictly-smaller keys only), which keeps the result deterministic
    regardless of physical row order. All block keys use exact integer
    floor division (negative and >2^53 ids stay monotone)."""
    b2_of_b1 = F.expr(f"((`__b1`) - pmod(`__b1`, {block})) div {block}")
    base = df.withColumn("__b1", _floor_div(key_col, block))
    s1 = (
        base.groupBy("__b1")
        .agg(F.sum(val_col).alias("__v1"))
        .withColumn("__b2", b2_of_b1)
    )
    s2 = s1.groupBy("__b2").agg(F.sum("__v1").alias("__v2"))
    a, b = s2.alias("a"), s2.alias("b")
    off2 = (
        a.join(F.broadcast(b), F.col("b.__b2") < F.col("a.__b2"), "left")
        .groupBy(F.col("a.__b2").alias("__b2"))
        .agg(F.coalesce(F.sum("b.__v2"), F.lit(0)).alias("__off2"))
    )
    w1 = Window.partitionBy("__b2").orderBy("__b1")
    offsets = (
        s1.join(F.broadcast(off2), "__b2")
        .withColumn(
            "__boff",
            F.sum("__v1").over(w1) - F.col("__v1") + F.col("__off2"),
        )
        .select("__b1", "__boff")
    )
    # exclusive within block over strictly-smaller keys (RANGE frame ending
    # at 1 PRECEDING handles duplicate keys deterministically)
    w0 = (
        Window.partitionBy("__b1")
        .orderBy(key_col)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.join(F.broadcast(offsets), "__b1")
        .withColumn(
            out_col,
            F.coalesce(F.sum(val_col).over(w0), F.lit(0)) + F.col("__boff"),
        )
        .drop("__b1", "__boff")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    block: int = 4096,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in id
    order, token counts accumulate, and each document is assigned to the
    training window (bin) its first token lands in.

    Scale shape: the running token count is a hierarchical ``prefix_sum``
    — within-block windows are hash-partitioned on the derived block key
    (ONE data shuffle), block offsets come from per-block aggregates, and
    the top level is a broadcast self-join, so no unpartitioned window
    exists at any level. Using a derived block key instead of
    ``spark_partition_id()`` keeps the layout independent of cluster
    size. Assumes roughly-dense ids (sparse ids skew block sizes but
    never break correctness)."""
    toks = F.ceil(F.length(text_col) / 4).cast("long")
    base = docs.select(F.col(id_col), toks.alias("__tok"))
    packed = prefix_sum(base, id_col, "__tok", "__pre", block).withColumn(
        "bin_id", F.floor(F.col("__pre") / budget)
    )
    return packed.select(id_col, "__tok", "bin_id")


def pack_bins_summary(packed: DataFrame, budget: int) -> DataFrame:
    """Per-bin fill statistics for a pack_sequences layout."""
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__tok").cast("long").alias("tokens"),
        )
        .withColumn("fill", F.round(F.col("tokens") / budget, 4))
    )


def shingle_set(docs: DataFrame, k: int, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Distinct word k-gram shingles per document (short docs fall back to
    the whole text as a single shingle). One scan, no Python."""
    from ytsaurus_spark.operators import spread_scan

    t = F.split(F.col(text_col), " ")
    shingles = F.when(
        F.size(t) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - k),
            lambda i: F.array_join(F.slice(t, i + 1, k), " "),
        ),
    ).otherwise(F.array(F.array_join(t, " ")))
    return spread_scan(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(F.array_distinct(shingles)).alias("s")
    )


def contamination_check(
    train: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination scan: training docs sharing any word k-gram
    with a benchmark/eval set, with the overlap count.

    Scale shape: inverted-index equi-join on the shingle string. The
    benchmark side (eval suites, ~thousands of docs) is tiny relative to a
    100 TB corpus, so its distinct-shingle set broadcasts; the train side
    streams through one scan + one local dedup. No all-pairs comparison.
    """
    bench_sh = shingle_set(benchmark, k, id_col, text_col).select("s").distinct()
    train_sh = shingle_set(train, k, id_col, text_col)
    return (
        train_sh.join(F.broadcast(bench_sh), "s")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


# PII patterns are deliberately minimal + engine-portable (RE2 and Java
# regex agree on this subset): emails, NNN-NNNN phone tails, 6+ digit runs.
PII_PATTERNS = [
    ("[a-z0-9._]+@[a-z0-9]+\\.[a-z]+", "<EMAIL>"),
    ("[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("[0-9]{6,}", "<NUM>"),
]


def pii_scrub(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Redact PII-shaped spans, keeping a per-doc redaction count. The
    count is computed from regexp_extract_all *before* replacement so
    overlapping pattern classes are counted once per class, in order."""
    out = docs
    scrubbed = F.col(text_col)
    n_red = F.lit(0).cast("long")
    for pat, repl in PII_PATTERNS:
        n_red = n_red + F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0)))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.select(
        F.col(id_col),
        n_red.alias("n_redactions"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, int],
    default_rate: int = 100,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its id-hash
    bucket (0..99) falls below the stratum's percentage rate.

    Scale shape: the rate table is a literal CASE expression — no join, no
    shuffle; the filter is evaluated inside the scan stage and re-runs
    byte-identically on any cluster size.
    """
    rate = F.lit(default_rate)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == k, v).otherwise(rate)
    return docs.filter(_hash_bucket(F.col(id_col)) < rate)


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Intra-document repetition: highest single-token share of the doc.

    Token histogram per doc via explode + two aggregations (both partial-
    agg'd map-side); no window, no Python. Degenerate repeated-phrase docs
    surface with top_ratio → 1.
    """
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    per_tok = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_tok.groupBy(id_col)
        .agg(
            F.max("c").cast("long").alias("top_count"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
        .withColumn("top_ratio", F.round(F.col("top_count") / F.col("n_tokens"), 4))
    )


def train_mix_weights(
    docs: DataFrame,
    stratum_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.0,
) -> DataFrame:
    """Domain-mixture reweighting: per-stratum token mass and the sampling
    weight that moves the mixture to a TEMPERATURE-scaled target — the
    T5/multilingual convention ``target_share ∝ natural_share^alpha``:
    ``alpha = 1`` keeps natural proportions, ``alpha = 0`` (default,
    the original behavior) equalizes all strata, values between damp
    dominant domains without flattening them (0.3–0.7 is the usual
    pretraining range). ``weight = target_share / natural_share``, so
    feeding it to stratified_sample / weighted loaders realizes the
    target. One aggregation + a broadcast scalar.

    Determinism note: the registered oracle uses alpha = 0.5 because
    ``pow(x, 0.5) = sqrt(x)`` is correctly rounded IEEE in every engine;
    arbitrary exponents go through libm ``pow``, whose last ulp may
    differ across engines — fine for training, not for an exact-repr
    gate."""
    per = docs.groupBy(stratum_col).agg(
        F.sum(F.ceil(F.length(text_col) / 4)).cast("long").alias("tokens")
    )
    if alpha == 0.0:
        powered = F.lit(1.0)
    elif alpha == 0.5:
        powered = F.sqrt(F.col("tokens").cast("double"))
    elif alpha == 1.0:
        powered = F.col("tokens").cast("double")
    else:
        powered = F.pow(F.col("tokens").cast("double"), F.lit(alpha))
    per = per.withColumn("__p", powered)
    total = per.agg(
        F.sum("tokens").cast("double").alias("t"),
        F.sum("__p").alias("sp"),
    )
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            stratum_col,
            "tokens",
            F.round(
                (F.col("__p") / F.col("sp"))
                / (F.col("tokens") / F.col("t")),
                6,
            ).alias("weight"),
        )
    )


def global_shuffle(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic global shuffle for training order: sort by
    md5(id) — a pseudorandom permutation that is reproducible across
    engines, re-runs, and cluster sizes (no seed state, no driver RNG).
    At scale this is ONE range shuffle (repartitionByRange semantics of a
    global sort), the standard way to decorrelate a 100 TB corpus before
    sharding into training files."""
    return docs.withColumn("__shuffle_key", F.md5(F.col(id_col).cast("string"))).orderBy(
        "__shuffle_key"
    )


def length_buckets(
    docs: DataFrame,
    n_buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-bucketed batching: docs grouped into ``n_buckets`` quantile
    buckets of estimated token length, so batches pad to similar lengths
    (the throughput trick sequence-packing doesn't cover for padded-batch
    trainers).

    Scale shape: a global ``ntile`` window would sort the whole corpus on
    one executor. Instead the quantiles come from the token-LENGTH
    HISTOGRAM: one groupBy on the token count (cardinality bounded by the
    max document length — thousands of distinct values at 100 TB, never
    corpus-sized), a hierarchical ``prefix_sum`` over that histogram for
    exact cumulative counts, and a broadcast join back to assign
    ``bucket = floor(n_buckets * rows_strictly_shorter / n) + 1`` in the
    scan stage. Zero data-scale sorts, zero unpartitioned windows; ties
    (equal token counts) land in one bucket, which is exactly what a
    padded-batch trainer wants."""
    toks = F.ceil(F.length(text_col) / 4).cast("long")
    t = docs.select(F.col(id_col), toks.alias("est_tokens"))
    hist = t.groupBy("est_tokens").agg(F.count(F.lit(1)).alias("__c"))
    cum = prefix_sum(hist, "est_tokens", "__c", "__c_lt")
    total = hist.agg(F.sum("__c").alias("__n"))
    buckets = (
        cum.crossJoin(F.broadcast(total))
        .select(
            "est_tokens",
            (
                F.floor(F.lit(n_buckets) * F.col("__c_lt") / F.col("__n")) + 1
            ).alias("bucket"),
        )
    )
    return t.join(F.broadcast(buckets), "est_tokens").select(
        id_col, "est_tokens", "bucket"
    )


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 200,
    overlap: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size overlapping character windows —
    the embedding-pipeline pre-step (chunk → embed → index). Offsets are
    generated with `sequence()` and exploded INSIDE the scan stage, so
    chunking is embarrassingly parallel: no shuffle, no Python, output
    rows ≈ corpus_chars / stride. `chunk_id = offset div stride` keeps
    ids stable under re-partitioning (never a window or zipWithIndex)."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    off = F.explode(
        F.sequence(
            F.lit(0),
            F.greatest(F.length(text_col), F.lit(1)) - 1,
            F.lit(stride),
        )
    ).alias("off")
    return docs.select(F.col(id_col), F.col(text_col), off).select(
        id_col,
        F.expr(f"off div {stride}").cast("int").alias("chunk_id"),
        F.col("off").cast("long").alias("offset"),
        F.substring(F.col(text_col), F.col("off") + 1, chunk_chars).alias(
            "chunk_text"
        ),
    )


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
    each row draws a deterministic uniform u from md5(id) and ranks by
    ln(u)/w — the top-k by that key is an exact weighted sample, and the
    whole thing is one TakeOrderedAndProject (distributed heap top-k, no
    global sort, no shuffle of the losers). The training-mix primitive
    for 'sample 10M docs proportional to quality weight' at corpus
    scale; deterministic because u is a hash, so the sample is
    reproducible and oracle-checkable."""
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / float((1 << 32) + 1)
    key = F.log(u) / F.col(weight_col)
    return (
        docs.withColumn("__es_key", key)
        .orderBy(F.col("__es_key").desc(), F.col(id_col))
        .limit(k)
        .drop("__es_key")
    )


def select_to_budget(
    docs: DataFrame,
    budget_denom: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Quality-ranked greedy selection up to a token budget — the "pick
    the best N tokens" step of a training-data mix: rank documents by a
    lexical-diversity priority (scaled type-token ratio, exact integer),
    then walk the ranking accumulating estimated BPE tokens
    (``ceil(n_chars / 4)``) and keep every document that still fits
    within ``total_tokens / budget_denom``.

    The budget is data-relative (a fraction of the corpus), so the
    operator is scale-free; selection is a clean prefix cut — the
    running total counts every ranked row, so the kept set is the
    longest prefix of the ranking that fits — deterministic and a pure
    function of the ranking.

    Scale shape: the running total uses the hierarchical
    ``prefix_sum`` (no single-partition window anywhere), the corpus
    total is a 1-row broadcast, and everything else is a projection.
    All arithmetic is integer (ceil via ``(x + 3) div 4``, ranking via
    integer cross-multiplication) — bit-identical in the oracle.
    The doc-grain stats projection is persisted (3 small columns, the
    fold/push/persist rule's all-consumers-need-all case) so the
    budget total, the ordering key, and the prefix sum all read it
    without re-scanning the corpus text."""
    stats = docs.select(
        F.col(id_col),
        F.expr(f"((`{chars_col}`) + 3) div 4").cast("long").alias("est_tokens"),
        F.expr(
            f"(CAST(size(array_distinct(split(`{text_col}`, ' '))) AS BIGINT)"
            f" * 1000000) div size(split(`{text_col}`, ' '))"
        ).cast("long").alias("priority"),
    ).transform(materialize)
    # integer ordering key: priority DESC, doc_id ASC
    keyed = stats.withColumn(
        "__k",
        (F.lit(1000000) - F.col("priority")) * F.lit(10_000_000_000)
        + F.col(id_col),
    )
    budget = stats.agg(
        F.expr(f"(sum(est_tokens)) div {budget_denom}").alias("__budget")
    )
    pre = prefix_sum(keyed, "__k", "est_tokens", out_col="__before")
    return (
        pre.crossJoin(F.broadcast(budget))
        .where(F.col("__before") + F.col("est_tokens") <= F.col("__budget"))
        .select(
            id_col,
            "priority",
            "est_tokens",
            (F.col("__before") + F.col("est_tokens")).alias("cum_tokens"),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions by content hash: one
    row per document id with status ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` — the static-table analog of the
    dynamic-table CDC ``changes_between``, used to audit what a
    recrawl/refresh actually did before retraining on it.

    One full-outer hash join on the id; content comparison is md5, so
    the diff never shuffles document bodies — at 100 TB both sides
    reduce to (id, 32-byte hash) before the join."""
    o = old.select(F.col(id_col), F.md5(F.col(text_col)).alias("__oh"))
    n = new.select(F.col(id_col), F.md5(F.col(text_col)).alias("__nh"))
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("__oh").isNull(), "added")
        .when(F.col("__nh").isNull(), "removed")
        .when(F.col("__oh") == F.col("__nh"), "unchanged")
        .otherwise("changed")
    )
    return j.select(F.col(id_col), status.alias("status"))


def balanced_shards(
    docs: DataFrame,
    num_shards: int = 8,
    id_col: str = "doc_id",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Assign documents to ``num_shards`` near-equal-token output shards
    — the export-sharding step of a training-data pipeline (each shard
    becomes one output file / tape of roughly equal training cost).

    Deterministic bin assignment, not bin packing: shard =
    exclusive-prefix-tokens // ceil(total/num_shards) in id order, so
    every engine computes the identical split and shard sizes differ
    only by the one straddling document per boundary. The running total
    is the hierarchical ``prefix_sum`` (no unpartitioned window at any
    level); the corpus total is a 1-row broadcast. All arithmetic is
    integer. Returns one row per shard: (shard_id, n_docs, n_tokens)."""
    est = docs.select(
        F.col(id_col),
        F.expr(f"CAST(({chars_col} + 3) div 4 AS BIGINT)").alias("est_tokens"),
    ).transform(materialize)  # consumed by prefix_sum (twice) and the corpus total
    with_prefix = prefix_sum(est, id_col, "est_tokens", out_col="__prefix")
    total = est.agg(F.sum("est_tokens").cast("long").alias("__total"))
    # all-integer: shard_size = ceil(total / S) via (total + S - 1) div S —
    # exact past 2^53 where a double round-trip would not be
    assigned = with_prefix.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        "est_tokens",
        F.expr(
            f"CAST(__prefix div ((__total + {num_shards - 1}) div {num_shards}) "
            "AS BIGINT)"
        ).alias("shard_id"),
    )
    return (
        assigned.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("est_tokens").cast("long").alias("n_tokens"),
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    chunk_chars: int = 160,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus paragraph-level exact dedup WITH document reassembly
    — the RefinedWeb/C4 move of dropping repeated passages everywhere
    they recur while keeping each document's unique remainder (the
    synthetic corpus has no newlines, so 'paragraph' = fixed
    ``chunk_chars`` window; a real corpus swaps the chunker for a
    newline split, identical plan shape).

    Keep rule: a chunk instance survives iff it is the globally FIRST
    occurrence of its content, first = min (doc_id, offset) — one
    hash-partitioned window, deterministic. Reassembly concatenates each
    document's surviving chunks in offset order via an in-row sort of
    the collected (offset, chunk) structs.

    Scale shape: chunking explodes inside the scan (no shuffle); dedup
    is ONE shuffle on the chunk hash; reassembly is ONE shuffle on
    doc_id with per-doc state bounded by the document's own chunk count.
    Returns (doc_id, clean_text, n_chunks, n_dropped)."""
    from pyspark.sql import Window as W

    chunks = chunk_documents(
        docs, chunk_chars=chunk_chars, overlap=0,
        text_col=text_col, id_col=id_col,
    ).select(id_col, "offset", "chunk_text")
    w = W.partitionBy(F.md5("chunk_text")).orderBy(id_col, "offset")
    flagged = chunks.withColumn("__rn", F.row_number().over(w))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("__rn") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__rn") == 1,
                                F.struct(F.col("offset"), F.col("chunk_text")),
                            )
                        )
                    ),
                    lambda s: s.chunk_text,
                ),
                "",
            ).alias("clean_text"),
        )
        .select(id_col, "clean_text", "n_chunks", "n_dropped")
    )


def source_cap(
    docs: DataFrame,
    cap: int = 10,
    salt_buckets: int = 16,
    id_col: str = "doc_id",
    source_col: str = "source",
    order_col: str = "n_chars",
) -> DataFrame:
    """Per-source (per-domain) document cap — the RefinedWeb/CCNet move
    of bounding how much any single domain contributes to the training
    mix: within each source, keep only the top ``cap`` documents ranked
    by ``order_col`` DESC (ties broken by ``id_col`` ASC) and flag the
    rest as dropped.

    Scale shape: a single row_number window over the raw source key
    inherits the corpus's domain skew (one mega-domain = one hot
    partition carrying all its rows). Instead the top-``cap`` selection
    runs in two phases: phase 1 ranks within (source, salt) where salt
    = md5-hash(id) % ``salt_buckets`` — skew-free, and any row ranked
    > cap inside its salt bucket can never make the global top cap, so
    it is finalized as dropped right there — its bulk is never
    shuffled again (and never joined back: the result is the UNION of
    the early-dropped stream and the re-ranked survivors, so the
    corpus crosses exactly one skew-free exchange). Phase 2 re-ranks
    only the <= salt_buckets * cap per-source survivors on the raw
    key — a bounded, tiny exchange. Both windows order identically,
    so the result is exactly the unsalted rank.

    Returns one row per document: (id, source, order_col, kept)."""
    salted = docs.select(
        F.col(id_col), F.col(source_col), F.col(order_col),
        _hash_bucket(F.col(id_col), salt_buckets).alias("__salt"),
    )
    w1 = Window.partitionBy(source_col, "__salt").orderBy(
        F.col(order_col).desc(), F.col(id_col)
    )
    # both union branches consume the ranked frame; persist the narrow
    # (id, source, order, salt, rk1) projection so the corpus is scanned
    # and salt-shuffled once, not once per branch
    phase1 = salted.withColumn("__rk1", F.row_number().over(w1)).transform(materialize)
    early_dropped = phase1.filter(F.col("__rk1") > cap).select(
        id_col, source_col, order_col, F.lit(False).alias("kept")
    )
    w2 = Window.partitionBy(source_col).orderBy(
        F.col(order_col).desc(), F.col(id_col)
    )
    survivors = (
        phase1.filter(F.col("__rk1") <= cap)
        .withColumn("__rk", F.row_number().over(w2))
        .select(
            id_col, source_col, order_col,
            (F.col("__rk") <= cap).alias("kept"),
        )
    )
    return survivors.unionByName(early_dropped)


def filter_attrition(
    flags: DataFrame,
    gates: list,
) -> DataFrame:
    """Waterfall attrition report for a gate pipeline: given per-row
    boolean gate columns evaluated in ``gates`` order, report how many
    rows REACH each gate (passed all earlier ones) and how many die
    there — the funnel every corpus-cleaning pipeline publishes next to
    its dataset card (which single filter is eating the corpus?).

    ONE aggregate computes 2·|gates| conditional sums (reach_i =
    AND of earlier gates, fail_i = reach_i AND NOT gate_i) — the corpus
    crosses zero joins and one all-to-one exchange; the ≤|gates|-row
    pivot happens on the single aggregate row via stack(). Counts are
    exact BIGINTs; fail_ppm takes one half-up floor.

    Returns (stage, gate, n_in, n_fail, n_out, fail_ppm) per gate,
    stage 1-based in pipeline order."""
    aggs = []
    reach = F.lit(True)
    for i, g in enumerate(gates, start=1):
        aggs.append(
            F.sum(F.when(reach, 1).otherwise(0))
            .cast("long")
            .alias(f"in_{i}")
        )
        aggs.append(
            F.sum(F.when(reach & ~F.col(g), 1).otherwise(0))
            .cast("long")
            .alias(f"fail_{i}")
        )
        reach = reach & F.col(g)
    one = flags.agg(*aggs)
    stack_args = ", ".join(
        f"{i}, '{g}', in_{i}, fail_{i}" for i, g in enumerate(gates, start=1)
    )
    rows = one.select(
        F.expr(
            f"stack({len(gates)}, {stack_args}) AS (stage, gate, n_in, n_fail)"
        )
    )
    return rows.select(
        F.col("stage").cast("int").alias("stage"),
        "gate",
        "n_in",
        "n_fail",
        (F.col("n_in") - F.col("n_fail")).cast("long").alias("n_out"),
        F.when(F.col("n_in") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                F.col("n_fail").cast("double") * 1e6
                / F.col("n_in").cast("double")
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("fail_ppm"),
    ).orderBy("stage")


def kfold_split(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    strat_col: str = None,
) -> DataFrame:
    """Deterministic k-fold assignment for cross-validation exports:
    fold = int(md5(id)[:8], 16) % k — content-independent, engine-portable,
    and stable under reshuffles/reruns (the property random() lacks),
    computed in the scan projection with zero shuffles for the
    assignment itself.

    Returns the per-(fold[, strat]) audit frame the split gets reviewed
    with: (fold[, strat], n_rows) — at 100 TB the assignment column is
    free (pure projection) and only the audit aggregate exchanges."""
    fold = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % F.lit(k)
    ).cast("int")
    cols = [fold.alias("fold")]
    group = ["fold"]
    if strat_col:
        cols.append(F.col(strat_col).alias("strat"))
        group.append("strat")
    return (
        docs.select(*cols)
        .groupBy(*group)
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .orderBy(*group)
    )


def dsir_select(
    docs: DataFrame,
    target_pred,
    num_buckets: int = 256,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): pick raw-pool documents whose hashed-n-gram
    profile looks most like a TARGET corpus.

    Published recipe: featurize every document into hashed unigram +
    bigram bucket counts; fit bag-of-hashed-ngram models p (target) and
    q (raw) with add-1 smoothing; weight each raw doc by
    ``log w(x) = Σ_b c_x[b]·(log p[b] − log q[b])``; resample by weight.

    Exactness discipline (the repo's unigram_surprisal convention): the
    per-bucket log-ratio is quantized to WHOLE BITS via the digit-length
    floor-log2 identity — ``wbits[b] = ⌊log2(t[b]+1)⌋ − ⌊log2(r[b]+1)⌋``
    plus the per-token normalizer ``⌊log2(R+B)⌋ − ⌊log2(T+B)⌋`` — so doc
    scores are exact BIGINT sums, identical on any engine, and the
    selection is the deterministic temperature→0 limit of importance
    resampling (production adds Gumbel noise to the same scores; a fixed
    noise table would re-make it deterministic).

    Plan shape at 100 TB: ONE explode to (doc, bucket) counts, persisted;
    two bucket-grain aggregates (map-side combinable, B rows out); the
    B-row weight table broadcasts; a doc-grain sum and a top-k. No
    global window, no vocabulary shuffle — buckets bound every
    intermediate at B regardless of corpus size.
    """
    t = F.split(F.col(text_col), " ")
    n = F.size(t)
    grams = F.concat(
        t,
        F.zip_with(
            F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(t, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    )
    feat = docs.select(
        F.col(id_col),
        target_pred.alias("__is_t"),
        F.explode(grams).alias("g"),
    ).select(
        id_col,
        "__is_t",
        (
            F.conv(F.substring(F.md5(F.col("g")), 1, 4), 16, 10).cast("long")
            % num_buckets
        ).alias("b"),
    )
    cx = (
        feat.groupBy(id_col, "__is_t", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize)
    )
    tb = cx.groupBy("b").agg(
        F.sum(F.when(F.col("__is_t"), F.col("c")).otherwise(0)).alias("tc"),
        F.sum(F.when(~F.col("__is_t"), F.col("c")).otherwise(0)).alias("rc"),
    )

    def flog2(c):
        return F.length(F.conv(c.cast("string"), 10, 2)) - 1

    tot = tb.agg(
        flog2(F.sum("rc") + num_buckets).alias("lr"),
        flog2(F.sum("tc") + num_buckets).alias("lt"),
    )
    w = tb.select(
        "b", (flog2(F.col("tc") + 1) - flog2(F.col("rc") + 1)).alias("wb")
    )
    scored = (
        cx.filter(~F.col("__is_t"))
        .join(F.broadcast(w), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.sum(F.col("c") * F.col("wb")).cast("long").alias("gram_bits"),
            F.sum(F.col("c") * (F.col("lr") - F.col("lt")))
            .cast("long")
            .alias("norm_bits"),
        )
        .select(
            id_col,
            (F.col("gram_bits") + F.col("norm_bits")).alias("dsir_score"),
        )
    )
    return scored.orderBy(F.col("dsir_score").desc(), id_col).limit(top_k)
