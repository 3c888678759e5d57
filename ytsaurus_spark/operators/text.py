"""Text analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All built-in string/array functions — no UDFs — so the operators run at scan
speed and push column pruning into parquet (only ``text`` + ids are read).
Formulas are engine-portable; the DuckDB oracles mirror them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ytsaurus_spark.operators import iterate, materialize

# Tiny function-word list for the ratio features (synthetic corpus is
# English-like; real pipelines plug in per-language lists).
STOPWORDS = ("the", "a", "of", "and", "to", "in")


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count, char count, distinct tokens, avg token length,
    and a BPE-ish subword estimate (ceil(chars/4) — the common LLM rule of
    thumb for English text)."""
    t = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col),
        F.size(t).cast("long").alias("n_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        F.round(
            (F.length(text_col) - (F.size(t) - 1)) / F.size(t), 4
        ).alias("avg_token_len"),
        F.ceil(F.length(text_col) / 4).cast("long").alias("est_bpe_tokens"),
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + a composite score in [0,1]:
    stopword ratio, type-token ratio, mean word length band. Mirrors the
    usual Gopher/C4-style filters in spirit, deterministic in form."""
    t = F.split(F.col(text_col), " ")
    n = F.size(t)
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
    n_stop = F.expr(f"size(filter(split({text_col}, ' '), w -> array_contains({stop_arr}, w)))")
    ttr = F.size(F.array_distinct(t)) / n
    stop_ratio = n_stop / n
    mean_len = (F.length(text_col) - (n - 1)) / n
    len_ok = F.when((mean_len >= 2) & (mean_len <= 10), F.lit(1.0)).otherwise(F.lit(0.0))
    score = F.round(
        (F.least(stop_ratio * 5, F.lit(1.0)) + F.least(ttr * 2, F.lit(1.0)) + len_ok) / 3,
        4,
    )
    return docs.select(
        F.col(id_col),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(ttr, 4).alias("type_token_ratio"),
        F.round(mean_len, 4).alias("mean_word_len"),
        score.alias("quality"),
    )


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """N-gram-free heuristic language ID: function-word hit rate.

    Predicts 'en' when stopword density clears a threshold, else 'other'.
    (A real n-gram model is a per-language weight table joined the same
    way; the plumbing — explode, lookup, aggregate, argmax — is identical.)"""
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
    n_stop = F.expr(f"size(filter(split({text_col}, ' '), w -> array_contains({stop_arr}, w)))")
    n = F.size(F.split(F.col(text_col), " "))
    pred = F.when(n_stop / n >= 0.05, "en").otherwise("other")
    return docs.select(
        F.col(id_col),
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set — a canonical bag-of-words hash that survives shuffling and
    duplication of words (the cheap cousin of minhash for exact-set dedup)."""
    canon = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.col(text_col), " "))), " "
    )
    return docs.select(F.col(id_col), F.md5(canon).alias("fingerprint"))


def word_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram (word) Shannon entropy and normalized lexical
    diversity — a standard corpus-quality signal: machine-generated or
    boilerplate text shows low entropy, natural prose high.

    Computed distributed as two partial-aggregable groupBys (never a
    per-doc collect): explode words → count per (doc, word) → fold with
    the shift identity ``H = log2(n) − (Σ c·log2 c) / n``, which needs
    only SUM/COUNT — both map-side combinable, so at 10^10 docs the
    shuffle carries (doc, word) partial counts and then doc-sized rows.
    ``norm_entropy = H / log2(n_types)`` rescales to [0, 1]."""
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    )
    counts = words.groupBy(id_col, "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    e = counts.groupBy(id_col).agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("cnt") * F.log2("cnt")).alias("__clogc"),
    )
    h = F.log2("n_tokens") - F.col("__clogc") / F.col("n_tokens")
    return e.select(
        F.col(id_col),
        "n_tokens",
        "n_types",
        F.round(h, 6).alias("entropy"),
        F.when(F.col("n_types") > 1, F.round(h / F.log2("n_types"), 6))
        .alias("norm_entropy"),
    )


def vocabulary(
    docs: DataFrame,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary: term frequency + document frequency per token,
    top-k by frequency. The top-k is orderBy+limit (TakeOrderedAndProject
    — per-partition heaps), NOT a global rank window; df comes from a
    distinct (doc, token) pre-aggregation so both counts partial-agg
    map-side. The seed step for BPE training / idf tables."""
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    per_doc = words.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("__tf_d")
    )
    return (
        per_doc.groupBy("token")
        .agg(
            F.sum("__tf_d").cast("long").alias("tf"),
            F.count(F.lit(1)).cast("long").alias("df"),
        )
        .orderBy(F.col("tf").desc(), "token")
        .limit(top_k)
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf
    (idf = ln(N/df)). Shape: per-(doc, token) counts and per-token
    document frequencies are both partial-agg'd groupBys; they meet in a
    keyed equi-join on token (vocab-sized side broadcasts when small,
    shuffles keyed when not); the final top-k window partitions by doc —
    never global. Scores divide exact integer counts so the doubles are
    engine-identical; ties break on the token string."""
    from pyspark.sql import Window as W

    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tf = words.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_t = words.select(id_col, "token").distinct().groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(df_t, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            id_col,
            "token",
            "tf",
            "df",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``n_merges`` byte-pair-encoding merges from the
    corpus — the tokenizer-training primitive. Each iteration is one
    DISTRIBUTED job: adjacent-pair counts aggregate over the word-
    frequency table (partial-agg'd, vocab-sized — at 100 TB the vocab is
    millions of rows, never corpus-sized, because pair statistics weight
    by word FREQUENCY, the classic BPE trick), and only the single
    argmax pair row reaches the driver — the coordinator decision, the
    same role the reference's scheduler plays between jobs. The merge
    applies as one string `replace` over symbol sequences wrapped in
    sentinel pairs (``\\x1f a \\x1f\\x1f b \\x1f``), which makes SQL's
    non-overlapping left-to-right replace EQUAL to greedy BPE (each
    boundary owns its own sentinel, so back-to-back matches like
    [e,r,e,r] both merge). Ties break on the pair string, so the learned
    table is deterministic and oracle-comparable."""
    S = "chr(31)"  # symbol sentinel
    P = "chr(1)"  # pair separator
    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.length("word") > 0)
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    seq = vocab.select(
        F.expr(
            f"{S} || array_join(transform(sequence(1, length(word)), "
            f"i -> substring(word, i, 1)), {S} || {S}) || {S}"
        ).alias("s"),
        "freq",
    )
    pairs_expr = (
        f"CASE WHEN size(l) >= 2 THEN transform(sequence(0, size(l) - 2), "
        f"i -> concat(element_at(l, i + 1), {P}, element_at(l, i + 2))) "
        f"ELSE array() END"
    )
    merges = []

    def merge_top(seq):
        counts = (
            seq.select(
                F.expr(f"split(btrim(s, {S}), {S} || {S})").alias("l"), "freq"
            )
            .select(F.explode(F.expr(pairs_expr)).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        head = counts.orderBy(F.col("cnt").desc(), "pair").limit(1).collect()
        if not head:
            return seq  # corpus exhausted (every word is a single symbol)
        top = head[0]
        a, b = top.pair.split("\x01")
        merges.append((len(merges) + 1, a, b, a + b, top.cnt))
        sep = "\x1f"
        return seq.select(
            F.replace(
                F.col("s"),
                F.lit(sep + a + sep + sep + b + sep),
                F.lit(sep + a + b + sep),
            ).alias("s"),
            "freq",
        )

    iterate(seq, merge_top, n_merges)

    # vocab-sized local rows: slice by SIZE (one slice per 64k rows, like
    # queries.local_result) — a bare createDataFrame parallelizes into
    # defaultParallelism Python-backed slices and every downstream action
    # pays that many task launches for a table of a few hundred merges
    spark = docs.sparkSession
    return spark.createDataFrame(
        spark.sparkContext.parallelize(merges, max(1, -(-len(merges) // 65536))),
        schema="step int, left_sym string, right_sym string, merged string, cnt bigint",
    )


def lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Statistical language-model quality score: average log2 probability
    of each document's character bigrams under a bigram model trained on
    the corpus itself (add-one smoothing over the observed alphabet) —
    the CCNet-style perplexity filter with the n-gram LM trained in-plan
    instead of imported (no external model artifact, fully deterministic).

    Three partial-agg'd aggregates train the model (bigram counts, prefix
    counts, alphabet size); scoring joins each doc's bigrams to the
    broadcast-able count tables. At 100 TB the model tables are
    alphabet²-sized — KBs — so the corpus is scanned twice (train, score)
    and never shuffled by anything wider than a bigram key. Low scores =
    improbable character sequences = boilerplate/garbled text.

    Returns (id, n_bigrams, lm_score); lm_score rounded for
    engine-stable comparisons.
    """
    bg = docs.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, length({text_col}) - 1), "
                f"i -> substring({text_col}, i, 2))"
            )
        ).alias("bg"),
    )
    # ONE training scan: the bigram-count table is alphabet²-sized (KBs),
    # so prefix counts and alphabet size derive from it exactly —
    # c_pre = Σ c_bg per first char (occurrence count by prefix), and
    # vsize = |distinct second chars| (distinct over the support set ==
    # distinct over the multiset). The former three independent
    # aggregates each re-scanned and re-exploded the corpus; with the
    # lazy persist the corpus is scanned exactly twice (train + score),
    # the documented scale posture.
    joint = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg")).transform(materialize)
    prefix = joint.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("c_bg").alias("c_pre")
    )
    alphabet = joint.select(
        F.countDistinct(F.substring("bg", 2, 1)).alias("vsize")
    )
    scored = (
        bg.join(F.broadcast(joint), "bg")
        .withColumn("c1", F.substring("bg", 1, 1))
        .join(F.broadcast(prefix), "c1")
        .join(F.broadcast(alphabet))
        .withColumn(
            "lp",
            F.log2((F.col("c_bg") + 1) / (F.col("c_pre") + F.col("vsize"))),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), round_to).alias("lm_score"),
    )


def classifier_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    extra_cols: tuple = (),
) -> DataFrame:
    """fastText/DCLM-style quality classifier applied IN-PLAN: a fixed-
    weight logistic layer over deterministic text features (stopword
    ratio, type-token ratio, mean word length, digit ratio, length norm).
    The model is frozen weights — training happens offline; at pipeline
    scale the score is pure codegen arithmetic over one scan, no Python
    and no shuffle.

    Determinism: the emitted score is the LOGIT (the linear layer), not
    the sigmoid — sigmoid needs exp(), whose last ulp differs between
    libm implementations (JVM vs DuckDB), which flaked the sf0.1 oracle
    exactly once at a 4-decimal rounding half. The logit is a dot product
    of half-up-quantized features: every operation is the identical IEEE
    op on identical doubles in both engines. keep ≡ sigmoid(z) >= thr ≡
    z >= logit(thr), so the filter semantics are unchanged; callers
    wanting calibrated probabilities apply sigmoid downstream.

    Mirrors the reference's corpus-filter stage in spirit (quality gates
    ahead of dedup in training-data pipelines); weights are illustrative.
    """
    import math

    t = F.split(F.col(text_col), " ")
    n = F.size(t)
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
    n_stop = F.expr(f"size(filter(split({text_col}, ' '), w -> array_contains({stop_arr}, w)))")
    # half-up quantization to 1e-4: floor(x*10^4 + 0.5) is the identical
    # IEEE op chain in both engines (plain round(x, 4) diverges on halves)
    r4 = lambda c: F.floor(c * 10000 + 0.5).cast("long") / 10000.0  # noqa: E731
    stop_ratio = r4(n_stop / n)
    ttr = r4(F.size(F.array_distinct(t)) / n)
    mean_len = r4(((F.length(text_col) - (n - 1)) / n) / 10.0)
    digit_ratio = r4(
        (F.length(text_col) - F.length(F.regexp_replace(F.col(text_col), "[0-9]", "")))
        / F.length(text_col)
    )
    len_norm = r4(F.least(F.length(text_col) / 1000.0, F.lit(1.0)))
    z = (
        2.0 * stop_ratio
        + 1.5 * ttr
        - 0.8 * mean_len
        - 3.0 * digit_ratio
        + 0.5 * len_norm
        - 0.5
    )
    logit = r4(z)
    thr_logit = math.log(threshold / (1.0 - threshold))
    return docs.select(
        F.col(id_col),
        # extra_cols ride the scoring projection so downstream evals
        # (e.g. auc against a label column) never join the corpus back
        *[F.col(c) for c in extra_cols],
        stop_ratio.alias("stop_ratio"),
        ttr.alias("ttr"),
        digit_ratio.alias("digit_ratio"),
        logit.alias("quality_logit"),
        (z >= thr_logit).alias("keep"),
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned BPE merge table (``bpe_learn_merges`` output) to
    tokenize every document and count tokens — the tokenizer-apply half
    of the pipeline. The model (a few hundred merge rows at most) is
    collected ONCE driver-side and compiled into a single codegen
    expression: per word, sentinel-wrap the characters then apply each
    merge in rank order as a string replace (the same sentinel trick the
    learner uses, so left-to-right non-overlapping replace == greedy
    BPE). The corpus never shuffles — tokenization happens in the scan
    stage; the per-doc aggregate is the only exchange. Fertility
    (tokens per char) is the standard tokenizer-quality metric."""
    sep = "\x1f"
    model = [
        (r.left_sym, r.right_sym)
        for r in merges.orderBy("step").collect()
    ]
    S = "chr(31)"
    enc = (
        f"{S} || array_join(transform(sequence(1, length(word)), "
        f"i -> substring(word, i, 1)), {S} || {S}) || {S}"
    )
    for a, b in model:
        lit = lambda x: "'" + x.replace("'", "\\'") + "'"  # noqa: E731
        enc = (
            f"replace({enc}, {S} || {lit(a)} || {S} || {S} || {lit(b)} || {S}, "
            f"{S} || {lit(a + b)} || {S})"
        )
    n_tok_word = f"size(split(btrim({enc}, {S}), {S} || {S}))"
    words = docs.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    ).filter(F.length("word") > 0)
    return (
        words.select(id_col, "n_chars", F.expr(n_tok_word).alias("n_tok"))
        .groupBy(id_col, "n_chars")
        .agg(F.sum("n_tok").cast("long").alias("n_tokens"))
        .select(
            id_col,
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("n_chars"), 4).alias("fertility"),
        )
    )


def repetition_signals(
    docs, text_col: str = "text", id_col: str = "doc_id"
):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1:
    'repetitious documents are a strong signal of low quality') over the
    word stream: bigram/trigram counts, the most-frequent-n-gram count,
    and the duplicated-n-gram mass, plus a 4-decimal duplicate-bigram
    ratio. Everything runs as JVM array HOFs inside the scan stage — one
    projection, no shuffle, no Python; counts are exact integers so the
    only double is the final ratio (blessed half-up-floor shape).

    The per-distinct-gram occurrence count is O(g²) in the document's
    gram count via ``filter`` rescans — deliberate: g is per-document
    (not corpus) sized, the work is whole-stage-codegen'd, and the
    alternative (explode + groupBy) would shuffle one row per corpus
    gram, which is the 100 TB anti-shape (compare winnow_fingerprints).
    """
    from pyspark.sql import functions as F

    t = f"`{text_col}`"

    def gram_stats(n: int, prefix: str):
        idx = f"sequence(1, size(__w) - {n - 1})"
        parts = ", ' ', ".join(
            f"element_at(__w, i + {j})" for j in range(n)
        )
        grams = f"transform({idx}, i -> concat({parts}))"
        counts = (
            f"transform(array_distinct({grams}), "
            f"g -> size(filter({grams}, x -> x = g)))"
        )
        return [
            F.expr(f"size({grams})").cast("long").alias(f"n_{prefix}"),
            F.expr(f"array_max({counts})")
            .cast("long")
            .alias(f"top_{prefix}_n"),
            F.expr(
                f"aggregate({counts}, 0, (a, c) -> a + IF(c > 1, c, 0))"
            )
            .cast("long")
            .alias(f"dup_{prefix}_n"),
        ]

    return docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__w")
    ).select(
        id_col,
        F.expr("size(__w)").cast("long").alias("n_words"),
        *gram_stats(2, "bigram"),
        *gram_stats(3, "trigram"),
    ).withColumn(
        "dup_bigram_ratio",
        F.expr(
            "CAST(floor(CAST(dup_bigram_n AS DOUBLE) * 1e4 / n_bigram"
            " + 0.5) AS BIGINT) / 1e4"
        ),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The full Gopher quality-filter rule set (Rae et al. 2021 §A1.1):
    word-count band, mean-word-length band, symbol-to-word ratio,
    bullet/ellipsis line fractions, alphabetic-word fraction, and the
    >=2-stopwords requirement, plus the conjunction ``passes``.

    Every rule is an INTEGER cross-multiplied comparison (``3*n <=
    sum_len <= 10*n`` instead of ``3 <= sum_len/n <= 10``) so the
    output is bit-identical across engines — no float division anywhere.
    One projection, array HOFs only, runs inside the scan stage with
    column pruning; at 100 TB this is a pure map over the corpus."""
    t = f"`{text_col}`"
    words = f"split({t}, ' ')"
    lines = f"split({t}, '\\n')"
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + ")"
    exprs = {
        "n_words": f"size({words})",
        "sum_word_len": f"aggregate({words}, 0, (a, w) -> a + length(w))",
        "n_alpha_words": (
            f"size(filter({words}, w -> w rlike '[a-zA-Z]'))"
        ),
        "n_stop_kinds": (
            f"size(array_intersect(array_distinct({words}), {stop_arr}))"
        ),
        "n_lines": f"size({lines})",
        "n_bullet_lines": f"size(filter({lines}, l -> l rlike '^[-*]'))",
        "n_ellipsis_lines": (
            f"size(filter({lines}, l -> l rlike '\\\\.\\\\.\\\\.$'))"
        ),
        "n_hash_symbols": f"length({t}) - length(replace({t}, '#', ''))",
    }
    cols = [F.col(id_col)] + [
        F.expr(e).cast("long").alias(n) for n, e in exprs.items()
    ]
    out = docs.select(*cols)
    n = F.col("n_words")
    rules = {
        "ok_word_count": (n >= 50) & (n <= 100000),
        "ok_mean_word_len": (F.col("sum_word_len") >= 3 * n)
        & (F.col("sum_word_len") <= 10 * n),
        # symbol-to-word ratio <= 0.1  ->  10 * symbols <= words
        "ok_symbol_ratio": 10 * F.col("n_hash_symbols") <= n,
        # < 90% of lines bullet-started  ->  10 * bullets < 9 * lines
        "ok_bullets": 10 * F.col("n_bullet_lines") < 9 * F.col("n_lines"),
        # < 30% of lines ellipsis-ended  ->  10 * ell < 3 * lines
        "ok_ellipsis": 10 * F.col("n_ellipsis_lines") < 3 * F.col("n_lines"),
        # >= 80% words contain an alphabetic char -> 5 * alpha >= 4 * words
        "ok_alpha": 5 * F.col("n_alpha_words") >= 4 * n,
        "ok_stopwords": F.col("n_stop_kinds") >= 2,
    }
    for name, cond in rules.items():
        out = out.withColumn(name, cond)
    passes = None
    for name in rules:
        passes = F.col(name) if passes is None else (passes & F.col(name))
    return out.withColumn("passes", passes)


def unigram_surprisal(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained unigram language-model score per document: train
    word frequencies over the WHOLE input, then score each doc by its
    mean per-token surprisal — the classic "perplexity filter" shape
    (rare-word-heavy or OOV-ish docs score high, boilerplate low).

    Surprisal is measured in WHOLE bits via exact integer arithmetic:
    ``floor(log2(n)) = len(binary(n)) - 1`` computed on the digit string
    (never libm — Java's ``log(x)/log(2)`` and C's ``log2`` disagree by
    1 ulp exactly where ``floor`` flips), so
    ``bits(w) = floorlog2(total_tokens) - floorlog2(count(w))`` and doc
    scores are exact BIGINT sums — order-independent at any scale.

    Shape at 100 TB: the corpus explodes ONCE into (doc, word) counts —
    persisted, since the vocab counts, the total, and the per-doc scores
    all derive from it — then word-grain groupBys (map-side combinable),
    a 1-row total broadcast, and a word-grain join for the score lookup
    (AQE broadcasts it while the vocab fits); the final agg is doc-grain.
    """
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    dw = materialize(words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c")))
    wc = dw.groupBy("w").agg(F.sum("c").alias("cnt"))
    total = wc.agg(F.sum("cnt").alias("total"))

    def flog2(c):
        return F.length(F.conv(c.cast("string"), 10, 2)) - 1

    sur = wc.crossJoin(F.broadcast(total)).select(
        "w", (flog2(F.col("total")) - flog2(F.col("cnt"))).cast("long").alias("bits")
    )
    return (
        dw.join(sur, "w")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("bits")).cast("long").alias("total_bits"),
        )
        .select(
            id_col,
            "n_tokens",
            "total_bits",
            (F.col("total_bits") / F.col("n_tokens")).alias("mean_bits"),
        )
    )


def feature_hash(
    docs: DataFrame,
    num_buckets: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing vectorizer (the "hashing trick"): bag-of-words
    counts folded into ``num_buckets`` dimensions by a stable md5 bucket
    of each word — the standard fixed-width featurization for linear
    classifiers/near-dup embeddings when the vocabulary is unbounded.

    Long output form (doc_id, bucket, cnt): the natural distributed
    layout (one map-side-combinable groupBy, no wide pivot), and the
    dense vector is one ``collect_list`` away for consumers that need
    it. Bucket ids are md5-derived, so the same word lands in the same
    bucket on any engine or cluster size."""
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10).cast("long")
        % num_buckets
    )
    return (
        words.select(F.col(id_col), bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def bigram_surprisal(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram conditional-surprisal score per document, in exact whole-bit
    arithmetic (see ``unigram_surprisal`` for why libm is banned):
    ``bits(w1 w2) = floorlog2(count(w1 ·)) - floorlog2(count(w1 w2))`` —
    the integer form of -log2 P(w2 | w1), where the context count sums
    over bigram STARTS so conditional probabilities are well-formed.
    Low mean bits = highly predictable word-to-word transitions
    (boilerplate/templates); high = unusual transitions.

    Shape: one projection builds per-doc bigram arrays (scan-stage HOFs),
    the (doc, bigram) counts persist once (corpus bigram counts, context
    counts, and per-doc scores all derive from them), then bigram-grain
    joins. Docs with <2 words have no bigrams and are excluded."""
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"CASE WHEN size(split(`{text_col}`, ' ')) >= 2 THEN "
                f"transform(sequence(0, size(split(`{text_col}`, ' ')) - 2), "
                f"i -> struct(element_at(split(`{text_col}`, ' '), i + 1) AS w1, "
                f"element_at(split(`{text_col}`, ' '), i + 2) AS w2)) "
                f"ELSE array() END"
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    dbg = (
        grams.groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize)
    )
    bg_counts = dbg.groupBy("w1", "w2").agg(F.sum("c").alias("bg_cnt"))
    ctx_counts = bg_counts.groupBy("w1").agg(F.sum("bg_cnt").alias("ctx_cnt"))

    def flog2(c):
        return F.length(F.conv(c.cast("string"), 10, 2)) - 1

    scored = bg_counts.join(ctx_counts, "w1").select(
        "w1",
        "w2",
        (flog2(F.col("ctx_cnt")) - flog2(F.col("bg_cnt"))).cast("long").alias("bits"),
    )
    return (
        dbg.join(scored, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("bits")).cast("long").alias("total_bits"),
        )
        .select(
            id_col,
            "n_bigrams",
            "total_bits",
            (F.col("total_bits") / F.col("n_bigrams")).alias("mean_bits"),
        )
    )


def c4_line_filter(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep only
    lines that (a) have >= 3 words, (b) end in terminal punctuation,
    (c) contain no '{', (d) contain neither "lorem ipsum" nor
    "javascript" (case-insensitive). Returns per-doc counts plus an md5
    of the kept text, so the cleaned content itself is oracle-hashable.

    One projection of array HOFs over the line split — scan-stage only,
    no shuffle; the filter conditions are all exact string predicates."""
    t = f"`{text_col}`"
    lines = f"split({t}, '\\n')"
    keep = (
        "filter({lines}, l -> size(split(l, ' ')) >= 3 "
        "AND l rlike '[.!?\"]$' "
        "AND NOT l rlike '\\\\{{' "
        "AND NOT lower(l) rlike 'lorem ipsum' "
        "AND NOT lower(l) rlike 'javascript')"
    ).format(lines=lines)
    return docs.select(
        F.col(id_col),
        F.expr(f"size({lines})").cast("long").alias("n_lines"),
        F.expr(f"size({keep})").cast("long").alias("n_kept"),
        F.expr(f"md5(array_join({keep}, CHAR(10)))").alias("kept_md5"),
    )


def inverted_index(
    docs: DataFrame,
    min_df: int = 5,
    postings_cap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed inverted-index construction — the canonical MapReduce
    workload (the reference's word-count/indexing Map+Sort+Reduce chain,
    yt/examples map_reduce): explode tokens, aggregate per term into
    document frequency, collection frequency, and a bounded posting list
    (first ``postings_cap`` doc ids ascending, comma-joined).

    Scale shape: ONE shuffle keyed on (doc, token) for the per-doc tf,
    then one on token; the posting list is capped BEFORE aggregation — a
    token-partitioned rank window marks the first ``postings_cap`` doc
    ids and only those enter the collect, so a stop-word's aggregation
    buffer holds at most ``postings_cap`` entries (an uncapped
    collect_set on 'the' accumulates every matching doc id on one
    executor before any slice could drop them — the memory bomb this
    bounds). The rank window reuses the token-grain exchange the final
    aggregate needs anyway."""
    from pyspark.sql import Window as PW

    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).filter(F.length("token") > 0)
    per_doc = words.groupBy("token", id_col).agg(
        F.count(F.lit(1)).alias("__tf_d")
    )
    w = PW.partitionBy("token").orderBy(id_col)
    flagged = per_doc.withColumn("__rn", F.row_number().over(w))
    return (
        flagged.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("__tf_d").cast("long").alias("cf"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("__rn") <= postings_cap, F.col(id_col))
                    )
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def cooccurrence_lift(
    docs: DataFrame,
    window: int = 3,
    min_pair: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Windowed token co-occurrence with lift scoring — the collocation /
    phrase-mining primitive (word2vec-style skip-gram pair extraction).
    A pair (x, y) is counted once per ordered position pair with
    1 ≤ pos_y − pos_x ≤ ``window``; lift = N · c_xy / (c_x · c_y) over
    position counts — a PMI monotone that needs no log, so the score is
    one exact IEEE division of exact integers (cross-engine stable,
    unlike ln()).

    Scale shape: the positional self-join is per-document AND bounded by
    the window via the band predicate, so intermediate size is
    |tokens| × window, never |tokens|²; both pair and unigram counts
    partial-aggregate map-side; the tiny total-count frame broadcasts."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    ).filter(F.length("tok") > 0).transform(materialize)
    right = toks.select(
        F.col(id_col).alias("__rid"),
        F.col("pos").alias("rpos"),
        F.col("tok").alias("rtok"),
    )
    pairs = (
        toks.join(
            right,
            (F.col(id_col) == F.col("__rid"))
            & (F.col("rpos") - F.col("pos") >= 1)
            & (F.col("rpos") - F.col("pos") <= window),
        )
        .groupBy(F.col("tok").alias("tok_a"), F.col("rtok").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= min_pair)
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    total = toks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        pairs.join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(total))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            "c_a",
            "c_b",
            (
                F.col("n").cast("double")
                * F.col("c_ab").cast("double")
                / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
            ).alias("lift"),
        )
    )


def oov_rate(
    docs: DataFrame,
    vocab_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_k`` token vocabulary — the tokenizer-coverage /
    domain-shift signal a curation pipeline scores before training.

    Scale shape: the vocabulary is an aggregate-sized frame (top-k by
    (tf DESC, token) — deterministic at the rank boundary) that
    BROADCASTS into the token stream, so the scoring pass adds no
    shuffle beyond the per-doc count; rates are one exact IEEE division
    of exact integer counts."""
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).filter(F.length("tok") > 0).transform(materialize)  # vocab + scoring consumers
    vocab = (
        words.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), "tok")
        .limit(vocab_k)
        .select("tok", F.lit(1).alias("__iv"))
    )
    flagged = words.join(F.broadcast(vocab), "tok", "left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__iv").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"))
            .alias("oov_rate"),
        )
    )


def langid_ngram(
    docs: DataFrame,
    profile_k: int = 20,
    doc_k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
) -> DataFrame:
    """Cavnar–Trenkle rank-profile language identification trained
    in-plan on the labeled corpus: each language's profile is its top
    ``profile_k`` tokens ranked by (count DESC, token), each document's
    profile its top ``doc_k``; the out-of-place score is
    Σ |doc_rank − lang_rank| with ``profile_k`` as the out-of-profile
    penalty, and the predicted language is the (score, lang)-minimal
    candidate — all integer arithmetic, fully deterministic.

    (Resubstitution demo: profiles are trained on the same labeled rows
    they classify — a real deployment trains on a held-out labeled set;
    the plan is identical.)

    Scale shape: language profiles are aggregate-sized (langs ×
    profile_k rows) and BROADCAST; document profiles come from one
    (doc, token) count + a doc-partitioned rank window; scoring is
    doc_k × n_langs rows per document — linear in the corpus with a
    small constant. Returns (doc_id, actual, predicted, score)."""
    from pyspark.sql import Window as W

    words = docs.select(
        F.col(id_col), F.col(label_col).alias("__lab"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0).transform(materialize)

    lp_w = W.partitionBy("__lab").orderBy(F.col("__c").desc(), "tok")
    lang_prof = (
        words.groupBy("__lab", "tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("lrank", F.row_number().over(lp_w))
        .filter(F.col("lrank") <= profile_k)
        .select(F.col("__lab").alias("cand"), "tok", "lrank")
    )
    langs = lang_prof.select("cand").distinct()

    dp_w = W.partitionBy(id_col).orderBy(F.col("__c").desc(), "tok")
    doc_prof = (
        words.groupBy(id_col, "__lab", "tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("drank", F.row_number().over(dp_w))
        .filter(F.col("drank") <= doc_k)
        .select(id_col, F.col("__lab").alias("actual"), "tok", "drank")
    )
    scored = (
        doc_prof.crossJoin(F.broadcast(langs))
        .join(F.broadcast(lang_prof), ["cand", "tok"], "left")
        .groupBy(id_col, "actual", "cand")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("drank") - F.col("lrank")),
                    F.lit(profile_k),
                )
            ).cast("long").alias("score")
        )
    )
    pick_w = W.partitionBy(id_col).orderBy("score", "cand")
    return (
        scored.withColumn("__rk", F.row_number().over(pick_w))
        .filter(F.col("__rk") == 1)
        .select(
            id_col, "actual", F.col("cand").alias("predicted"), "score"
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    exclude_self: bool = False,
) -> DataFrame:
    """BM25 ranked retrieval: top-``k`` documents per query row
    (columns ``q_id, q_text``) — the contamination-check / eval-retrieval
    primitive over the inverted-index statistics (same df/tf/dl frames as
    ``inverted_index``; the reference runs ad-hoc retrieval as QL over
    indexed tables, yt/yt/library/query).

    Determinism discipline: the idf is the log-free Robertson ratio
    ``(N - df + 0.5) / (df + 0.5)`` (a per-term monotone of the classic
    ``ln``-idf; ``ln`` is not correctly-rounded IEEE, the ratio is), the
    tf saturation is ``tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``, and
    each per-term contribution is rounded to exact integer MICRO-UNITS
    before the per-(query, doc) sum — so the sum is order-independent
    and the (score_micros DESC, doc_id) ranking is engine-exact.

    Scale shape: doc statistics are one (doc, token) shuffle (shared
    tf/dl/df frames); the query term set and df sides BROADCAST into the
    token-keyed tf stream, so scoring adds no extra corpus shuffle; the
    top-k window partitions by query over candidate sets bounded by the
    posting lists of the query's terms, never the corpus.

    ``exclude_self``: for query-by-example (q_id drawn from the same id
    space as the documents), drop the query's own document BEFORE
    ranking, so rank 1 is the best OTHER document — keeps rank numbers
    aligned with retrieval legs that exclude self natively (cosine_topk
    does), which matters when ranks feed a fusion like RRF."""
    from pyspark.sql import Window as W

    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).filter(F.length("tok") > 0).transform(materialize)  # tf + dl consumers
    tf = words.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    qterms = (
        queries.select(
            "q_id", F.explode(F.split(F.col("q_text"), " ")).alias("tok")
        )
        .filter(F.length("tok") > 0)
        .distinct()
    )
    idf = ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    tfc = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
        )
    )
    # restrict the document-frequency table to query terms BEFORE
    # broadcasting: df_t is vocabulary-sized, but only the query terms'
    # postings matter, so the broadcast payload is |query terms| rows
    # (q_id, tok, df), never the whole term dictionary
    qdf = df_t.join(F.broadcast(qterms), "tok")
    matched = (
        tf.join(F.broadcast(qdf), "tok")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    if exclude_self:
        matched = matched.filter(F.col(id_col) != F.col("q_id"))
    matched = (
        matched
        .select(
            "q_id",
            id_col,
            F.round(idf * tfc * F.lit(1e6)).cast("long").alias("micro"),
        )
    )
    scores = matched.groupBy("q_id", id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("micro").cast("long").alias("score_micros"),
    )
    rk_w = W.partitionBy("q_id").orderBy(
        F.col("score_micros").desc(), F.col(id_col)
    )
    return (
        scores.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= k)
        .select(
            "q_id",
            id_col,
            "n_terms",
            "score_micros",
            (F.col("score_micros").cast("double") / F.lit(1e6)).alias("score"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def auc(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    digits: int = 6,
) -> DataFrame:
    """Exact Mann-Whitney AUC of an integer score against a boolean
    label — the standard "did the quality classifier actually rank good
    documents above bad ones" evaluation, computed without ever ranking
    individual rows.

    Shape: rows collapse to score-grain (pos_g, neg_g) counts first
    (one partial-agged shuffle), then the negatives-below-each-score
    running total comes from curation.prefix_sum — the hierarchical
    two-phase prefix sum, so there is NO unpartitioned window even with
    billions of distinct scores. U doubles to stay integral under ties:
    U2 = Σ_g pos_g · (2·neg_below_g + neg_g) (each tie pair contributes
    exactly 1 = 2·½), and AUC = U2 / (2·n_pos·n_neg) with one half-up
    floor at ``digits`` decimals. ``score_col`` must be integral (a
    quantized logit); ties are handled exactly, not by rank jitter.

    Returns one row: (n_pos, n_neg, u2, auc)."""
    from ytsaurus_spark.operators.curation import prefix_sum

    g = scored.groupBy(score_col).agg(
        F.sum(F.when(F.col(label_col), 1).otherwise(0))
        .cast("long")
        .alias("pos_g"),
        F.sum(F.when(F.col(label_col), 0).otherwise(1))
        .cast("long")
        .alias("neg_g"),
    ).transform(materialize)  # score-grain (tiny); prefix_sum fans out into several
    # consumers of its input, and without this each one re-runs the
    # full corpus scan + feature chain
    cum = prefix_sum(g, score_col, "neg_g", out_col="__neg_below")
    agg = cum.agg(
        F.sum("pos_g").cast("long").alias("n_pos"),
        F.sum("neg_g").cast("long").alias("n_neg"),
        F.sum(
            F.col("pos_g") * (2 * F.col("__neg_below") + F.col("neg_g"))
        )
        .cast("long")
        .alias("u2"),
    )
    scale = float(10 ** digits)
    return agg.select(
        "n_pos",
        "n_neg",
        "u2",
        (
            F.floor(
                F.col("u2").cast("double")
                / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
                * scale
                + F.lit(0.5)
            ).cast("long")
            / F.lit(scale)
        ).alias("auc"),
    )


def zipf_fit(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: weighted
    least-squares slope of log2(count) against log2(rank) — the
    corpus-health diagnostic (natural text slopes near −1; boilerplate
    or template floods bend the curve).

    No global rank window: words collapse to count-grain bands
    (count → n_words), each band's minimum rank is 1 + the number of
    words in strictly more frequent bands — an exclusive prefix sum
    over the tiny band frame via curation.prefix_sum (key = −count, so
    ascending key order is descending count). Logs are WHOLE-bit
    ``floor(log2) = len(binary) − 1`` on the digit string (never
    libm), the regression sums are exact BIGINTs weighted by band
    size, and the slope/intercept take one half-up floor each at 1e−6.

    Returns one row: (n_bands, n_words, slope, intercept)."""
    from ytsaurus_spark.operators.curation import prefix_sum

    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.length("w") > 0)
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    bands = (
        vocab.groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("nw"))
        .withColumn("negc", -F.col("c"))
        .transform(materialize)  # band-grain (tiny); prefix_sum fans out consumers
    )
    ranked = prefix_sum(bands, "negc", "nw", out_col="__above")

    def flog2(col):
        return (F.length(F.conv(col.cast("string"), 10, 2)) - 1).cast("long")

    pts = ranked.select(
        F.col("nw").alias("wgt"),
        flog2(1 + F.col("__above")).alias("x"),
        flog2(F.col("c")).alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_bands"),
        F.sum("wgt").cast("long").alias("sw"),
        F.sum(F.col("wgt") * F.col("x")).cast("long").alias("sx"),
        F.sum(F.col("wgt") * F.col("y")).cast("long").alias("sy"),
        F.sum(F.col("wgt") * F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("wgt") * F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    den = F.col("sw") * F.col("sxx") - F.col("sx") * F.col("sx")
    fix6 = lambda num: (  # noqa: E731
        F.floor(num.cast("double") * 1e6 / den.cast("double") + F.lit(0.5))
        .cast("long")
        / F.lit(1e6)
    )
    return sums.select(
        "n_bands",
        F.col("sw").alias("n_words"),
        fix6(F.col("sw") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "slope"
        ),
        fix6(F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).alias(
            "intercept"
        ),
    )


def calibration_ece(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
    slope: int = 25,
) -> DataFrame:
    """Reliability table + expected calibration error of a quantized
    classifier logit against a boolean label — the "does 0.8 confidence
    mean 80% correct" audit run before a classifier gates a corpus.

    Confidence is a monotone piecewise-linear squash of the integer
    logit into micro-probabilities (``clamp(5e5 + sc·slope, 0, 1e6)``)
    — sigmoid's exp() last-ulp differs between libm implementations, so
    the squash keeps every step integral (same reasoning as
    classifier_score emitting the logit). Rows bin by integer division;
    each bin accumulates exact BIGINT (n, n_pos, Σconf_micros); the ECE
    numerator Σ_b |n_pos_b·1e6 − Σconf_b| is an exact integer, so the
    single half-up floor at the end is the only rounding anywhere.

    Shape: ONE corpus shuffle at bin grain (≤ ``bins`` groups, partial-
    agged map-side), then the ECE scalar broadcasts back onto the bin
    rows. Returns one row per non-empty bin:
    (bin, n, n_pos, conf_micros, acc, conf, gap, ece)."""
    conf = F.least(
        F.lit(1000000).cast("long"),
        F.greatest(
            F.lit(0).cast("long"),
            (F.lit(500000) + F.col(score_col) * slope).cast("long"),
        ),
    )
    binned = scored.select(
        F.least(
            F.floor(conf * bins / F.lit(1000000)).cast("long"),
            F.lit(bins - 1).cast("long"),
        ).alias("bin"),
        conf.alias("conf_micro"),
        F.when(F.col(label_col), 1).otherwise(0).alias("pos"),
    )
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("conf_micro").cast("long").alias("conf_micros"),
    ).transform(materialize)  # <=bins rows; the ECE total and bin table read it
    tot = g.agg(
        F.sum("n").cast("long").alias("__n_total"),
        F.sum(F.abs(F.col("n_pos") * 1000000 - F.col("conf_micros")))
        .cast("long")
        .alias("__gap_total"),
    )
    fix = lambda num, den: (  # noqa: E731
        F.floor(num.cast("double") / den.cast("double") + F.lit(0.5)).cast(
            "long"
        )
    )
    return (
        g.join(F.broadcast(tot))
        .select(
            F.col("bin").cast("long").alias("bin"),
            "n",
            "n_pos",
            "conf_micros",
            (fix(F.col("n_pos") * 1000000, F.col("n")) / F.lit(1e6)).alias(
                "acc"
            ),
            (fix(F.col("conf_micros"), F.col("n")) / F.lit(1e6)).alias(
                "conf"
            ),
            (
                F.abs(
                    fix(F.col("n_pos") * 1000000, F.col("n"))
                    - fix(F.col("conf_micros"), F.col("n"))
                )
                / F.lit(1e6)
            ).alias("gap"),
            (
                fix(F.col("__gap_total"), F.col("__n_total")) / F.lit(1e6)
            ).alias("ece"),
        )
        .orderBy("bin")
    )


def confusion_stats(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    threshold: int = 0,
) -> DataFrame:
    """Binary confusion matrix + per-class precision/recall/F1 for a
    thresholded integer score against a boolean label — the go/no-go
    summary of a corpus-gating classifier.

    One exact-count aggregate produces (tp, fp, fn, tn); the table then
    pivots to one row per class ('pos' and 'neg' — the 'neg' row scores
    the complement classifier, i.e. macro-averaging ready). All counts
    are exact BIGINTs; precision/recall/F1 take one half-up floor each
    at 1e−6 (F1 from the 2tp/(2tp+fp+fn) identity — no intermediate
    rounding of P and R). Zero denominators report 0, the sklearn
    ``zero_division=0`` convention."""
    pred = F.col(score_col) >= threshold
    act = F.col(label_col)
    cm = scored.agg(
        F.sum(F.when(pred & act, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(pred & ~act, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~pred & act, 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~pred & ~act, 1).otherwise(0)).cast("long").alias("tn"),
    )
    rows = cm.select(
        F.expr(
            "stack(2, 'pos', tp, fp, fn, 'neg', tn, fn, fp) "
            "AS (cls, c_tp, c_fp, c_fn)"
        )
    )
    ratio = lambda num, den: F.when(  # noqa: E731
        den == 0, F.lit(0).cast("long")
    ).otherwise(
        F.floor(num.cast("double") * 1e6 / den.cast("double") + F.lit(0.5)).cast(
            "long"
        )
    ) / F.lit(
        1e6
    )
    return rows.select(
        "cls",
        F.col("c_tp").alias("tp"),
        F.col("c_fp").alias("fp"),
        F.col("c_fn").alias("fn"),
        ratio(F.col("c_tp"), F.col("c_tp") + F.col("c_fp")).alias("precision"),
        ratio(F.col("c_tp"), F.col("c_tp") + F.col("c_fn")).alias("recall"),
        ratio(
            2 * F.col("c_tp"),
            2 * F.col("c_tp") + F.col("c_fp") + F.col("c_fn"),
        ).alias("f1"),
    ).orderBy(F.col("cls").desc())


def readability(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Flesch reading-ease profile per group — the corpus-difficulty
    audit (too-hard and too-easy tails both signal extraction junk in a
    training mix).

    All three inputs are pure integer counts from length arithmetic:
    words = spaces + 1; sentences = max(1, count of [.!?]); syllables =
    vowel-group count via the two-replacement identity
    ``len(sub(v+, 'V')) − len(sub(v+, ''))`` (each group collapses to
    one char in the first form and zero in the second, so the
    difference counts groups regardless of what 'V' collides with).
    The Flesch formula then runs one fixed IEEE op chain per document
    and quantizes half-up to 1e−4 BEFORE aggregation, so the per-group
    sums are exact BIGINTs. One scan, one group-grain shuffle.

    Returns (group, n_docs, mean_fre, min_fre, max_fre)."""
    t = F.col(text_col)
    lt = F.lower(t)
    n_words = (
        F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1
    ).cast("long")
    n_sents = F.greatest(
        F.lit(1).cast("long"),
        (F.length(t) - F.length(F.regexp_replace(t, "[.!?]", ""))).cast(
            "long"
        ),
    )
    n_syll = (
        F.length(F.regexp_replace(lt, "[aeiouy]+", "V"))
        - F.length(F.regexp_replace(lt, "[aeiouy]+", ""))
    ).cast("long")
    fre = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sents.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    per_doc = docs.select(
        F.col(group_col).alias("grp"),
        F.floor(fre * 10000 + F.lit(0.5)).cast("long").alias("fre_tt"),
    )
    return (
        per_doc.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.floor(
                    F.sum("fre_tt").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    + F.lit(0.5)
                ).cast("long")
                / F.lit(1e4)
            ).alias("mean_fre"),
            (F.min("fre_tt") / F.lit(1e4)).alias("min_fre"),
            (F.max("fre_tt") / F.lit(1e4)).alias("max_fre"),
        )
        .orderBy("grp")
    )


def vocab_divergence(
    docs: DataFrame,
    group_expr,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary drift between two corpus slices: per shared token, the
    difference of whole-bit unigram surprisals — which words became
    cheap/expensive between domains, the distribution-shift report a
    train-mix change gets reviewed with.

    Determinism discipline: surprisal is WHOLE bits via
    ``floor(log2 n) = len(binary n) − 1`` on digit strings (the
    established zipf/surprisal idiom — never libm), so every score is
    an exact BIGINT and the top-k is an orderBy+limit (per-partition
    heaps) with (|Δbits| desc, token) ordering. Shape: one (group,
    token) partial-agged count, a 2-row totals broadcast, the pivot is
    token-grain.

    ``group_expr`` must evaluate to 0/1. Returns top_k rows:
    (token, cnt_a, cnt_b, bits_a, bits_b, delta_bits)."""
    words = docs.select(
        group_expr.cast("int").alias("g"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter(F.length("w") > 0)
    gc = words.groupBy("g", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    gc = materialize(gc)  # totals + pivot share the (group, token) counts
    piv = (
        gc.groupBy("w")
        .agg(
            F.sum(F.when(F.col("g") == 0, F.col("c"))).alias("cnt_a"),
            F.sum(F.when(F.col("g") == 1, F.col("c"))).alias("cnt_b"),
        )
        .filter(F.col("cnt_a").isNotNull() & F.col("cnt_b").isNotNull())
    )
    # totals over each group's FULL token mass (not just shared tokens):
    # surprisal is relative to the group's distribution
    tot = gc.agg(
        F.sum(F.when(F.col("g") == 0, F.col("c"))).cast("long").alias("ta"),
        F.sum(F.when(F.col("g") == 1, F.col("c"))).cast("long").alias("tb"),
    )

    def flog2(c):
        return (F.length(F.conv(c.cast("string"), 10, 2)) - 1).cast("long")

    scored = piv.crossJoin(F.broadcast(tot)).select(
        F.col("w").alias("token"),
        F.col("cnt_a").cast("long").alias("cnt_a"),
        F.col("cnt_b").cast("long").alias("cnt_b"),
        (flog2(F.col("ta")) - flog2(F.col("cnt_a"))).alias("bits_a"),
        (flog2(F.col("tb")) - flog2(F.col("cnt_b"))).alias("bits_b"),
    )
    return (
        scored.withColumn(
            "delta_bits", (F.col("bits_a") - F.col("bits_b")).cast("long")
        )
        .orderBy(F.abs(F.col("delta_bits")).desc(), "token")
        .limit(top_k)
    )


def boilerplate_line_stats(
    docs: DataFrame,
    min_df: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """Boilerplate-line removal report (the CCNet/RefinedWeb frequent-
    line filter): a line occurring in at least ``min_df`` distinct
    documents is boilerplate (headers, footers, cookie banners); report
    per group how many documents are affected and how much text the
    filter would strip.

    Shape: lines explode once; the (doc, line) stream dedupes to
    distinct pairs for the document-frequency count (partial-aggable);
    the boilerplate line set is the df-filtered frame (small — hot
    lines by construction) and broadcasts back onto the per-doc line
    stream, so the corpus crosses one line-grain exchange and one
    group-grain aggregate. All counts exact BIGINTs.

    Returns per group: (group, n_docs, n_docs_affected,
    boilerplate_instances, chars_removed)."""
    lines = docs.select(
        F.col(id_col).alias("__id"),
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    ).filter(F.length("line") > 0).transform(materialize)  # df count + removal scan
    df_t = (
        lines.select("__id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("line")
    )
    flagged = lines.join(
        F.broadcast(df_t.withColumn("__bp", F.lit(1))), "line", "left"
    )
    per_doc = flagged.groupBy("__id", "grp").agg(
        F.sum(F.when(F.col("__bp").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_bp"),
        F.sum(
            F.when(F.col("__bp").isNotNull(), F.length("line")).otherwise(0)
        )
        .cast("long")
        .alias("bp_chars"),
    )
    return (
        per_doc.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_bp") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_affected"),
            F.sum("n_bp").cast("long").alias("boilerplate_instances"),
            F.sum("bp_chars").cast("long").alias("chars_removed"),
        )
        .orderBy(group_col)
    )
