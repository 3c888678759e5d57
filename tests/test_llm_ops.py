"""Unit tests for dedup / similarity / text operators on micro-fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows_set
from ytsaurus_spark.operators import dedup, similarity, text


@pytest.fixture()
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    other = "completely different words appear here nothing shared with that text"
    return spark.createDataFrame(
        [(1, base, "en"), (2, base, "en"), (3, near, "en"), (4, other, "en")],
        "doc_id bigint, text string, lang string",
    )


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs)
    rows = {r.canonical_id: r.n_dups for r in out.collect()}
    assert rows[1] == 2  # docs 1,2 identical
    assert rows[3] == 1 and rows[4] == 1


def test_minhash_pairs_find_near_dups(docs):
    pairs = rows_set(dedup.minhash_lsh_pairs(docs, num_hashes=8, band_rows=2))
    assert (1, 2) in pairs          # identical docs always collide
    assert (1, 4) not in pairs and (2, 4) not in pairs  # disjoint text
    # near-dup (1,3) collides with high probability given 4 bands; identical
    # prefix shingles make at least one band match here deterministically
    assert (1, 3) in pairs


def test_simhash_identical_and_disjoint(docs):
    fp = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert fp[1] == fp[2]
    assert len(fp[1]) == 16 and set(fp[1]) <= {"0", "1"}
    # near-dup fingerprints are close in Hamming distance
    ham13 = sum(a != b for a, b in zip(fp[1], fp[3]))
    ham14 = sum(a != b for a, b in zip(fp[1], fp[4]))
    assert ham13 < ham14


def test_ngram_jaccard(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in
             dedup.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) not in pairs
    assert 0.3 <= pairs[(1, 3)] < 1.0


@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.5, 0.5, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_cosine_topk(vectors):
    out = similarity.cosine_topk(
        vectors, vectors.filter(F.col("vec_id") == 0), k=2
    ).collect()
    got = [(r.c_id, r.rank) for r in out]
    assert got == [(1, 1), (4, 2)]
    sims = {r.c_id: r.cosine for r in out}
    assert sims[1] > 0.99


def test_lsh_bucket_deterministic(vectors):
    b1 = {r.vec_id: r.bucket for r in similarity.lsh_bucket(vectors, dim=4).collect()}
    b2 = {r.vec_id: r.bucket for r in similarity.lsh_bucket(vectors, dim=4).collect()}
    assert b1 == b2
    assert all(len(v) == 8 for v in b1.values())
    # opposite vectors get complementary bits wherever the plane dot is
    # nonzero (zero dots sign to '1' for both) — here 6 of 8 planes
    ham = sum(a != b for a, b in zip(b1[0], b1[3]))
    assert ham >= 5


def test_ann_topk_subset_of_bucket(vectors):
    out = similarity.ann_topk_lsh(
        vectors, vectors.filter(F.col("vec_id") == 0), k=3, dim=4
    ).collect()
    buckets = {r.vec_id: r.bucket for r in similarity.lsh_bucket(vectors, dim=4).collect()}
    for r in out:
        assert buckets[r.c_id] == buckets[0]


def test_ivf_requires_stride_and_multiprobe_superset(vectors):
    # no stride and no total_rows -> explicit error, never a driver count()
    with pytest.raises(ValueError, match="centroid_stride"):
        similarity.ivf_assign(vectors)
    # nprobe=2 candidates are a superset of nprobe=1 for the same queries
    q = vectors.filter(F.col("vec_id") == 0)
    one = {
        (r.q_id, r.c_id)
        for r in similarity.ivf_topk(
            vectors, q, k=5, num_cells=2, centroid_stride=2, nprobe=1
        ).collect()
    }
    two = {
        (r.q_id, r.c_id)
        for r in similarity.ivf_topk(
            vectors, q, k=5, num_cells=2, centroid_stride=2, nprobe=2
        ).collect()
    }
    assert one <= two


def test_catalog_row_count_from_footers(spark, sf_dir):
    from ytsaurus_spark.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    assert cat.row_count("documents") == cat.read("documents").count()


def test_token_stats_and_fingerprint(docs):
    stats = {r.doc_id: r for r in text.token_stats(docs).collect()}
    assert stats[1].n_tokens == 13
    assert stats[1].n_distinct_tokens == 11  # 'the' and 'again' repeat
    fps = {r.doc_id: r.fingerprint for r in text.fingerprint(docs).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[4]


def test_quality_and_lang(docs):
    q = {r.doc_id: r for r in text.quality_score(docs).collect()}
    assert 0.0 <= q[1].quality <= 1.0
    assert q[1].stop_ratio > q[4].stop_ratio
    langs = {r.doc_id: r.predicted_lang for r in text.language_id(docs).collect()}
    assert langs[1] == "en"
    assert langs[4] == "other"


def test_cluster_pairs_label_propagation(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a bigint, doc_b bigint",
    )
    out = {r.doc_id: r.cluster_id for r in dedup.cluster_pairs(pairs, iterations=3).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == 10
    # chain of length 4: 3 iterations reach the min label end-to-end
    assert out[20] == out[21] == out[22] == out[23] == 20


def test_ngram_jaccard_df_pruning(docs):
    full = {(r.doc_a, r.doc_b): r.jaccard for r in
            dedup.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.3).collect()}
    pruned = {(r.doc_a, r.doc_b): r.jaccard for r in
              dedup.ngram_jaccard_pairs(
                  docs, shingle_k=3, threshold=0.3, df_max=3
              ).collect()}
    # identical docs survive pruning at full similarity
    assert pruned[(1, 2)] == 1.0
    # pruning only removes ubiquitous shingles -> pair set shrinks or holds
    assert set(pruned) <= set(full)


def test_minhash_bucket_cap(docs):
    # with a cap of 1 every bucket is "too big" once shared -> no pairs
    none = dedup.minhash_lsh_pairs(docs, num_hashes=8, band_rows=2, max_bucket=1)
    assert none.count() == 0
    # generous cap keeps the identical-doc pair
    some = rows_set(dedup.minhash_lsh_pairs(docs, num_hashes=8, band_rows=2, max_bucket=10))
    assert (1, 2) in some


def test_kmeans_deterministic_and_improves(spark):
    import math

    from ytsaurus_spark.operators.similarity import kmeans_iterations

    rows = []
    # two well-separated blobs around (0,..,0) and (10,..,10), 4 dims
    for i in range(40):
        base = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [base + ((i * 7) % 5) * 0.1] * 4))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    a1 = {r.vec_id: r.cell for r in kmeans_iterations(
        emb, k=2, iterations=2, centroid_stride=1).collect()}
    a2 = {r.vec_id: r.cell for r in kmeans_iterations(
        emb, k=2, iterations=2, centroid_stride=1).collect()}
    assert a1 == a2  # deterministic
    # blobs separate: all even ids share a cell, all odd ids the other
    even_cells = {a1[i] for i in range(0, 40, 2)}
    odd_cells = {a1[i] for i in range(1, 40, 2)}
    assert len(even_cells) == 1 and len(odd_cells) == 1
    assert even_cells != odd_cells
    del math


def _round6(x: float) -> float:
    """Spark's round(double, 6): HALF_UP on the double's decimal form."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def test_pq_codebook_refine_matches_a_numpy_lloyd_step(spark):
    import numpy as np

    # dim 4 = 2 subspaces of 2; exemplars ids 0, 10, 20 seed codes 0, 1, 2
    vecs = {
        0: [0.0, 0.0, 0.0, 0.0],
        10: [2.0, 0.0, 4.0, 4.0],
        # sub 1 slice equals code 1's: its tie at distance 0 goes to code 1,
        # so code 2 of sub 1 is an empty cell
        20: [8.0, 8.0, 4.0, 4.0],
        # sub 0: d2 1.0000002 (code 0) vs 0.9999998 (code 1) — a tie once
        # rounded to 6 digits, which breaks to the smaller code
        1: [1.0000001, 0.0, 1.0, 1.0],
        2: [1.0, 0.0, 3.0, 5.0],  # exact ties: sub 0 codes 0/1, sub 1 codes 1/2
        3: [7.0, 9.0, 5.0, 3.0],
        30: [2.5, 0.5, 0.25, 0.5],
    }
    m, dsub, ksub, stride = 2, 2, 3, 10
    emb = spark.createDataFrame(
        sorted(vecs.items()), "vec_id bigint, embedding array<double>"
    )
    got = {
        (r.sub, r.code): r.cbslice
        for r in similarity.pq_codebook(
            emb, m, ksub, 4, stride, refine_iterations=1
        ).collect()
    }

    want = {}
    for sub in range(m):
        seeds = {
            c: vecs[c * stride][sub * dsub:(sub + 1) * dsub] for c in range(ksub)
        }
        cells = {}
        for v in vecs.values():
            sl = v[sub * dsub:(sub + 1) * dsub]
            d2 = {
                c: _round6(sum((x - y) * (x - y) for x, y in zip(sl, cb)))
                for c, cb in seeds.items()
            }
            best = min(d2, key=lambda c: (d2[c], c))
            cells.setdefault(best, []).append(sl)
        for c, members in cells.items():
            want[(sub, c)] = list(np.mean(members, axis=0))
    # the data exercises what it claims: the rounded tie and the empty cell
    raw = [sum((x - y) ** 2 for x, y in zip(vecs[1][:2], vecs[c * stride][:2]))
           for c in (0, 1)]
    assert raw[1] < raw[0] and _round6(raw[0]) == _round6(raw[1])
    assert (1, 2) not in want and len(want) == m * ksub - 1

    assert sorted(got) == sorted(want)
    for key, cb in want.items():
        assert got[key] == pytest.approx(cb, rel=1e-12, abs=1e-12), key


def test_multiprobe_recall_beats_single_probe(spark):
    """The measure→tune loop: multi-probe must strictly improve recall@k
    over single-probe on the real fixture embeddings."""
    from ytsaurus_spark.catalog import load_tables
    from ytsaurus_spark.operators.similarity import (
        ann_topk_lsh,
        ann_topk_lsh_multiprobe,
        cosine_topk,
    )

    cat = load_tables(spark, "/root/testdata/sf0.001")
    emb = cat.read("embeddings")
    queries = emb.filter(F.col("vec_id") < 30)

    def recall(approx_df):
        exact = {(r.q_id, r.c_id) for r in cosine_topk(emb, queries, k=3).collect()}
        approx = {(r.q_id, r.c_id) for r in approx_df.collect()}
        return len(exact & approx) / len(exact)

    r1 = recall(ann_topk_lsh(emb, queries, k=3))
    r9 = recall(ann_topk_lsh_multiprobe(emb, queries, k=3))
    assert r9 > r1
    assert r9 >= 0.2  # multi-probe pulls recall out of the floor


def test_pq_encode_and_adc_topk(spark):
    from ytsaurus_spark.operators.similarity import pq_encode, pq_topk

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 10.0, 10.0]),   # exemplar -> code 0
            (2, [5.0, 5.0, 0.0, 0.0]),     # exemplar -> code 1
            (1, [0.1, 0.0, 9.0, 9.0]),     # near 0 in both subspaces
            (3, [5.2, 4.9, 0.3, 0.1]),     # near 2 in both subspaces
        ],
        "vec_id bigint, embedding array<float>",
    )
    codes = {
        (r.vec_id, r.sub): r.code
        for r in pq_encode(emb, m=2, ksub=2, dim=4, stride=2).collect()
    }
    assert codes[(0, 0)] == 0 and codes[(0, 1)] == 0
    assert codes[(2, 0)] == 1 and codes[(2, 1)] == 1
    assert codes[(1, 0)] == 0 and codes[(1, 1)] == 0
    assert codes[(3, 0)] == 1 and codes[(3, 1)] == 1
    top = pq_topk(
        emb, emb.filter(F.col("vec_id") == 1), k=1, m=2, ksub=2, dim=4, stride=2
    ).collect()
    # ADC collapses id1 onto code (0,0) == id0's codes -> id0 is nearest
    assert len(top) == 1 and top[0].q_id == 1 and top[0].c_id == 0


def test_word_entropy_known_values(spark):
    # "a a b b" -> uniform over 2 types: H = 1 bit, norm = 1.0
    # "a a a a" -> single type: H = 0, norm undefined (null)
    df = spark.createDataFrame(
        [(1, "a a b b"), (2, "a a a a")], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in text.word_entropy(df).collect()}
    assert out[1].n_tokens == 4 and out[1].n_types == 2
    assert abs(out[1].entropy - 1.0) < 1e-9
    assert abs(out[1].norm_entropy - 1.0) < 1e-9
    assert out[2].entropy == 0.0 and out[2].norm_entropy is None


def test_range_search_threshold_and_self_exclusion(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.1]),   # cos(1,2) ~ 0.995
            (3, [0.0, 1.0]),   # cos(1,3) = 0
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = rows_set(
        similarity.range_search(df, df.filter(F.col("vec_id") == 1), 0.5)
    )
    ids = {(q, c) for q, c, _ in out}
    assert ids == {(1, 2)}  # 3 below threshold, self excluded


def test_chunk_documents_windows(spark):
    from ytsaurus_spark.operators.curation import chunk_documents

    df = spark.createDataFrame([(1, "abcdefghij")], "doc_id bigint, text string")
    out = sorted(
        chunk_documents(df, chunk_chars=6, overlap=2).collect(),
        key=lambda r: r.chunk_id,
    )
    assert [(r.chunk_id, r.offset, r.chunk_text) for r in out] == [
        (0, 0, "abcdef"),
        (1, 4, "efghij"),
        (2, 8, "ij"),
    ]
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_chars=4, overlap=4)


def test_tfidf_discriminates(spark):
    from ytsaurus_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common common rare1"),
            (2, "common common rare2"),
            (3, "common common rare3"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.token for r in tfidf_top_terms(df, k=1).collect()}
    # 'common' has idf = ln(1) = 0; the per-doc unique term must win
    assert out == {1: "rare1", 2: "rare2", 3: "rare3"}


def test_bpe_greedy_overlap_and_frequency_weighting(spark):
    from ytsaurus_spark.operators.text import bpe_learn_merges

    # 'erer' x3: pair (e,r) occurs TWICE per word (overlap-correct greedy)
    # and weights by word frequency -> cnt = 3 words * 2 = 6.
    df = spark.createDataFrame(
        [(1, "erer erer erer"), (2, "ab")], "doc_id bigint, text string"
    )
    out = bpe_learn_merges(df, n_merges=2).collect()
    first = out[0]
    assert (first.left_sym, first.right_sym, first.cnt) == ("e", "r", 6)
    # after merging, 'erer' becomes [er, er] -> next best pair is (er, er)
    second = out[1]
    assert (second.left_sym, second.right_sym, second.merged) == (
        "er", "er", "erer",
    )


def test_semantic_dedup_flags_partition(spark):
    import numpy as np

    from ytsaurus_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(4, 8))
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):  # 3 near-copies of each base vector
            v = b + rng.normal(scale=0.01, size=8)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        emb, k=2, iterations=1, threshold=0.95, centroid_stride=5
    )
    got = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert len(got) == 12  # every vector classified exactly once
    # each triple keeps its min id and drops the near-copies that share
    # its cluster; at least the global near-copies of kept ids are gone
    assert sum(1 for k in got.values() if not k) >= 4
    assert got[0] is True  # smallest id always survives


def test_lm_score_prefers_natural_text(spark):
    from ytsaurus_spark.operators.text import lm_score

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the dog sat too"),
            (2, "the cat sat on the mat and the cat sat on"),
            (3, "zq xv jk qz vx kj zq xv jk qz vx kj zq xv"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lm_score"] for r in lm_score(docs).collect()}
    # repeated natural bigrams score higher than the rare-bigram doc
    assert got[1] > got[3] and got[2] > got[3]


def test_fuzzy_join_recall_exact_vs_brute_force(spark):
    import random

    from pyspark.sql import functions as F

    from ytsaurus_spark.operators.dedup import fuzzy_join

    rng = random.Random(7)
    words = list(
        {"".join(rng.choice("abcd") for _ in range(rng.randint(3, 8))) for _ in range(80)}
    )
    la, lb = words[:40], words[40:]
    A = spark.createDataFrame([(w,) for w in la], ["a"])
    B = spark.createDataFrame([(w,) for w in lb], ["b"])
    got = {(r.a, r.b) for r in fuzzy_join(A, B, "a", "b", 2).collect()}
    brute = {
        (r.a, r.b)
        for r in A.crossJoin(B).filter(F.levenshtein("a", "b") <= 2).collect()
    }
    assert got == brute  # bucketing loses nothing, adds nothing


def test_winnowing_detects_planted_passage(spark):
    # The winnowing guarantee: any shared substring of length >= k+w-1
    # (= 23 chars at k=16, w=8) yields at least one common fingerprint.
    passage = "XYZQW-shared-passage-of-enough-length-123"  # 41 chars
    a = "left padding text before " + passage + " and trailing words here"
    b = "unrelated prefix material " + passage + " totally other suffix"
    c = "no overlap with anything QQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQQ else"
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id bigint, text string"
    )
    pairs = dedup.winnow_shared_passages(docs, k=16, w=8, min_shared=1)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_winnowing_df_max_prunes_boilerplate(spark):
    # A fingerprint present in EVERY doc (shared boilerplate) must vanish
    # under df_max, while genuine low-frequency overlaps survive.
    boiler = "COMMON-BOILERPLATE-HEADER-ACROSS-ALL-DOCS"
    passage = "rare-shared-passage-only-in-two-docs!!"
    rows = [
        (1, boiler + " alpha " + passage),
        (2, boiler + " beta " + passage),
        (3, boiler + " gamma unrelated body text follows here"),
        (4, boiler + " delta another unrelated body of words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = {
        (r.id_a, r.id_b): r.n_shared
        for r in dedup.winnow_shared_passages(
            docs, k=16, w=8, min_shared=1
        ).collect()
    }
    assert set(uncapped) == {
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)
    }
    capped = {
        (r.id_a, r.id_b): r.n_shared
        for r in dedup.winnow_shared_passages(
            docs, k=16, w=8, min_shared=1, df_max=2
        ).collect()
    }
    assert (1, 2) in capped  # the rare passage survives
    # every all-doc boilerplate fingerprint is pruned: pairs that exist at
    # all share strictly fewer fingerprints than before, and the rare
    # passage keeps (1, 2) strictly above any surviving straddle overlap
    for pair, n in capped.items():
        assert n < uncapped[pair]
    assert capped[(1, 2)] > capped.get((3, 4), 0)


def test_winnowing_fingerprints_short_documents(spark):
    # Documents shorter than k+w-1 still fingerprint (min of available
    # hashes) — identical short docs must be pairable, not invisible.
    docs = spark.createDataFrame(
        [(1, "tiny but identical!"), (2, "tiny but identical!"), (3, "x")],
        "doc_id bigint, text string",
    )
    pairs = dedup.winnow_shared_passages(docs, k=16, w=8, min_shared=1)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got


def test_winnowing_guarantee_property(spark):
    # The classic-selection guarantee: ANY shared substring of length
    # >= k+w-1 produces at least one common fingerprint, regardless of
    # the surrounding context. Seeded random contexts, exact-floor-length
    # planted passages (k=8, w=4 -> floor 11 chars).
    import random

    rng = random.Random(99)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    rows = []
    expected = set()
    for i in range(10):
        passage = "".join(rng.choice(alpha) for _ in range(11))
        left_a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        right_a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        left_b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        right_b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        a_id, b_id = 100 * i + 1, 100 * i + 2
        rows += [(a_id, left_a + passage + right_a),
                 (b_id, left_b + passage + right_b)]
        expected.add((a_id, b_id))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = dedup.winnow_shared_passages(docs, k=8, w=4, min_shared=1)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    missing = expected - got
    assert not missing, f"guarantee violated for planted pairs: {missing}"


def test_repetition_signals_crafted(spark):
    """Gopher repetition signals on crafted docs: a fully repetitive doc
    scores all-duplicate bigrams; an all-distinct doc scores zero; and
    the operator itself plans with no exchange (scan-stage HOFs)."""
    from ytsaurus_spark.operators import text as t
    from ytsaurus_spark.plans import shuffle_count

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),
            (2, "one two three four five"),
            (3, "a b a b a b"),
        ],
        "doc_id long, text string",
    )
    out = t.repetition_signals(docs)
    assert shuffle_count(out) == 0
    rows = {r["doc_id"]: r for r in out.collect()}
    r1 = rows[1]  # 4 bigrams, all "spam spam"
    assert r1["n_bigram"] == 4 and r1["top_bigram_n"] == 4
    assert r1["dup_bigram_n"] == 4 and r1["dup_bigram_ratio"] == 1.0
    r2 = rows[2]  # all distinct
    assert r2["top_bigram_n"] == 1 and r2["dup_bigram_n"] == 0
    assert r2["dup_bigram_ratio"] == 0.0
    r3 = rows[3]  # "a b" x3, "b a" x2 -> all 5 bigrams duplicated
    assert r3["n_bigram"] == 5 and r3["top_bigram_n"] == 3
    assert r3["dup_bigram_n"] == 5
    assert r3["top_trigram_n"] == 2  # "a b a" x2


def test_incremental_dedup_crafted(spark):
    """Incremental dedup semantics on crafted docs: a batch doc duplicating
    the corpus dies via the INDEX (no corpus text read), a batch doc
    duplicating a lower-id batch mate dies, a fresh doc survives and its
    band rows extend the index."""
    from ytsaurus_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different content about distributed query engines"),
            (5, "completely different content about distributed query engines"),
            (7, "yet another unique document with its own vocabulary entirely"),
        ],
        "doc_id long, text string",
    )
    index = dedup.band_signatures(corpus)
    survivors, new_index = dedup.incremental_minhash_dedup(batch, index)
    ids = sorted(r["doc_id"] for r in survivors.collect())
    assert ids == [3, 7]  # 1 dies vs corpus, 5 dies vs batch-mate 3
    idx_ids = {r["doc_id"] for r in new_index.collect()}
    assert idx_ids == {3, 7}
    # appending keeps the loop incremental: re-running the SAME batch
    # against the grown index yields no survivors
    grown = index.unionByName(new_index)
    again, _ = dedup.incremental_minhash_dedup(batch, grown)
    assert again.count() == 0


def test_exact_substring_coverage(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    d1 = shared + " unique one tail words here now"
    d2 = "lead in words " + shared + " other ending entirely"
    d3 = "no overlap with anything else at all in this document text body"
    short = "tiny doc"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, short)],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.exact_substring_coverage(df, gram_len=8).collect()
    }
    # the shared 8-gram covers exactly its 8 positions in both docs
    assert out[1].dup_tokens == 8 and out[2].dup_tokens == 8
    assert out[3].dup_tokens == 0
    assert out[4].dup_tokens == 0 and out[4].n_tokens == 2
    assert out[1].dup_ratio == 8 / out[1].n_tokens


def test_exact_substring_interval_union(spark):
    # two overlapping duplicated windows must union, not double-count
    run = "w1 w2 w3 w4 w5 w6 w7 w8 w9"  # 9 words -> two 8-grams
    df = spark.createDataFrame(
        [(1, run + " filler ending words"), (2, "prefix " + run + " suffix")],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r.dup_tokens
        for r in dedup.exact_substring_coverage(df, gram_len=8).collect()
    }
    assert out[1] == 9 and out[2] == 9  # 8 + least(8, 1) overlap


def test_gopher_rules(spark):
    good = " ".join(["the", "and", "of"] + ["word"] * 60)  # 63 words, stopwords ok
    short = "too short entirely"
    bullets = "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j"
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, bullets)], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in text.gopher_rules(df).collect()}
    assert out[1].passes
    assert not out[2].ok_word_count and not out[2].passes
    assert not out[3].ok_bullets and out[3].n_bullet_lines == 10


def test_unigram_surprisal_exact_bits(spark):
    # corpus: 'a' x 8, 'b' x 4, 'c' x 4 -> total 16 (floorlog2 = 4)
    # bits: a = 4 - 3 = 1, b = c = 4 - 2 = 2
    df = spark.createDataFrame(
        [(1, "a a a a a a a a"), (2, "b b b b c c c c")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in text.unigram_surprisal(df).collect()}
    assert out[1].total_bits == 8 * 1 and out[1].mean_bits == 1.0
    assert out[2].total_bits == 8 * 2 and out[2].mean_bits == 2.0


def test_scalar_quantize_int8(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, [0.5, 0.5])],
        "vec_id bigint, embedding array<float>",
    )
    out = {r.vec_id: r for r in similarity.scalar_quantize_int8(df).collect()}
    assert all(r.n_dims == 2 for r in out.values())
    # endpoints reconstruct exactly; the midpoint of [0,1] codes to 128
    # (127.5 + 0.5 floor) -> xhat 128/255, err = |128/255 - 0.5| ~ 1.96e-3
    assert out[1].max_abs_err_1e9 == 0 and out[2].max_abs_err_1e9 == 0
    assert out[3].max_abs_err_1e9 == round((128 / 255 - 0.5) * 1e9)
    assert out[1].code_md5 != out[2].code_md5


def test_exact_dedup_keep_best(spark):
    # docs 1,2 identical text; doc 3 same words but duplicated (lower TTR)
    df = spark.createDataFrame(
        [(5, "a b c d"), (2, "a b c d"), (3, "a a b b")],
        "doc_id bigint, text string",
    )
    out = {r.text_hash: r for r in dedup.exact_dedup_keep_best(df).collect()}
    dup = [r for r in out.values() if r.n_dups == 2][0]
    assert dup.kept_id == 2  # equal priority -> lowest id wins
    solo = [r for r in out.values() if r.n_dups == 1][0]
    assert solo.kept_id == 3 and solo.priority == 500000


def test_feature_hash_sums_to_token_count(spark):
    df = spark.createDataFrame(
        [(1, "x y z x"), (2, "q")], "doc_id bigint, text string"
    )
    out = text.feature_hash(df, num_buckets=4).collect()
    per_doc = {}
    for r in out:
        assert 0 <= r.bucket < 4
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.cnt
    assert per_doc == {1: 4, 2: 1}


def test_bigram_surprisal_exact_bits(spark):
    # corpus bigrams: (a,b) x4, (a,c) x4 -> ctx(a)=8; bits = 3-2 = 1 each
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a b"),
         (5, "a c"), (6, "a c"), (7, "a c"), (8, "a c")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in text.bigram_surprisal(df).collect()}
    assert all(r.n_bigrams == 1 and r.total_bits == 1 for r in out.values())


def test_knn_classify_separable(spark):
    # two well-separated clusters along orthogonal axes
    rows = []
    for i in range(20):
        lab = i % 2
        base = [1.0, 0.0] if lab == 0 else [0.0, 1.0]
        rows.append((i, [base[0] + 0.01 * (i % 3), base[1]], lab))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = similarity.knn_classify(df, k=3, query_mod=10).collect()
    assert len(out) == 2  # vec_ids 0 and 10 held out
    assert all(r.correct for r in out)


def test_c4_line_filter_rules(spark):
    txt = "\n".join(
        [
            "this line is properly terminated.",   # kept
            "too short.",                          # < 3 words
            "no terminal punctuation here",        # no [.!?"]
            "this has a brace { in it.",           # brace
            "enable javascript to continue now.",  # javascript
            'he said "fine words indeed."',        # kept (quote end ok? ends with ")
        ]
    )
    df = spark.createDataFrame([(1, txt)], "doc_id bigint, text string")
    r = text.c4_line_filter(df).collect()[0]
    assert r.n_lines == 6 and r.n_kept == 2


def test_corpus_diff_statuses(spark):
    from ytsaurus_spark.operators import curation

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "doc_id bigint, text string"
    )
    st = {r.doc_id: r.status for r in curation.corpus_diff(old, new).collect()}
    assert st == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_inverted_index_caps_and_counts(spark):
    from ytsaurus_spark.operators.text import inverted_index

    docs = spark.createDataFrame(
        [(i, "common word" + (" rare" if i == 0 else "")) for i in range(20)],
        ["doc_id", "text"],
    )
    out = {r.token: r for r in inverted_index(docs, min_df=2, postings_cap=5).collect()}
    assert "rare" not in out  # df=1 < min_df
    assert out["common"].df == 20 and out["common"].cf == 20
    # postings capped at 5, sorted ascending
    assert out["common"].postings == "0,1,2,3,4"


def test_cooccurrence_window_band(spark):
    from ytsaurus_spark.operators.text import cooccurrence_lift

    docs = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    out = {(r.tok_a, r.tok_b): r for r in
           cooccurrence_lift(docs, window=2, min_pair=1).collect()}
    assert ("a", "b") in out and ("a", "c") in out
    assert ("a", "d") not in out  # distance 3 > window 2
    r = out[("a", "b")]
    assert r.c_ab == 1 and r.c_a == 1 and r.c_b == 1
    assert r.lift == 5.0  # N=5 tokens, 5*1/(1*1)


def test_oov_rate_boundary(spark):
    from ytsaurus_spark.operators.text import oov_rate

    # vocab_k=1 keeps only the most frequent token ('x'); tie broken by token
    docs = spark.createDataFrame(
        [(1, "x x y"), (2, "x z")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in oov_rate(docs, vocab_k=1).collect()}
    assert out[1].n_tokens == 3 and out[1].n_oov == 1
    assert out[2].n_tokens == 2 and out[2].n_oov == 1
    assert out[2].oov_rate == 0.5


def test_balanced_shards_token_conservation(spark):
    from ytsaurus_spark.operators.curation import balanced_shards

    docs = spark.createDataFrame(
        [(i, "t", 4 * (1 + i % 3)) for i in range(100)],
        ["doc_id", "text", "n_chars"],
    )
    rows = balanced_shards(docs, num_shards=4).collect()
    assert sum(r.n_docs for r in rows) == 100
    total = sum(r.n_tokens for r in rows)
    assert total == sum(1 + i % 3 for i in range(100))
    # near-equal: every shard within one max-doc of the ideal quarter
    ideal = total / 4
    assert all(abs(r.n_tokens - ideal) <= 3 for r in rows)
    assert sorted(r.shard_id for r in rows) == [0, 1, 2, 3]


def test_bm25_ranks_matching_docs_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "apple apple apple apple"),
            (3, "banana cherry banana cherry"),
            (4, "dog cat mouse bird"),
        ],
        "doc_id bigint, text string",
    )
    queries = spark.createDataFrame(
        [("qa", "apple"), ("qb", "dog cat")], ["q_id", "q_text"]
    )
    out = text.bm25_topk(docs, queries, k=4)
    rows = {(r.q_id, r.rk): r for r in out.collect()}
    # qa: only docs 1 and 2 contain 'apple'; doc 2 has higher tf
    assert rows[("qa", 1)].doc_id == 2 and rows[("qa", 2)].doc_id == 1
    assert ("qa", 3) not in rows  # non-matching docs never surface
    # qb: doc 4 matches both terms, nothing else matches any
    assert rows[("qb", 1)].doc_id == 4
    assert rows[("qb", 1)].n_terms == 2
    assert all(r.score_micros > 0 for r in rows.values())


def test_lag_corr_detects_shifted_series(spark):
    from ytsaurus_spark.operators.timeseries import lag_corr

    # y is x shifted forward by 2 days: r(lag=2) must be exactly 1.0
    xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]
    daily = spark.createDataFrame(
        [(d, xs[d], xs[d - 2] if d >= 2 else 7) for d in range(len(xs))],
        "d int, x long, y long",
    )
    out = {r.lag: r for r in lag_corr(daily, max_lag=3).collect()}
    # r = num/(sqrt(dx)*sqrt(dy)); sqrt(n)**2 differs from n by <=1 ulp,
    # so a perfect correlation lands within 2 ulp of 1.0, not exactly on it
    assert abs(out[2].r - 1.0) < 1e-12
    assert out[2].n == len(xs) - 2
    assert abs(out[0].r) < 1.0  # unshifted alignment is not perfect
    # moments are exact integers
    assert out[2].num == out[2].dx == out[2].dy


def test_lag_corr_constant_series_null_r(spark):
    from ytsaurus_spark.operators.timeseries import lag_corr

    daily = spark.createDataFrame(
        [(d, 5, d) for d in range(6)], "d int, x long, y long"
    )
    out = {r.lag: r for r in lag_corr(daily, max_lag=1).collect()}
    assert out[0].dx == 0 and out[0].r is None  # zero-variance guard


def test_mips_differs_from_cosine_and_augmentation_preserves_order(spark):
    import math

    # candidate 2 is long but misaligned; candidate 3 short but aligned
    rows = [
        (1, [1.0, 0.0, 0.0]),   # query
        (2, [3.0, 3.0, 0.0]),   # dot=3, cosine=0.707
        (3, [0.9, 0.0, 0.0]),   # dot=0.9, cosine=1.0
        (4, [0.0, 0.0, 2.0]),   # dot=0
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 1)
    mips = {r.rank: r.c_id for r in similarity.mips_topk(emb, q, k=3).collect()}
    cos = {r.rank: r.c_id for r in similarity.cosine_topk(emb, q, k=3).collect()}
    assert mips[1] == 2 and cos[1] == 3  # magnitude flips the winner

    # Bachrach-style augmentation: x' = [x/M, sqrt(1 - |x|^2/M^2)],
    # q' = [q, 0] -> cosine order over x' == dot order over x
    m = max(math.sqrt(sum(v * v for v in vec)) for _, vec in rows[1:])
    aug = [
        (i, [v / m for v in vec]
            + [math.sqrt(max(0.0, 1.0 - sum(v * v for v in vec) / (m * m)))])
        for i, vec in rows
        if i != 1
    ] + [(1, rows[0][1] + [0.0])]
    emb_a = spark.createDataFrame(aug, "vec_id bigint, embedding array<double>")
    cos_a = {
        r.rank: r.c_id
        for r in similarity.cosine_topk(
            emb_a, emb_a.filter(F.col("vec_id") == 1), k=3
        ).collect()
    }
    assert [cos_a[i] for i in (1, 2, 3)] == [mips[i] for i in (1, 2, 3)]


def test_seasonal_decompose_recovers_pure_weekly_signal(spark):
    from ytsaurus_spark.operators.timeseries import seasonal_decompose

    season = [70, 0, -70, 35, -35, 14, -14]  # sums to zero over the period
    daily = spark.createDataFrame(
        [(d, 1000 + season[d % 7]) for d in range(28)], "d int, x long"
    )
    out = {r.d: r for r in seasonal_decompose(daily, period=7).collect()}
    # edges (incomplete centered window) stay null
    assert out[0].trend_p is None and out[27].resid is None
    # interior: trend recovers the level, seasonal the offset, resid ~ 0
    for d in range(3, 25):
        assert out[d].trend == 1000.0
        assert out[d].seasonal == float(season[d % 7])
        assert out[d].resid == 0.0


def test_cusum_finds_level_shift(spark):
    from ytsaurus_spark.operators.timeseries import cusum_changepoint

    # level 100 for days 0-9, level 200 for days 10-19: shift at d=10
    daily = spark.createDataFrame(
        [(d, 100 if d < 10 else 200) for d in range(20)], "d int, x long"
    )
    out = {r.d: r for r in cusum_changepoint(daily).collect()}
    peak = next(r for r in out.values() if r.abs_rank == 1)
    assert peak.d == 9  # |cusum| peaks on the last pre-shift day
    assert out[19].cusum == 0  # built-in checksum: returns to zero


def test_power_iteration_matches_numpy_eigvec(spark):
    import numpy as np

    from ytsaurus_spark.operators.similarity import power_iteration_pc1

    # dominant direction (1, 1, 0, 0)/sqrt(2) plus small structured noise
    rng_free = [  # deterministic fixture, no RNG
        (i, [0.3 * s + 0.01 * ((i * 7) % 5 - 2),
             0.3 * s - 0.01 * ((i * 3) % 5 - 2),
             0.02 * ((i * 11) % 7 - 3),
             0.01 * ((i * 13) % 3 - 1)])
        for i, s in enumerate([1, -1, 1, -1, 1, 1, -1, -1, 1, -1] * 4)
    ]
    emb = spark.createDataFrame(
        rng_free, "vec_id bigint, embedding array<double>"
    )
    out = {r.dim: r.v3 for r in power_iteration_pc1(emb, iterations=3).collect()}
    v = np.array([out[i] for i in range(4)], dtype=float)

    # reference eigenvector of the same quantized integer covariance
    c = np.round(np.array([e for _, e in rng_free]) * 127)
    yc = len(c) * c - c.sum(axis=0)
    cov = yc.T @ yc
    evec = np.linalg.eigh(cov)[1][:, -1]
    cos = abs(v @ evec) / (np.linalg.norm(v) * np.linalg.norm(evec))
    assert cos > 0.99
    assert max(abs(v)) == 1000  # fixed-point normalization invariant


def test_audio_frame_energy_conserves_samples(spark):
    from ytsaurus_spark.operators.multimodal import (
        extract_audio_frame_energy,
        synthesize_wav,
    )

    docs = spark.createDataFrame([(0,), (1,), (63,)], "doc_id bigint")
    fr = extract_audio_frame_energy(synthesize_wav(docs), frame=64)
    rows = fr.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.id, []).append(r)
    for i, frames in per_doc.items():
        n = 256 + i % 64
        assert sum(f.n_in_frame for f in frames) == n  # nothing dropped
        assert len(frames) == (n + 63) // 64  # trailing partial kept
        # energies are the exact integer sums of the generating form
        want0 = sum(
            (((i * 31 + j * 7) % 65536) - 32768) ** 2 for j in range(64)
        )
        first = next(f for f in frames if f.frame_idx == 0)
        assert first.energy == want0


def test_odd_window_validation(spark):
    import pytest as _pt

    from ytsaurus_spark.operators.timeseries import (
        rolling_median,
        seasonal_decompose,
    )

    daily = spark.createDataFrame([(0, 1)], "d int, x long")
    with _pt.raises(ValueError, match="odd window"):
        rolling_median(daily, window=6)
    with _pt.raises(ValueError, match="odd period"):
        seasonal_decompose(daily, period=6)


def test_power_iteration_degenerate_corpus_all_zero(spark):
    """Identical embeddings -> zero covariance; the mc=0 guard must
    yield all-zero iterates instead of a divide-by-zero crash."""
    from ytsaurus_spark.operators.similarity import power_iteration_pc1

    emb = spark.createDataFrame(
        [(i, [0.5, 0.5, 0.5]) for i in range(6)],
        "vec_id bigint, embedding array<double>",
    )
    out = power_iteration_pc1(emb, iterations=2).collect()
    assert len(out) == 3
    assert all(r.v1 == 0 and r.v2 == 0 for r in out)


def test_bm25_exclude_self_realigns_ranks(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple cherry"), (3, "apple date")],
        "doc_id bigint, text string",
    )
    q = spark.createDataFrame([(1, "apple banana")], ["q_id", "q_text"])
    kept = text.bm25_topk(docs, q, k=3, exclude_self=True).collect()
    assert all(r.doc_id != 1 for r in kept)
    assert min(r.rk for r in kept) == 1  # ranks start at 1 without self


def test_auc_exact_with_ties(spark):
    from ytsaurus_spark.operators.text import auc

    # pos scores [2, 2], neg scores [1, 2]: U = 1 + 0.5 + 1 + 0.5 = 3
    # over 4 pairs -> AUC 0.75, exercising the doubled-U tie path.
    df = spark.createDataFrame(
        [(2, True), (2, True), (1, False), (2, False)],
        "sc bigint, pos boolean",
    )
    row = auc(df, "sc", "pos").collect()[0]
    assert (row.n_pos, row.n_neg, row.u2) == (2, 2, 6)
    assert row.auc == 0.75


def test_auc_perfect_and_inverted(spark):
    from ytsaurus_spark.operators.text import auc

    perfect = spark.createDataFrame(
        [(10, True), (9, True), (1, False), (0, False)],
        "sc bigint, pos boolean",
    )
    assert auc(perfect, "sc", "pos").collect()[0].auc == 1.0
    inverted = spark.createDataFrame(
        [(0, True), (1, False)], "sc bigint, pos boolean"
    )
    assert auc(inverted, "sc", "pos").collect()[0].auc == 0.0


def test_auc_matches_pairwise_bruteforce(spark):
    import itertools

    from ytsaurus_spark.operators.text import auc

    rows = [((i * 13) % 7, (i * 5) % 3 == 0) for i in range(40)]
    df = spark.createDataFrame(rows, "sc bigint, pos boolean")
    got = auc(df, "sc", "pos").collect()[0]
    pos = [s for s, p in rows if p]
    neg = [s for s, p in rows if not p]
    u2 = sum(
        2 if ps > ns else (1 if ps == ns else 0)
        for ps, ns in itertools.product(pos, neg)
    )
    assert got.u2 == u2
    expected = int((u2 / (2 * len(pos) * len(neg))) * 1e6 + 0.5) / 1e6
    assert got.auc == expected


def test_zipf_fit_matches_bruteforce(spark):
    from collections import Counter

    from ytsaurus_spark.operators.text import zipf_fit

    texts = [
        "aa aa aa aa aa aa aa aa bb bb bb bb",
        "bb cc cc dd ee ff aa gg",
        "cc dd hh ii jj aa bb cc",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = zipf_fit(docs).collect()[0]

    counts = Counter(w for t in texts for w in t.split(" ") if w)
    bands = Counter(counts.values())  # count -> n_words
    flog2 = lambda n: n.bit_length() - 1  # noqa: E731
    pts, above = [], 0
    for c in sorted(bands, reverse=True):
        nw = bands[c]
        pts.append((nw, flog2(1 + above), flog2(c)))
        above += nw
    sw = sum(w for w, _, _ in pts)
    sx = sum(w * x for w, x, _ in pts)
    sy = sum(w * y for w, _, y in pts)
    sxx = sum(w * x * x for w, x, _ in pts)
    sxy = sum(w * x * y for w, x, y in pts)
    den = sw * sxx - sx * sx
    import math

    slope = math.floor((sw * sxy - sx * sy) * 1e6 / den + 0.5) / 1e6
    intercept = math.floor((sy * sxx - sx * sxy) * 1e6 / den + 0.5) / 1e6
    assert got.n_bands == len(pts) and got.n_words == sw
    assert got.slope == slope and got.intercept == intercept


def test_calibration_ece_bruteforce(spark):
    from ytsaurus_spark.operators.text import calibration_ece

    rows = [((i * 37) % 21000 - 10500, (i * 7) % 3 != 0) for i in range(200)]
    df = spark.createDataFrame(rows, "sc bigint, pos boolean")
    got = {r.bin: r for r in calibration_ece(df, "sc", "pos", bins=10, slope=100).collect()}
    # Python brute force of the identical integral pipeline.
    bins = {}
    for sc, pos in rows:
        cm = min(max(500000 + sc * 100, 0), 1000000)
        b = min(cm * 10 // 1000000, 9)
        n, np_, cs = bins.get(b, (0, 0, 0))
        bins[b] = (n + 1, np_ + (1 if pos else 0), cs + cm)
    n_total = sum(n for n, _, _ in bins.values())
    gap_total = sum(abs(np_ * 1000000 - cs) for _, np_, cs in bins.values())
    ece = int(gap_total / n_total + 0.5) / 1e6
    assert set(got) == set(bins)
    for b, (n, np_, cs) in bins.items():
        r = got[b]
        assert (r.n, r.n_pos, r.conf_micros) == (n, np_, cs)
        assert r.acc == int(np_ * 1000000 / n + 0.5) / 1e6
        assert r.conf == int(cs / n + 0.5) / 1e6
        assert r.ece == ece


def test_calibration_ece_perfectly_calibrated(spark):
    from ytsaurus_spark.operators.text import calibration_ece

    # conf 0.25 bucket with 1/4 positives and conf 0.75 with 3/4: ECE 0.
    rows = []
    for _ in range(1):
        rows += [(-2500, True)] + [(-2500, False)] * 3  # conf 250000
        rows += [(2500, True)] * 3 + [(2500, False)]  # conf 750000
    df = spark.createDataFrame(rows, "sc bigint, pos boolean")
    out = calibration_ece(df, "sc", "pos", bins=10, slope=100).collect()
    assert all(r.ece == 0.0 for r in out)
    assert all(r.gap == 0.0 for r in out)


def test_confusion_stats_hand_counts(spark):
    from ytsaurus_spark.operators.text import confusion_stats

    # tp=2 fp=1 fn=1 tn=3 at threshold 0.
    rows = [(5, True), (1, True), (3, False), (-1, True),
            (-2, False), (-9, False), (-1, False)]
    df = spark.createDataFrame(rows, "sc bigint, pos boolean")
    out = {r.cls: r for r in confusion_stats(df, "sc", "pos").collect()}
    p = out["pos"]
    assert (p.tp, p.fp, p.fn) == (2, 1, 1)
    assert p.precision == int(2 * 1e6 / 3 + 0.5) / 1e6
    assert p.recall == int(2 * 1e6 / 3 + 0.5) / 1e6
    assert p.f1 == int(4 * 1e6 / 6 + 0.5) / 1e6
    n = out["neg"]
    assert (n.tp, n.fp, n.fn) == (3, 1, 1)


def test_confusion_stats_zero_division(spark):
    from ytsaurus_spark.operators.text import confusion_stats

    # Everything predicted negative: pos-class precision denominator 0.
    df = spark.createDataFrame(
        [(-5, True), (-1, False)], "sc bigint, pos boolean"
    )
    out = {r.cls: r for r in confusion_stats(df, "sc", "pos").collect()}
    assert out["pos"].precision == 0.0
    assert out["pos"].recall == 0.0
    assert out["neg"].recall == 1.0


def test_labeled_retrieval_eval_bruteforce(spark):
    from ytsaurus_spark.operators.similarity import labeled_retrieval_eval

    # Deterministic tiny cloud: 30 vectors, 3 labels, dim 4.
    rows = []
    for v in range(30):
        lab = v % 3
        vec = [((v * 7 + d * 13) % 19 - 9) / 9.0 for d in range(4)]
        rows.append((v, vec, lab))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label bigint"
    )
    k, stride, quant = 3, 5, 127
    got = {
        r.label: r
        for r in labeled_retrieval_eval(
            df, k=k, stride=stride, quant=quant
        ).collect()
    }
    codes = {v: [round(x * quant) for x in vec] for v, vec, _ in rows}
    labs = {v: lab for v, _, lab in rows}
    per = {}
    for qv in [v for v, _, _ in rows if v % stride == 0]:
        scored = sorted(
            (
                (-sum(a * b for a, b in zip(codes[qv], codes[c])), c)
                for c, _, _ in rows
                if c != qv
            )
        )
        hits = sum(1 for _, c in scored[:k] if labs[c] == labs[qv])
        n_q, h = per.get(labs[qv], (0, 0))
        per[labs[qv]] = (n_q + 1, h + hits)
    n_by_lab = {lab: sum(1 for _, _, l in rows if l == lab) for lab in (0, 1, 2)}
    assert set(got) == set(per)
    for lab, (n_q, h) in per.items():
        r = got[lab]
        assert (r.n_queries, r.n_hits) == (n_q, h)
        assert r.p_at_k == int(h * 1e6 / (n_q * k) + 0.5) / 1e6
        assert r.r_at_k == int(h * 1e6 / (n_q * (n_by_lab[lab] - 1)) + 0.5) / 1e6


def test_rfm_tiles_match_bruteforce(spark, sf_dir):
    """RFM quartiles from the histogram+prefix-sum path must equal the
    definitional (4 * count_strictly_better) // n + 1 per customer."""
    from ytsaurus_spark.queries.analytics_q import analytics_rfm_segmentation

    got = analytics_rfm_segmentation(spark, sf_dir).collect()
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    cust = con.execute(
        """
        SELECT o_custkey,
               date_diff('day', max(CAST(o_orderdate AS DATE)),
                 (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)) AS rec,
               count(*) AS freq,
               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
                 AS mon
        FROM orders GROUP BY 1
        """
    ).fetchall()
    n = len(cust)
    recs = sorted(r for _, r, _, _ in cust)
    freqs = sorted((f for _, _, f, _ in cust), reverse=True)
    mons = sorted((m for _, _, _, m in cust), reverse=True)
    import bisect

    def tile_asc(vals, v):
        return (4 * bisect.bisect_left(vals, v)) // n + 1

    def tile_desc(vals_desc, v):
        asc = sorted(vals_desc)
        better = len(asc) - bisect.bisect_right(asc, v)
        return (4 * better) // n + 1

    segs = {}
    for _, r, f, m in cust:
        key = (tile_asc(recs, r), tile_desc(freqs, f), tile_desc(mons, m))
        cnt, s = segs.get(key, (0, 0))
        segs[key] = (cnt + 1, s + m)
    assert {(x.r_tile, x.f_tile, x.m_tile): (x.n_customers, x.monetary_cents)
            for x in got} == segs


def test_readability_bruteforce(spark):
    import re

    from ytsaurus_spark.operators.text import readability

    docs = [
        ("the cat sat on the mat. it was flat!", "en"),
        ("incomprehensibility notwithstanding, perseverance triumphs.", "en"),
        ("a b c", "xx"),
        ("zzz qqq brr", "xx"),  # zero vowel groups
    ]
    df = spark.createDataFrame(docs, "text string, lang string")
    got = {r.grp: r for r in readability(df).collect()}
    per_grp = {}
    for text, lang in docs:
        words = text.count(" ") + 1
        sents = max(1, len(re.findall(r"[.!?]", text)))
        syll = len(re.findall(r"[aeiouy]+", text.lower()))
        fre = 206.835 - 1.015 * (words / sents) - 84.6 * (syll / words)
        import math

        tt = math.floor(fre * 10000 + 0.5)
        per_grp.setdefault(lang, []).append(tt)
    for lang, tts in per_grp.items():
        r = got[lang]
        assert r.n_docs == len(tts)
        import math

        assert r.mean_fre == math.floor(sum(tts) / len(tts) + 0.5) / 1e4
        assert r.min_fre == min(tts) / 1e4
        assert r.max_fre == max(tts) / 1e4


def test_centroid_silhouette_bruteforce(spark):
    import math

    from ytsaurus_spark.operators.similarity import centroid_silhouette

    # Two tight, well-separated clusters + one spread cluster, dim 3.
    rows = []
    for v in range(24):
        lab = v % 3
        base = [float(lab * 10), float(-lab * 5), float(lab)]
        vec = [(b + ((v * 7 + d) % 5 - 2) / 10.0) / 40.0 for d, b in enumerate(base)]
        rows.append((v, vec, lab))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label bigint"
    )
    got = {r.label: r for r in centroid_silhouette(df).collect()}
    codes = {v: [round(x * 127) for x in vec] for v, vec, _ in rows}
    labs = sorted({l for _, _, l in rows})
    n_l = {l: sum(1 for _, _, x in rows if x == l) for l in labs}
    s_l = {
        l: [
            sum(codes[v][i] for v, _, x in rows if x == l)
            for i in range(3)
        ]
        for l in labs
    }
    per = {}
    for v, _, own in rows:
        d = {
            l: math.sqrt(
                sum((n_l[l] * codes[v][i] - s_l[l][i]) ** 2 for i in range(3))
            )
            / n_l[l]
            for l in labs
        }
        a = d[own]
        b = min(d[l] for l in labs if l != own)
        sm = 0 if max(a, b) == 0 else math.floor((b - a) / max(a, b) * 1e6 + 0.5)
        cnt, s = per.get(own, (0, 0))
        per[own] = (cnt + 1, s + sm)
    for lab, (cnt, s) in per.items():
        r = got[lab]
        assert (r.n_points, r.sil_micros_sum) == (cnt, s)
        assert r.mean_silhouette == math.floor(s / cnt + 0.5) / 1e6
    # tight clusters separate well
    assert got[2].mean_silhouette > 0.5


def test_market_basket_bruteforce(spark):
    from collections import Counter
    from itertools import combinations

    from ytsaurus_spark.queries.analytics_q import analytics_market_basket  # noqa: F401
    # Exercise the metric arithmetic through a hand corpus via the same
    # operator chain shape (pair counts, supports, lift identity).
    baskets = {
        1: [10, 20, 30],
        2: [10, 20],
        3: [10, 30],
        4: [20, 30],
        5: [10, 20, 30],
    }
    rows = [(ok, pk) for ok, pks in baskets.items() for pk in pks]
    li = spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint")
    b = li.distinct()
    b2 = (b.withColumnRenamed("l_orderkey", "ok2")
           .withColumnRenamed("l_partkey", "pk2"))
    from pyspark.sql import functions as F

    pairs = (
        b.join(b2, (b.l_orderkey == F.col("ok2"))
               & (b.l_partkey < F.col("pk2")))
        .groupBy(b.l_partkey.alias("pa"), F.col("pk2").alias("pb"))
        .count()
        .collect()
    )
    got = {(r.pa, r.pb): r["count"] for r in pairs}
    want = Counter()
    for pks in baskets.values():
        for a, c in combinations(sorted(pks), 2):
            want[(a, c)] += 1
    assert got == dict(want)


def test_matryoshka_recall_bruteforce(spark):
    from ytsaurus_spark.operators.similarity import matryoshka_recall

    rows = []
    for v in range(40):
        vec = [((v * 11 + d * 7) % 17 - 8) / 8.0 for d in range(8)]
        rows.append((v, vec))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        r.k: r
        for r in matryoshka_recall(
            df, k_values=(1, 3), trunc_dim=4, stride=7
        ).collect()
    }
    codes = {v: [round(x * 127) for x in vec] for v, vec in rows}
    qids = [v for v, _ in rows if v % 7 == 0]
    hits = {1: 0, 3: 0}
    for qv in qids:
        full = sorted(
            (-sum(a * b for a, b in zip(codes[qv], codes[c])), c)
            for c, _ in rows if c != qv
        )
        trunc = sorted(
            (-sum(a * b for a, b in zip(codes[qv][:4], codes[c][:4])), c)
            for c, _ in rows if c != qv
        )
        for k in (1, 3):
            fs = {c for _, c in full[:k]}
            ts = {c for _, c in trunc[:k]}
            hits[k] += len(fs & ts)
    for k in (1, 3):
        r = got[k]
        assert r.n_queries == len(qids)
        assert r.n_hits == hits[k]
        assert r.recall == int(hits[k] * 1e6 / (len(qids) * k) + 0.5) / 1e6
        assert r.trunc_dim == 4


def test_labeled_ndcg_bruteforce(spark):
    import math

    from ytsaurus_spark.operators.similarity import (
        NDCG_IDEAL_MICROS,
        NDCG_W_MICROS,
        labeled_ndcg_at_k,
    )

    rows = []
    for v in range(36):
        lab = v % 3
        vec = [((v * 13 + d * 5) % 23 - 11) / 11.0 for d in range(6)]
        rows.append((v, vec, lab))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label bigint"
    )
    k, stride = 5, 6
    got = {r.label: r for r in labeled_ndcg_at_k(df, k=k, stride=stride).collect()}
    codes = {v: [round(x * 127) for x in vec] for v, vec, _ in rows}
    labs = {v: lab for v, _, lab in rows}
    n_lab = {l: sum(1 for _, _, x in rows if x == l) for l in (0, 1, 2)}
    per = {}
    for qv in [v for v, _, _ in rows if v % stride == 0]:
        ranked = sorted(
            (-sum(a * b for a, b in zip(codes[qv], codes[c])), c)
            for c, _, _ in rows if c != qv
        )[:k]
        dcg = sum(
            NDCG_W_MICROS[r] for r, (_, c) in enumerate(ranked)
            if labs[c] == labs[qv]
        )
        ideal = NDCG_IDEAL_MICROS[min(k, max(1, n_lab[labs[qv]] - 1)) - 1]
        nd = math.floor(dcg * 1e6 / ideal + 0.5)
        cnt, s = per.get(labs[qv], (0, 0))
        per[labs[qv]] = (cnt + 1, s + nd)
    for lab, (cnt, s) in per.items():
        r = got[lab]
        assert r.n_queries == cnt
        assert r.mean_ndcg == math.floor(s / cnt + 0.5) / 1e6


def test_cohens_kappa_hand_value(spark, sf_dir):
    import math

    from ytsaurus_spark.queries.llm import eval_cohens_kappa

    r = eval_cohens_kappa(spark, sf_dir).collect()[0]
    n, tp, fp, fn, tn = r.n, r.tp, r.fp, r.fn, r.tn
    assert n == tp + fp + fn + tn
    po = (tp + tn) / n
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (n * n)
    want = math.floor((po - pe) / (1 - pe) * 1e6 + 0.5) / 1e6
    assert abs(r.kappa - want) <= 1e-6  # identity vs ratio formulation
    assert -1.0 <= r.kappa <= 1.0


def test_pareto_abc_bruteforce(spark, sf_dir):
    import duckdb

    from ytsaurus_spark.queries.analytics_q import analytics_pareto_abc

    got = {r.cls: r for r in analytics_pareto_abc(spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
    )
    rev = con.execute(
        """SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
               * 10000) AS BIGINT)) AS BIGINT)
           FROM lineitem GROUP BY l_partkey"""
    ).fetchall()
    vals = sorted((v for (v,) in rev), reverse=True)
    total = sum(vals)
    classes = {}
    above_by_val = {}
    run = 0
    for v in vals:  # strictly-greater cumulative: first index of each value
        if v not in above_by_val:
            above_by_val[v] = run
        run += v
    for v in vals:
        above = above_by_val[v]
        cls = "A" if 5 * above < 4 * total else (
            "B" if 20 * above < 19 * total else "C")
        n, s = classes.get(cls, (0, 0))
        classes[cls] = (n + 1, s + v)
    assert {c: (r.n_parts, r.rev_tt_sum) for c, r in got.items()} == classes
    assert got["A"].rev_share >= 0.79  # A carries the top-80% band


def test_labeled_mrr_bruteforce(spark):
    import math

    from ytsaurus_spark.operators.similarity import (
        MRR_W_MICROS,
        labeled_mrr_at_k,
    )

    rows = []
    for v in range(36):
        lab = v % 3
        vec = [((v * 13 + d * 5) % 23 - 11) / 11.0 for d in range(6)]
        rows.append((v, vec, lab))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label bigint"
    )
    k, stride = 5, 6
    got = {r.label: r for r in labeled_mrr_at_k(df, k=k, stride=stride).collect()}
    codes = {v: [round(x * 127) for x in vec] for v, vec, _ in rows}
    labs = {v: lab for v, _, lab in rows}
    per = {}
    for qv in [v for v, _, _ in rows if v % stride == 0]:
        ranked = sorted(
            (-sum(a * b for a, b in zip(codes[qv], codes[c])), c)
            for c, _, _ in rows if c != qv
        )[:k]
        rr = 0
        for r, (_, c) in enumerate(ranked, start=1):
            if labs[c] == labs[qv]:
                rr = MRR_W_MICROS[r - 1]
                break
        cnt, s = per.get(labs[qv], (0, 0))
        per[labs[qv]] = (cnt + 1, s + rr)
    for lab, (cnt, s) in per.items():
        r = got[lab]
        assert r.n_queries == cnt
        assert r.mean_mrr == math.floor(s / cnt + 0.5) / 1e6


def test_event_transitions_bruteforce(spark, sf_dir):
    import duckdb

    from ytsaurus_spark.queries.analytics_q import analytics_event_transitions

    got = {(r.from_type, r.to_type): (r.n, r.out_n, r.p)
           for r in analytics_event_transitions(spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    rows = con.execute(
        "SELECT user_id, event_type FROM events ORDER BY user_id, ts, event_id"
    ).fetchall()
    from collections import Counter, defaultdict

    trans = Counter()
    prev = {}
    for uid, et in rows:
        if uid in prev:
            trans[(prev[uid], et)] += 1
        prev[uid] = et
    outs = defaultdict(int)
    for (a, _), n in trans.items():
        outs[a] += n
    assert set(got) == set(trans)
    for key, n in trans.items():
        gn, go, gp = got[key]
        assert (gn, go) == (n, outs[key[0]])
        assert gp == int(n * 1e6 / outs[key[0]] + 0.5) / 1e6


def test_spearman_bruteforce(spark, sf_dir):
    import math

    import duckdb

    from ytsaurus_spark.queries.llm import eval_spearman_quality_length

    r = eval_spearman_quality_length(spark, sf_dir).collect()[0]
    # Independent check: average-rank Spearman via plain Python over the
    # same (n_chars, quantized logit) pairs read through DuckDB + the
    # oracle feature formulas are already sweep-proven; here just verify
    # the doubled-rank identity against a direct average-rank Pearson.
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["eval_spearman_quality_length"]
    # Pull the sc2 pairs through the registered oracle's own CTE chain.
    pairs_sql = sql.split(", hx AS")[0] + " SELECT x, y FROM sc2"
    pairs = con.execute(pairs_sql).fetchall()

    def avg_ranks(vals):
        s = sorted(vals)
        first = {}
        for i, v in enumerate(s):
            first.setdefault(v, i)
        from collections import Counter

        c = Counter(vals)
        return {v: first[v] + (c[v] + 1) / 2 for v in c}  # 1-based avg rank

    rx = avg_ranks([x for x, _ in pairs])
    ry = avg_ranks([y for _, y in pairs])
    xs = [rx[x] for x, _ in pairs]
    ys = [ry[y] for _, y in pairs]
    n = len(pairs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(v * v for v in xs)
    syy = sum(v * v for v in ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    rho = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert abs(r.rho - rho) < 2e-6


def test_activity_streaks_bruteforce(spark, sf_dir):
    import duckdb
    from collections import defaultdict

    from ytsaurus_spark.queries.analytics_q import analytics_activity_streaks

    got = {r.longest: (r.n_users, r.streaks_sum, r.active_days_sum)
           for r in analytics_activity_streaks(spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    rows = con.execute(
        "SELECT DISTINCT user_id, datediff('day', DATE '2024-01-01',"
        " CAST(ts AS DATE)) FROM events"
    ).fetchall()
    by_user = defaultdict(set)
    for uid, d in rows:
        by_user[uid].add(d)
    dist = defaultdict(lambda: [0, 0, 0])
    for uid, ds in by_user.items():
        ds = sorted(ds)
        streaks, cur = [], 1
        for a, b in zip(ds, ds[1:]):
            if b == a + 1:
                cur += 1
            else:
                streaks.append(cur)
                cur = 1
        streaks.append(cur)
        e = dist[max(streaks)]
        e[0] += 1
        e[1] += len(streaks)
        e[2] += sum(streaks)
    assert got == {k: tuple(v) for k, v in dist.items()}


def test_embedding_outliers_bruteforce(spark):
    from ytsaurus_spark.operators.similarity import embedding_outliers

    # One tight cluster with a single far point injected per label.
    rows = []
    vid = 0
    for lab in (0, 1):
        for j in range(9):
            vec = [(lab * 50 + (j % 3) - 1) / 127.0, (j % 2) / 127.0]
            rows.append((vid, vec, lab)); vid += 1
        rows.append((vid, [(lab * 50 + 40) / 127.0, 30 / 127.0], lab)); vid += 1
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label bigint"
    )
    got = {r.label: r for r in embedding_outliers(df, 3, 2).collect()}
    codes = {v: [round(x * 127) for x in vec] for v, vec, _ in rows}
    for lab in (0, 1):
        members = [v for v, _, x in rows if x == lab]
        n = len(members)
        s = [sum(codes[v][i] for v in members) for i in range(2)]
        qs = {v: sum((n * codes[v][i] - s[i]) ** 2 for i in range(2))
              for v in members}
        sq = sum(qs.values())
        outs = sum(1 for v in members if qs[v] * n * 4 > 9 * sq)
        r = got[lab]
        assert (r.n_points, r.n_outliers) == (n, outs)
        assert outs >= 1  # the injected far point is flagged
        assert r.outlier_ppm == int(outs * 1e6 / n + 0.5)


def test_gini_known_distributions(spark):
    import math

    from ytsaurus_spark.operators.curation import prefix_sum  # noqa: F401
    from pyspark.sql import functions as F  # noqa: F401

    # Perfect equality -> G = (sum R2*x - (n+1)*sum x) / (n*sum x) with
    # all x equal: R2 avg = n+1 so numerator is exactly 0.
    import duckdb

    con = duckdb.connect()
    for vals, want in (
        ([5, 5, 5, 5], 0.0),
        ([0, 0, 0, 10], None),  # computed below
    ):
        n = len(vals)
        s = sorted(vals)
        # doubled average ranks
        from collections import Counter

        c = Counter(vals)
        below = {}
        run = 0
        for v in sorted(c):
            below[v] = run
            run += c[v]
        num = sum((2 * below[v] + c[v] + 1) * v for v in vals) - (n + 1) * sum(vals)
        g = math.floor(num * 1e6 / (n * sum(vals)) + 0.5) / 1e6
        if want is not None:
            assert g == want
        else:
            assert g == 0.75  # classic: one holder of everything, n=4


def test_containment_catches_subset_duplication(spark):
    from ytsaurus_spark.operators.dedup import containment_pairs

    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    other = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, other)], "doc_id bigint, text string"
    )
    out = {(r.doc_a, r.doc_b): r for r in containment_pairs(df).collect()}
    assert (1, 2) in out  # subset pair survives the containment gate
    r = out[(1, 2)]
    assert r.containment_small == 1.0  # small fully inside big
    assert r.n_a < r.n_b
    assert all(k == (1, 2) for k in out)  # unrelated doc never pairs


def test_quantile_sketch_brackets_true_quantiles(spark, sf_dir):
    import duckdb

    from ytsaurus_spark.operators.sketches import log2_quantile_sketch
    from ytsaurus_spark.catalog import load_tables

    cat = load_tables(spark, sf_dir)
    rows = {r.q_pct: r for r in log2_quantile_sketch(
        cat.read("orders"), "o_totalprice").collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'")
    for q in (50, 90, 99):
        true_q = con.execute(
            f"SELECT CAST(quantile_disc(CAST(o_totalprice AS BIGINT), "
            f"{q / 100}) AS BIGINT) FROM orders"
        ).fetchone()[0]
        r = rows[q]
        assert r.lo <= true_q < r.hi  # the bracket contains the truth
        assert r.hi <= 2 * max(r.lo, 1)  # <=2x relative error guarantee


def test_vocab_divergence_bits_identity(spark):
    from ytsaurus_spark.operators.text import vocab_divergence
    from pyspark.sql import functions as F

    docs = [
        ("alpha alpha alpha beta", 0),
        ("alpha gamma gamma gamma gamma gamma gamma gamma", 1),
    ]
    df = spark.createDataFrame(docs, "text string, g int")
    out = {r.token: r for r in vocab_divergence(
        df, F.col("g"), top_k=10).collect()}
    # Only 'alpha' appears in both groups: cnt_a=3 of 4, cnt_b=1 of 8.
    assert set(out) == {"alpha"}
    r = out["alpha"]
    assert (r.cnt_a, r.cnt_b) == (3, 1)
    # bits = floorlog2(total) - floorlog2(cnt): a: 2-1=1, b: 3-0=3.
    assert (r.bits_a, r.bits_b, r.delta_bits) == (1, 3, -2)


def test_kfold_split_deterministic_and_complete(spark, sf_dir):
    from ytsaurus_spark.operators.curation import kfold_split
    from ytsaurus_spark.catalog import load_tables

    cat = load_tables(spark, sf_dir)
    docs = cat.read("documents")
    a = kfold_split(docs, k=5, strat_col="lang").collect()
    b = kfold_split(docs, k=5, strat_col="lang").collect()
    assert a == b  # rerun-stable
    assert sum(r.n_rows for r in a) == docs.count()
    assert {r.fold for r in a} <= set(range(5))


def test_hard_negative_mining_shapes(spark):
    from ytsaurus_spark.operators.similarity import hard_negative_mining

    rows = []
    for v in range(20):
        lab = v % 2
        vec = [((v * 7 + d * 3) % 11 - 5) / 5.0 for d in range(4)]
        rows.append((v, vec, lab))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label bigint"
    )
    out = hard_negative_mining(df, n_negatives=3, stride=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    codes = {v: [round(x * 127) for x in vec] for v, vec, _ in rows}
    labs = {v: l for v, _, l in rows}
    for qv, items in by_q.items():
        kinds = sorted((r.kind, r.rk) for r in items)
        assert kinds == [("neg", 1), ("neg", 2), ("neg", 3), ("pos", 1)]
        # the positive is the true same-label argmax
        pos = next(r for r in items if r.kind == "pos")
        best = max(
            ((sum(a * b for a, b in zip(codes[qv], codes[c])), -c), c)
            for c, _, _ in rows if c != qv and labs[c] == labs[qv]
        )[1]
        assert pos.c_id == best


def test_image_tile_stats_conserves_pixels(spark):
    from ytsaurus_spark.operators.multimodal import (
        extract_image_features,
        image_tile_stats,
        synthesize_png,
    )

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id bigint")
    media = synthesize_png(docs).persist()
    tiles = image_tile_stats(media, grid=2).collect()
    feats = {r.id: r for r in extract_image_features(media).collect()}
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for t in tiles:
        agg[t.id][0] += t.n_px
        agg[t.id][1] += t.sum_r
    for rid, (n, sr) in agg.items():
        f = feats[rid]
        assert n == f.width * f.height  # every pixel in exactly one tile
        assert round(sr / n, 4) == f.mean_r  # tile sums fold to the mean
    assert all(len([t for t in tiles if t.id == rid]) == 4 for rid in agg)


def test_boilerplate_line_stats_multiline(spark):
    from ytsaurus_spark.operators.text import boilerplate_line_stats

    footer = "subscribe to our newsletter"
    docs = [
        (1, f"real content one\n{footer}", "en"),
        (2, f"real content two\n{footer}\nmore text", "en"),
        (3, f"unique stuff\n{footer}", "fr"),
        (4, "nothing shared here\nat all", "fr"),
        (5, f"{footer}\n{footer}", "en"),  # repeated inside one doc
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string, lang string")
    out = {r.lang: r for r in boilerplate_line_stats(df, min_df=3).collect()}
    # footer appears in 4 DISTINCT docs -> boilerplate at min_df=3.
    en = out["en"]
    assert (en.n_docs, en.n_docs_affected) == (3, 3)
    # doc 5 contributes TWO instances (both copies stripped).
    assert en.boilerplate_instances == 4
    assert en.chars_removed == 4 * len(footer)
    fr = out["fr"]
    assert (fr.n_docs, fr.n_docs_affected) == (2, 1)
    assert fr.boilerplate_instances == 1
    # raising the bar excludes it
    out2 = {r.lang: r for r in boilerplate_line_stats(df, min_df=5).collect()}
    assert all(r.boilerplate_instances == 0 for r in out2.values())


def test_minhash_incremental_matches_full(spark, sf_dir):
    """The incremental path over (stored index + new batch) finds exactly
    the full-corpus pairs that touch a new doc, and the returned updated
    index equals a from-scratch index of the union."""
    from ytsaurus_spark.catalog import load_tables
    from ytsaurus_spark.operators import dedup

    docs = load_tables(spark, sf_dir).read("documents").limit(300).cache()
    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    stored = dedup.band_signatures(hist)
    pairs, updated = dedup.minhash_lsh_incremental(new, stored)
    full = dedup.minhash_lsh_pairs(docs)
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    want = {
        (r.doc_a, r.doc_b) for r in full.collect()
        if r.doc_a in new_ids or r.doc_b in new_ids
    }
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got == want
    # the updated index is the from-scratch index of the union
    scratch = dedup.band_signatures(docs)
    assert sorted(map(tuple, updated.collect())) == sorted(
        map(tuple, scratch.collect())
    )
    docs.unpersist()
