"""Tests for operators/corpus.py (corpus curation) and dedup.semantic_dedup.

Semantics pinned here (the contract smoke net only checks executability;
the sf0.01 oracle rows check cross-engine exactness — these tests check the
operator-level invariants a pipeline author relies on).
"""

import math

import pytest
from pyspark.sql import functions as F

from rclip_server_spark.contract import CENTROIDS
from rclip_server_spark.operators import corpus, dedup


# ---------------------------------------------------------------------------
# token_topk
# ---------------------------------------------------------------------------


def test_token_topk_matches_bruteforce(spark, documents):
    top = corpus.token_topk(documents, k=5).collect()
    brute = (
        documents.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("t"))
        .groupBy("t")
        .count()
        .orderBy(F.desc("count"), F.asc("t"))
        .limit(5)
        .collect()
    )
    assert [(r.token, r.cnt) for r in top] == [(r.t, r["count"]) for r in brute]


def test_token_topk_deterministic_tiebreak(spark):
    df = spark.createDataFrame([("b a",), ("a b",)], ["text"])
    rows = corpus.token_topk(df, k=1).collect()
    # counts tie (2 vs 2) -> token asc wins
    assert rows[0].token == "a" and rows[0].cnt == 2


# ---------------------------------------------------------------------------
# source_stats
# ---------------------------------------------------------------------------


def test_source_stats_totals_consistent(documents):
    stats = corpus.source_stats(documents).collect()
    assert sum(r.n_docs for r in stats) == documents.count()
    total = documents.select(
        F.sum(F.size(F.split(F.trim(F.lower("text")), r"\s+"))).alias("n")
    ).first()["n"]
    assert sum(r.total_tokens for r in stats) == total
    # quality_score is bounded [0, 1] -> micros bounded by 1e6 * n_docs
    for r in stats:
        assert 0 <= r.quality_micros <= 1_000_000 * r.n_docs


# ---------------------------------------------------------------------------
# bigram LM
# ---------------------------------------------------------------------------


def test_doc_bigrams_shapes(spark):
    df = spark.createDataFrame(
        [("a b c",), ("solo",), ("",), ("x y",)], ["text"]
    ).select(corpus.doc_bigrams(F.col("text")).alias("bi"))
    assert [r.bi for r in df.collect()] == [
        ["a b", "b c"],
        [],
        [],
        ["x y"],
    ]


def test_bigram_lm_score_hand_computed(spark):
    # corpus: two docs, tokens a b / a b a.  unigrams: a*3 b*2 -> V=2
    df = spark.createDataFrame([(1, "a b"), (2, "a b a")], ["doc_id", "text"])
    out = {r.doc_id: r for r in corpus.bigram_lm_score(df).collect()}
    # bigram counts: "a b" x2, "b a" x1
    lp_ab = math.log((2 + 1.0) / (3 + 1.0 * 2))  # c(a b)=2, c(a)=3
    lp_ba = math.log((1 + 1.0) / (2 + 1.0 * 2))  # c(b a)=1, c(b)=2
    assert out[1].n_bigrams == 1
    assert out[1].lm_micronats == round(lp_ab * 1e6)
    assert out[2].n_bigrams == 2
    assert out[2].lm_micronats == round(lp_ab * 1e6) + round(lp_ba * 1e6)


def test_bigram_lm_short_docs_absent(spark):
    df = spark.createDataFrame([(1, "solo"), (2, ""), (3, "a b")], ["doc_id", "text"])
    assert [r.doc_id for r in corpus.bigram_lm_score(df).collect()] == [3]


def test_bigram_lm_familiar_beats_surprising(documents):
    """A document of corpus-frequent bigrams must out-score one of unique
    bigrams per-bigram (the filter's discriminating direction)."""
    scored = corpus.bigram_lm_score(documents)
    rows = scored.withColumn(
        "per_bigram", F.col("lm_micronats") / F.col("n_bigrams")
    ).collect()
    per = sorted(r.per_bigram for r in rows)
    assert per[0] < per[-1]  # non-degenerate spread
    assert all(r.lm_micronats < 0 for r in rows)  # log-probs are negative


# ---------------------------------------------------------------------------
# strip_duplicate_spans
# ---------------------------------------------------------------------------


def test_strip_spans_removes_only_repeated(spark):
    boiler = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    df = spark.createDataFrame(
        [
            (1, boiler + " unique one here"),
            (2, boiler + " different tail text"),
            (3, "entirely fresh content nothing shared"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.clean_text for r in corpus.strip_duplicate_spans(df).collect()}
    assert out[1] == "unique one here"
    assert out[2] == "different tail text"
    assert out[3] == "entirely fresh content nothing shared"


def test_strip_spans_keeps_all_docs(spark):
    boiler = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, boiler), (2, boiler)], ["doc_id", "text"]
    )
    out = {r.doc_id: r.clean_text for r in corpus.strip_duplicate_spans(df).collect()}
    # fully-boilerplate docs survive as empty rows, not dropped rows
    assert out == {1: "", 2: ""}


def test_strip_spans_row_count_stable(documents):
    assert corpus.strip_duplicate_spans(documents).count() == documents.count()


# ---------------------------------------------------------------------------
# weighted_mixture
# ---------------------------------------------------------------------------


def test_mixture_integer_factor_exact(spark):
    df = spark.createDataFrame([(i, "en") for i in range(50)], ["doc_id", "lang"])
    out = corpus.weighted_mixture(df, "doc_id", "lang", {"en": 3.0})
    assert out.count() == 150
    copies = out.where(F.col("doc_id") == 7).select("copy").collect()
    assert sorted(r.copy for r in copies) == [0, 1, 2]


def test_mixture_fractional_rate(spark):
    df = spark.createDataFrame([(i, "en") for i in range(2000)], ["doc_id", "lang"])
    n = corpus.weighted_mixture(df, "doc_id", "lang", {"en": 1.5}).count()
    assert 2000 * 1.35 < n < 2000 * 1.65  # ~3000 expected


def test_mixture_downsample_drops_rows(spark):
    df = spark.createDataFrame([(i, "zh") for i in range(2000)], ["doc_id", "lang"])
    n = corpus.weighted_mixture(df, "doc_id", "lang", {"zh": 0.25}).count()
    assert 2000 * 0.15 < n < 2000 * 0.35


def test_mixture_deterministic_and_append_stable(spark):
    df1 = spark.createDataFrame([(i, "en") for i in range(300)], ["doc_id", "lang"])
    df2 = spark.createDataFrame([(i, "en") for i in range(600)], ["doc_id", "lang"])
    kept1 = {
        (r.doc_id, r.copy)
        for r in corpus.weighted_mixture(df1, "doc_id", "lang", {"en": 0.5}).collect()
    }
    kept2 = {
        (r.doc_id, r.copy)
        for r in corpus.weighted_mixture(df2, "doc_id", "lang", {"en": 0.5}).collect()
    }
    # growing the corpus never changes existing rows' fate
    assert kept1 == {k for k in kept2 if k[0] < 300}


# ---------------------------------------------------------------------------
# semantic_dedup
# ---------------------------------------------------------------------------


def test_semantic_dedup_keeps_min_id(spark, embeddings):
    kept = dedup.semantic_dedup(embeddings, CENTROIDS, threshold=0.4)
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    # every dropped row must have a kept OR dropped lower-id near-dup in its
    # cluster; spot-check the invariant: the global min id always survives
    min_id = embeddings.agg(F.min("vec_id")).first()[0]
    assert min_id in kept_ids
    assert kept.count() <= embeddings.count()


def test_semantic_dedup_exact_duplicate_dropped(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((20, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows.append((99, rows[5][1]))  # exact duplicate of id 5 -> cosine 1.0
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = {
        r.vec_id
        for r in dedup.semantic_dedup(df, CENTROIDS, threshold=0.95).collect()
    }
    assert 5 in kept and 99 not in kept


def test_semantic_dedup_gemm_equals_pairs(spark, embeddings):
    """The per-cluster GEMM prefilter + exact-fold verify must keep exactly
    the rows the pure pair-join plan keeps (the GEMM is only a candidate
    generator; the final predicate is the same left-assoc fold)."""
    g = {r.vec_id for r in dedup.semantic_dedup(embeddings, CENTROIDS, threshold=0.4).collect()}
    p = {
        r.vec_id
        for r in dedup.semantic_dedup(
            embeddings, CENTROIDS, threshold=0.4, method="pairs"
        ).collect()
    }
    assert g == p


def test_semantic_dedup_idempotent(spark, embeddings):
    once = dedup.semantic_dedup(embeddings, CENTROIDS, threshold=0.4)
    twice = dedup.semantic_dedup(once, CENTROIDS, threshold=0.4)
    assert once.count() == twice.count()


# ---------------------------------------------------------------------------
# binary-quantization ANN tier
# ---------------------------------------------------------------------------


def test_binary_hamming_full_shortlist_equals_exact(spark, embeddings):
    from rclip_server_spark.contract import QV_ZEBRA
    from rclip_server_spark.operators import ann, similarity

    n = embeddings.count()
    approx = ann.binary_hamming_topk(
        embeddings, QV_ZEBRA, k=10, shortlist=n
    ).collect()
    exact = similarity.topk_similar(embeddings, QV_ZEBRA, k=10).collect()
    assert [(r.vec_id, round(r.score, 12)) for r in approx] == [
        (r.vec_id, round(r.score, 12)) for r in exact
    ]


def test_binary_hamming_recall_reasonable(spark, embeddings):
    from rclip_server_spark.contract import QV_ZEBRA
    from rclip_server_spark.operators import ann, similarity

    approx = {
        r.vec_id
        for r in ann.binary_hamming_topk(
            embeddings, QV_ZEBRA, k=10, shortlist=100
        ).collect()
    }
    exact = {r.vec_id for r in similarity.topk_similar(embeddings, QV_ZEBRA, k=10).collect()}
    # 100-of-500 shortlist at dim 64: most true neighbors must survive
    assert len(approx & exact) >= 5


def test_binarize_hamming_identities(spark):
    from pyspark.sql import functions as F

    from rclip_server_spark.functions import vector as V

    df = spark.createDataFrame(
        [([1.0] * 64,), ([-1.0] * 64,), ([1.0, -1.0] * 32,)], ["v"]
    ).withColumn("w", V.binarize_words(F.col("v"), 64))
    rows = df.select("w").collect()
    assert rows[0].w == [(1 << 32) - 1, (1 << 32) - 1]  # all positive
    assert rows[1].w == [0, 0]  # all negative
    # self-Hamming is zero; opposite signs differ in all 64 bits
    d = df.select(
        V.hamming_packed(F.col("w"), F.col("w")).alias("self_d")
    ).collect()
    assert all(r.self_d == 0 for r in d)
    two = spark.createDataFrame([([1.0] * 64, [-1.0] * 64)], ["a", "b"])
    h = two.select(
        V.hamming_packed(
            V.binarize_words(F.col("a"), 64), V.binarize_words(F.col("b"), 64)
        ).alias("d")
    ).first()
    assert h.d == 64


# ---------------------------------------------------------------------------
# incremental (batch-vs-corpus) MinHash dedup
# ---------------------------------------------------------------------------


def test_incremental_matches_cross_pairs_of_full_run(spark, documents):
    """batch-vs-corpus pairs == the cross-table subset of the full self-join
    near-dup pairs (same signatures, same verification)."""
    corpus = documents.where(F.col("doc_id") % 10 != 0)
    batch = documents.where(F.col("doc_id") % 10 == 0)
    inc = {
        (r.corpus_id, r.batch_id)
        for r in dedup.minhash_near_dup_incremental(corpus, batch, threshold=0.7).collect()
    }
    full = dedup.minhash_near_dup(documents, threshold=0.7).collect()
    cross = set()
    for r in full:
        a_batch, b_batch = r.id_a % 10 == 0, r.id_b % 10 == 0
        if a_batch and not b_batch:
            cross.add((r.id_b, r.id_a))
        elif b_batch and not a_batch:
            cross.add((r.id_a, r.id_b))
    assert inc == cross


def test_incremental_detects_exact_copy(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog repeatedly today"),
         (2, "completely different corpus content with other words present")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog repeatedly today"),
         (101, "novel unseen text that matches nothing in the existing index")],
        ["doc_id", "text"],
    )
    pairs = dedup.minhash_near_dup_incremental(corpus, batch, threshold=0.7).collect()
    assert [(r.corpus_id, r.batch_id) for r in pairs] == [(1, 100)]
    assert pairs[0].jaccard == 1.0


# ---------------------------------------------------------------------------
# BPE vocabulary training
# ---------------------------------------------------------------------------


def _ref_bpe(words_with_freq, n_merges, min_pair_freq=2):
    """Pure-Python Sennrich-style reference: character start, merge the
    most frequent adjacent pair (overlapping counted), ties broken by
    (count desc, pair asc), merges applied greedily left-to-right."""
    table = [(list(w), f) for w, f in words_with_freq]
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, f in table:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_freq:
            break
        a, b = best[0]
        merges.append((a, b))
        new_table = []
        for syms, f in table:
            out, pending = [], None
            for s in syms:
                if pending == a and s == b:
                    out.append(a + b)
                    pending = None
                else:
                    if pending is not None:
                        out.append(pending)
                    pending = s
            if pending is not None:
                out.append(pending)
            new_table.append((out, f))
        table = new_table
    return merges, table


def _ref_word_freqs(documents):
    rows = (
        documents.select(
            F.explode(corpus.TXT.bpe_pretokens(F.col("text"))).alias("w")
        )
        .groupBy("w")
        .count()
        .collect()
    )
    return [(r.w, r["count"]) for r in rows]


def test_bpe_train_matches_python_reference(documents):
    merges, wf = corpus.bpe_train(documents, n_merges=12)
    ref_merges, _ = _ref_bpe(_ref_word_freqs(documents), 12)
    assert merges == ref_merges
    assert len(merges) == 12  # fixture corpus has at least 12 productive merges


def test_bpe_final_syms_match_reference(documents):
    merges, wf = corpus.bpe_train(documents, n_merges=8)
    _, ref_table = _ref_bpe(_ref_word_freqs(documents), 8)
    got = {"".join(r.syms): tuple(r.syms) for r in wf.collect()}
    want = {"".join(syms): tuple(syms) for syms, _ in ref_table}
    assert got == want


def test_bpe_merge_fold_greedy_left_to_right(spark):
    df = spark.createDataFrame([(["a", "a", "a"],)], ["syms"])
    out = df.select(corpus._apply_merge(F.col("syms"), "a", "a").alias("m")).first().m
    assert out == ["aa", "a"]  # non-overlapping, left-first


def test_bpe_pair_counts_overlapping(spark):
    wf = spark.createDataFrame([("aaa", 2, ["a", "a", "a"])], ["word", "freq", "syms"])
    rows = corpus.bpe_pair_counts(wf).collect()
    assert [(r.a, r.b, r.pair_freq) for r in rows] == [("a", "a", 4)]  # 2 positions x freq 2


# ---------------------------------------------------------------------------
# classifier quality score
# ---------------------------------------------------------------------------


def test_classifier_quality_hand_computed(spark):
    import math
    from rclip_server_spark.operators import text_analysis as TA

    df = spark.createDataFrame([(1, "the cat sat on the mat")], ["doc_id", "text"])
    r = TA.classifier_quality_score(df).first()
    # features: 6 tokens, mean len 17/6, distinct stopword hits {the}=1/6, punct 0
    w, b = TA.QUALITY_CLF_WEIGHTS, TA.QUALITY_CLF_BIAS
    score = (
        b
        + w["log_tokens"] * math.log(7.0)
        + w["mean_token_len"] * (17.0 / 6.0)
        + w["stopword_ratio"] * (1.0 / 6.0)
        + w["punct_ratio"] * 0.0
    )
    assert r.score_micros == round(score * 1e6)
    assert r.keep == (r.score_micros > 0)


def test_classifier_quality_punct_penalty(spark):
    from rclip_server_spark.operators import text_analysis as TA

    df = spark.createDataFrame(
        [(1, "a normal english sentence about things"),
         (2, "a normal english sentence about th!?;;")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.score_micros for r in TA.classifier_quality_score(df).collect()}
    assert out[2] < out[1]


# ---------------------------------------------------------------------------
# cluster_topic_terms
# ---------------------------------------------------------------------------


def test_cluster_topics_hand_computed(spark):
    import numpy as np

    cents = np.eye(2)  # cell 0 = e0, cell 1 = e1
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    docs = spark.createDataFrame(
        [(1, "cats cats dogs"), (2, "cats birds"), (3, "fish fish fish")],
        ["doc_id", "text"],
    )
    out = corpus.cluster_topic_terms(docs, emb, cents, k_terms=2).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r.ivf_cell, []).append((r.rank, r.token, r.cnt))
    assert sorted(by_cell[0]) == [(1, "cats", 3), (2, "birds", 1)]
    assert sorted(by_cell[1]) == [(1, "fish", 3)]


def test_cluster_topics_excludes_stopwords(spark):
    import numpy as np

    emb = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    docs = spark.createDataFrame([(1, "the the the zebra")], ["doc_id", "text"])
    out = corpus.cluster_topic_terms(docs, emb, np.eye(2), k_terms=3).collect()
    assert [r.token for r in out] == ["zebra"]


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------


def test_cms_never_underestimates(spark, documents):
    from rclip_server_spark.operators import sketches

    toks = documents.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))
    sketch = sketches.cms_build(toks, "token", depth=4, width=512)
    truth = toks.groupBy("token").count()
    est = sketches.cms_estimate(sketch, truth.select("token"), "token", depth=4, width=512)
    joined = truth.join(est, "token").collect()
    assert len(joined) > 0
    assert all(r.est >= r["count"] for r in joined)  # CMS one-sided error


def test_cms_exact_when_wide(spark):
    from rclip_server_spark.operators import sketches

    df = spark.createDataFrame(
        [(w,) for w in ["a"] * 5 + ["b"] * 3 + ["c"] * 1], ["k"]
    )
    sketch = sketches.cms_build(df, "k", depth=4, width=1 << 16)
    probes = spark.createDataFrame([("a",), ("b",), ("c",), ("zzz",)], ["k"])
    out = {r.k: r.est for r in
           sketches.cms_estimate(sketch, probes, "k", depth=4, width=1 << 16).collect()}
    # 3 keys in 65536 buckets: no collisions -> exact, and unseen key -> 0
    assert out == {"a": 5, "b": 3, "c": 1, "zzz": 0}


def test_cms_size_is_bounded(spark, documents):
    from rclip_server_spark.operators import sketches

    toks = documents.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))
    sketch = sketches.cms_build(toks, "token", depth=4, width=64)
    assert sketch.count() <= 4 * 64
    # cell-wise counts per depth conserve the stream length
    per_depth = sketch.groupBy("d").agg(F.sum("cnt").alias("s")).collect()
    n = toks.count()
    assert all(r.s == n for r in per_depth)


def test_contrastive_triplets_invariants(spark, documents):
    pairs = dedup.minhash_near_dup(documents, threshold=0.7).select("id_a", "id_b")
    t1 = corpus.contrastive_triplets(documents, pairs).collect()
    assert t1  # fixture has near-dup positives
    for r in t1:
        assert r.negative != r.anchor and r.negative != r.positive
    # rerun-stable (hash adjacency, not rand())
    t2 = corpus.contrastive_triplets(documents, pairs).collect()
    assert sorted(map(tuple, t1)) == sorted(map(tuple, t2))
    # a different salt redraws the negatives
    t3 = corpus.contrastive_triplets(documents, pairs, salt="neg2").collect()
    assert sorted(map(tuple, t3)) != sorted(map(tuple, t1))


class TestBloomFilter:
    """Bloom-pruned anti-join (operators/sketches.py): exactness vs the
    plain anti-join, the no-false-negative invariant, and the measured
    false-positive rate against its sizing formula."""

    def test_exact_vs_plain_anti_join(self, spark, documents):
        from rclip_server_spark.operators import sketches

        keys = documents.where(F.col("lang") == "en").select("doc_id")
        got = sketches.bloom_prune_anti_join(
            documents.select("doc_id", "lang"), keys, "doc_id", fpp=0.01
        )
        want = documents.select("doc_id", "lang").join(keys, "doc_id", "left_anti")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_no_false_negatives_and_fpp_bound(self, spark):
        from rclip_server_spark.operators import sketches

        member = spark.range(0, 2000).select(F.col("id").alias("k"))
        bitmap, m, k = sketches.bloom_build(member, "k", fpp=0.01)
        might = sketches.bloom_might_contain(bitmap, m, k)
        h1, h2 = sketches.bloom_hashes(F.col("k"))
        # every member answers "maybe" — Bloom "no" must be definitive
        hits = member.withColumn("h", might(h1, h2)).where(~F.col("h")).count()
        assert hits == 0
        # non-members: measured fpp within 3x of the sizing target
        non = spark.range(100000, 110000).select(F.col("id").alias("k"))
        fp = non.withColumn("h", might(h1, h2)).where(F.col("h")).count()
        assert fp / 10000 < 0.03

    def test_bad_fpp_raises(self):
        from rclip_server_spark.operators import sketches
        import pytest as _pt

        with _pt.raises(ValueError):
            sketches.bloom_params(100, 1.5)


class TestHistogramSketch:
    """Mergeable equi-width histogram (operators/sketches.py): shard-merge
    == global build, quantile accuracy within one bin width, edge clamping."""

    def test_merge_of_shards_equals_global(self, spark, documents):
        from rclip_server_spark.operators import sketches

        df = documents.select("doc_id", F.length("text").cast("double").alias("v"),
                              "lang")
        per_shard = sketches.histogram_build(df, "v", 0.0, 1000.0, 32,
                                             shard_cols=["lang"])
        merged = {(r.bin, r.cnt)
                  for r in sketches.histogram_merge(per_shard).collect()}
        direct = {(r.bin, r.cnt)
                  for r in sketches.histogram_build(df, "v", 0.0, 1000.0, 32).collect()}
        assert merged == direct

    def test_quantiles_within_one_bin_width(self, spark, documents):
        import numpy as np

        from rclip_server_spark.operators import sketches

        vals = np.array([r[0] for r in documents.select(
            F.length("text").cast("double")).collect()])
        lo, hi, n_bins = 0.0, 1000.0, 64
        width = (hi - lo) / n_bins
        hist = sketches.histogram_build(
            documents.select(F.length("text").cast("double").alias("v")),
            "v", lo, hi, n_bins)
        got = {r.q: r.est for r in sketches.histogram_quantiles(
            hist, [0.25, 0.5, 0.9], lo, hi, n_bins).collect()}
        for q, est in got.items():
            exact = float(np.quantile(vals, q))
            assert abs(est - exact) <= width + 1e-9, (q, est, exact)

    def test_out_of_range_clamps_to_edge_bins(self, spark):
        from rclip_server_spark.operators import sketches

        df = spark.createDataFrame(
            [(-50.0,), (0.0,), (5.0,), (99.0,), (150.0,)], "v double")
        bins = {(r.bin, r.cnt)
                for r in sketches.histogram_build(df, "v", 0.0, 100.0, 10).collect()}
        assert (0, 3) in bins       # -50 clamps into bin 0 alongside 0.0, 5.0
        assert (9, 2) in bins       # 150 clamps into bin 9 alongside 99


class TestHistogramDrift:
    def test_identical_distributions_zero_tv(self, spark, documents):
        from rclip_server_spark.operators import sketches

        d = documents.select(F.length("text").cast("double").alias("v"))
        out = sketches.histogram_drift(d, d, "v", 0.0, 1000.0, 32).collect()
        assert all(r.tv_distance == 0.0 and r.tv_num == 0 for r in out)
        assert all(r.cnt_old == r.cnt_new for r in out)

    def test_disjoint_distributions_tv_one(self, spark):
        from rclip_server_spark.operators import sketches

        lo = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
        hi = spark.createDataFrame([(500.0 + i,) for i in range(50)], "v double")
        out = sketches.histogram_drift(lo, hi, "v", 0.0, 1000.0, 16).collect()
        assert all(abs(r.tv_distance - 1.0) < 1e-12 for r in out)

    def test_tv_matches_float_reference(self, spark, documents):
        from rclip_server_spark.operators import sketches

        d = documents.select("doc_id", F.length("text").cast("double").alias("v"))
        old = d.where(F.col("doc_id") % 2 == 0)
        new = d.where(F.col("doc_id") % 2 == 1)
        rows = sketches.histogram_drift(old, new, "v", 0.0, 1000.0, 32).collect()
        n_old = sum(r.cnt_old for r in rows)
        n_new = sum(r.cnt_new for r in rows)
        want = 0.5 * sum(
            abs(r.cnt_old / n_old - r.cnt_new / n_new) for r in rows
        )
        assert abs(rows[0].tv_distance - want) < 1e-9
        assert 0.0 < rows[0].tv_distance < 1.0


def test_histogram_quantiles_by_group_matches_global_per_slice(spark, documents):
    """Per-group quantiles must equal the GLOBAL quantile function run on
    each group's slice independently (same bins, same interpolation)."""
    from rclip_server_spark.operators import sketches

    docs = documents.select("lang", F.length("text").cast("double").alias("v"))
    hist = sketches.histogram_build(docs, "v", 0.0, 1000.0, 32,
                                    shard_cols=["lang"])
    got = {
        (r.lang, r.q): r.est
        for r in sketches.histogram_quantiles_by_group(
            hist, [0.25, 0.5, 0.9], 0.0, 1000.0, 32, group_cols=["lang"]
        ).collect()
    }
    want = {}
    for (lang,) in docs.select("lang").distinct().collect():
        sub = sketches.histogram_build(
            docs.where(F.col("lang") == lang), "v", 0.0, 1000.0, 32)
        for r in sketches.histogram_quantiles(
            sub, [0.25, 0.5, 0.9], 0.0, 1000.0, 32
        ).collect():
            want[(lang, r.q)] = r.est
    assert got == want
