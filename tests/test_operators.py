"""Spark operator semantics on the sf0.001 fixtures: similarity, stats,
dedup, ANN, guards (SURVEY.md §5.4 property checks)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rclip_server_spark.functions import vector as V
from rclip_server_spark.operators import ann, dedup, similarity, stats
from rclip_server_spark.plans.embedder import DeterministicEmbedder

E = DeterministicEmbedder(64)
QV = E.embed_text("zebra")


def _emb_matrix(embeddings):
    rows = embeddings.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, mat


def test_topk_equals_full_sort(embeddings):
    n = embeddings.count()
    topk = similarity.topk_similar(embeddings, QV, k=n).collect()
    ids, mat = _emb_matrix(embeddings)
    scores = mat @ QV
    order = sorted(zip(ids, scores), key=lambda t: (-t[1], t[0]))
    got = [(r.vec_id, r.score) for r in topk]
    for (gid, gs), (wid, ws) in zip(got, order):
        assert gid == wid
        assert abs(gs - ws) < 1e-9


def test_topk_scores_match_numpy(embeddings):
    top = similarity.topk_similar(embeddings, QV, k=5).collect()
    ids, mat = _emb_matrix(embeddings)
    by_id = dict(zip(ids, mat))
    for r in top:
        assert abs(r.score - float(by_id[r.vec_id] @ QV)) < 1e-9


def test_gemv_path_matches_sql_path(embeddings):
    sql = similarity.with_score(embeddings, QV, method="sql").select("vec_id", "score")
    gemv = similarity.with_score(embeddings, QV, method="gemv").select("vec_id", "score")
    merged = sql.withColumnRenamed("score", "s1").join(
        gemv.withColumnRenamed("score", "s2"), "vec_id"
    )
    max_diff = merged.agg(F.max(F.abs(F.col("s1") - F.col("s2")))).first()[0]
    assert max_diff < 1e-9


def test_l2_normalize_unit_norm(embeddings):
    normed = embeddings.select(V.l2_normalize("embedding").alias("n"))
    norms = normed.select(
        F.sqrt(F.aggregate(F.transform("n", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)).alias("nn")
    )
    mn, mx = norms.agg(F.min("nn"), F.max("nn")).first()
    assert abs(mn - 1.0) < 1e-9 and abs(mx - 1.0) < 1e-9


def test_feature_minmax_matches_numpy(embeddings):
    got = {r.dim: (r.min_x, r.max_x) for r in stats.feature_minmax(embeddings).collect()}
    _, mat = _emb_matrix(embeddings)
    for d in range(mat.shape[1]):
        assert abs(got[d][0] - mat[:, d].min()) < 1e-7
        assert abs(got[d][1] - mat[:, d].max()) < 1e-7


def test_minmax_normalize_range_and_no_shuffle(embeddings):
    mm = stats.minmax_normalize(embeddings)
    bounds = mm.select(
        F.array_min("normalized").alias("lo"), F.array_max("normalized").alias("hi")
    ).agg(F.min("lo"), F.max("hi")).first()
    assert bounds[0] >= -1e-9 and bounds[1] <= 1 + 1e-9
    # the 100 TB design point: the big-table pass must be map-only
    assert "Exchange" not in mm._jdf.queryExecution().executedPlan().toString()


def test_point_lookup(embeddings):
    vec = similarity.point_lookup_embedding(embeddings, 42)
    assert vec.shape == (64,)
    with pytest.raises(KeyError):
        similarity.point_lookup_embedding(embeddings, 10**9)


def test_random_row_seeded_deterministic(embeddings):
    a = similarity.random_row_embedding(embeddings, seed=1)
    b = similarity.random_row_embedding(embeddings, seed=1)
    np.testing.assert_array_equal(a, b)


def test_exact_dedup_mark_and_idempotence(spark, embeddings):
    dup = embeddings.limit(7).withColumn("vec_id", F.col("vec_id") + 10_000)
    both = embeddings.unionByName(dup)
    marked = dedup.exact_dedup_mark(both, "embedding", "vec_id")
    assert marked.where("is_duplicate").count() == 7
    # idempotence: dedup of the deduped set marks nothing
    clean = marked.where(~F.col("is_duplicate")).drop("is_duplicate")
    assert dedup.exact_dedup_mark(clean, "embedding", "vec_id").where("is_duplicate").count() == 0


def test_exact_dup_groups_keep_min(embeddings):
    dup = embeddings.limit(3).withColumn("vec_id", F.col("vec_id") + 10_000)
    both = embeddings.unionByName(dup)
    groups = dedup.exact_dup_groups(both, "embedding", "vec_id").collect()
    assert len(groups) == 3
    for g in groups:
        assert g.keep_id < 10_000  # the ORIGINAL id survives
        assert g.n_dups == 2


def test_minhash_finds_injected_near_dup(spark, documents):
    base = documents.limit(5)
    near = base.withColumn("doc_id", F.col("doc_id") + 50_000)
    pairs = dedup.minhash_near_dup(base.unionByName(near), threshold=0.99).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    for r in base.select("doc_id").collect():
        assert (r.doc_id, r.doc_id + 50_000) in found
    for p in pairs:
        assert p.jaccard >= 0.99


def test_connected_components_path_and_islands(spark):
    # a 6-vertex path (diameter 5 → needs >1 propagation round), a triangle,
    # and an isolated edge; labels must be each component's minimum id
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {r.id: r.label for r in dedup.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_duplicate_clusters_transitive_and_singletons(spark, documents):
    # two near-copies of each base doc: A~B and A~C force the transitive
    # cluster {A, B, C}; untouched docs stay singletons
    base = documents.limit(3)
    c1 = base.withColumn("doc_id", F.col("doc_id") + 50_000)
    c2 = base.withColumn("doc_id", F.col("doc_id") + 90_000)
    corpus = documents.limit(40).unionByName(c1).unionByName(c2)
    clusters = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(corpus, threshold=0.9).collect()
    }
    for r in base.select("doc_id").collect():
        assert clusters[r.doc_id] == r.doc_id
        assert clusters[r.doc_id + 50_000] == r.doc_id
        assert clusters[r.doc_id + 90_000] == r.doc_id
    # docs in no near-dup pair must be their own (singleton) cluster
    paired = set()
    for p in dedup.minhash_near_dup(corpus, threshold=0.9).collect():
        paired.update((p.id_a, p.id_b))
    singles = [d for d in clusters if d not in paired]
    assert singles and all(clusters[d] == d for d in singles)


def test_scale_guard_blocks_all_pairs(embeddings):
    with pytest.raises(dedup.ScaleGuardError):
        dedup.embedding_near_dup_pairs(embeddings, max_rows=10).count()
    with pytest.raises(dedup.ScaleGuardError):
        dedup.ngram_jaccard_pairs(embeddings.limit(20), max_rows=10).count()


def test_lsh_topk_subset_of_exact(embeddings):
    exact = {r.vec_id for r in similarity.topk_similar(embeddings, QV, k=100).collect()}
    approx = ann.lsh_topk(embeddings, QV, k=10, n_planes=4)
    rows = approx.collect()
    assert 0 < len(rows) <= 10
    # every LSH hit must carry its true exact score
    ids, mat = _emb_matrix(embeddings)
    by_id = dict(zip(ids, mat))
    for r in rows:
        assert abs(r.score - float(by_id[r.vec_id] @ QV)) < 1e-9


def test_phrase_embedding_matches_numpy(spark, embeddings):
    words = embeddings.select(
        F.col("vec_id").cast("string").alias("word"), F.col("embedding").alias("vector")
    )
    phrases = spark.createDataFrame(
        [("p", ["1", "2", "3"])], "phrase_id string, words array<string>"
    )
    got = similarity.phrase_embedding_df(words, phrases).collect()[0].vector
    ids, mat = _emb_matrix(embeddings)
    by_id = dict(zip(ids, mat))
    want = by_id[1] + by_id[2] + by_id[3]
    want /= np.linalg.norm(want)
    np.testing.assert_allclose(np.array(got), want, atol=1e-9)


def test_best_phrases_reference_counts_golden(spark, embeddings):
    """A14 fidelity to the reference's sampled combination counts
    (rclip_server.py:330-342): pool = top-200 best words, candidates =
    1000 sampled combos PER length {2,3,4} (3000 total), approx score =
    dot(query, normalize(Σ word vectors)), slice = top-100. Golden: the
    Spark result equals a driver-side numpy re-derivation using the same
    seeded RNG — same phrases, same order, scores to 1e-9."""
    words = embeddings.select(
        F.col("vec_id").cast("string").alias("word"),
        F.col("embedding").alias("vector"))
    got = similarity.best_phrases(words, QV, k=100).collect()
    assert len(got) == 100  # the top-100 slice boundary (RS:341)

    ids, mat = _emb_matrix(embeddings)
    qv = np.asarray(QV, dtype=np.float64)
    words_np = np.array([str(i) for i in ids])
    scores = mat @ qv
    order = np.lexsort((words_np, -scores))  # score desc, word asc
    pool = [words_np[i] for i in order[:200]]
    vec_by_word = dict(zip(words_np.tolist(), mat))
    rng = np.random.default_rng(42)
    candidates = []
    for ln in (2, 3, 4):
        for _ in range(1000):
            idx = rng.choice(len(pool), size=ln, replace=False)
            ws = [pool[i] for i in idx]
            candidates.append((" ".join(ws), ws))
    # the reference's exact candidate volume: num_per_group x 3 lengths
    assert len(candidates) == 3000

    def approx_score(ws):
        s = np.sum([vec_by_word[w] for w in ws], axis=0)
        return float(qv @ (s / np.linalg.norm(s)))

    ref = sorted(((p, approx_score(ws)) for p, ws in candidates),
                 key=lambda t: (-t[1], t[0]))[:100]
    assert [r.phrase for r in got] == [p for p, _ in ref]
    np.testing.assert_allclose(
        [r.score for r in got], [s for _, s in ref], atol=1e-9)


def test_best_phrases_small_pool_no_crash(spark, embeddings):
    words = embeddings.limit(3).select(
        F.col("vec_id").cast("string").alias("word"), F.col("embedding").alias("vector")
    )
    out = similarity.best_phrases(words, QV, top_words=3, n_samples_per_len=5,
                                  phrase_lens=(2, 3, 4, 10)).collect()
    assert all(r.score is not None for r in out)


@pytest.mark.parametrize("op", [
    lambda empty, full: ann.hyperplane_lsh_near_dup(empty),
    lambda empty, full: ann.lsh_similarity_join(empty, full),
    lambda empty, full: ann.hyperplane_lsh_near_dup_multiset(empty),
    lambda empty, full: ann.lsh_knn_join(empty, full, n_left=0,
                                         n_right=500),
], ids=["hyperplane_lsh_near_dup", "lsh_similarity_join",
        "hyperplane_lsh_near_dup_multiset", "lsh_knn_join"])
def test_hyperplane_near_dup_empty_df_raises(spark, embeddings, op):
    """Every operator that infers the embedding dim from its (left)
    input raises the one dim-probe error on an empty input; lsh_knn_join
    gets its sizes, so the dim probe is what raises."""
    with pytest.raises(ValueError, match="cannot infer the embedding dim"):
        op(embeddings.limit(0), embeddings)


def test_partition_partial_topk_bounds_rows(spark, embeddings):
    """The partial tier must emit <= P*M*k rows (the scale bound) while
    preserving the exact global top-k under (score DESC, id ASC)."""
    from rclip_server_spark.plans.embedder import DeterministicEmbedder

    E = DeterministicEmbedder(64)
    terms = ["zebra", "spots", "ocean"]
    qdf = spark.createDataFrame(
        [(t, [float(x) for x in E.embed_text(t)]) for t in terms],
        "query_id string, query_vec array<double>",
    )
    P, M, k = 8, len(terms), 5
    scored = (
        embeddings.repartition(P)
        .crossJoin(F.broadcast(qdf))
        .select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.zip_with("embedding", "query_vec", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    partial = ann.partition_partial_topk(scored, k)
    assert partial.count() <= P * M * k
    # consolidating the partial tier must reproduce the naive global top-k
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    naive = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    two_tier = partial.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    assert sorted(map(tuple, two_tier.collect())) == sorted(map(tuple, naive.collect()))


def test_partition_partial_topk_consolidation_branch(spark):
    """One partition fed > 65,536 scored rows forces the in-stream buffer
    consolidation (the per-worker memory bound) — output must still be
    <= M*k rows for the single partition AND exactly the global top-k.
    Pins that the consolidate-mid-stream path loses nothing."""
    M, k, n = 2, 5, 70_000
    scored = (
        spark.range(n)
        .select(
            F.explode(F.array(F.lit("qa"), F.lit("qb"))).alias("query_id"),
            F.col("id").alias("vec_id"),
            # deterministic, collision-free ordering: distinct score per row
            ((F.col("id") * 37) % 999_983).cast("double").alias("score"),
        )
        .coalesce(1)
    )
    partial = ann.partition_partial_topk(scored, k)
    assert partial.count() <= M * k
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    naive = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    two_tier = partial.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    assert sorted(map(tuple, two_tier.collect())) == sorted(map(tuple, naive.collect()))


def test_multiprobe_recall_at_least_single_probe(embeddings):
    exact_top10 = {r.vec_id for r in similarity.topk_similar(embeddings, QV, k=10).collect()}
    single = {r.vec_id for r in ann.lsh_topk(embeddings, QV, k=10, n_planes=4).collect()}
    multi = {r.vec_id for r in ann.lsh_topk_multiprobe(
        embeddings, QV, k=10, n_planes=4, n_probe_bits=1).collect()}
    assert len(multi & exact_top10) >= len(single & exact_top10)


def test_ivf_kmeans_deterministic_and_unit_norm(embeddings):
    c1 = ann.ivf_train_kmeans(embeddings, k=4, iters=2)
    c2 = ann.ivf_train_kmeans(embeddings, k=4, iters=2)
    np.testing.assert_array_equal(c1, c2)
    assert c1.shape == (4, 64)
    np.testing.assert_allclose(np.linalg.norm(c1, axis=1), np.ones(4), atol=1e-9)
    # training must reduce (or hold) k-means quantization error vs init
    ids, mat = _emb_matrix(embeddings)
    init = mat[np.argsort(ids)[:4]]
    init = init / np.linalg.norm(init, axis=1, keepdims=True)
    def sse(cents):
        d = mat @ cents.T
        return float(np.sum(1.0 - d.max(axis=1)))
    assert sse(c1) <= sse(init) + 1e-9


def test_ivf_maximin_init_spreads_better_than_first_k(embeddings):
    mm = ann.ivf_init_maximin(embeddings, k=4)
    np.testing.assert_array_equal(mm, ann.ivf_init_maximin(embeddings, k=4))
    # all chosen seeds distinct (farthest-first can never repeat a point
    # while distinct points remain)
    assert len({tuple(np.round(c, 9)) for c in mm}) == 4
    ids, mat = _emb_matrix(embeddings)
    first_k = mat[np.argsort(ids)[:4]]
    def sse(cents):
        c = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        d = mat @ c.T
        return float(np.sum(1.0 - d.max(axis=1)))
    # the spread property maximin guarantees: a better STARTING quantization
    # (post-training ranking is corpus-dependent; on this near-uniform
    # fixture both inits converge to similar inertia)
    assert sse(mm) <= sse(first_k) + 1e-9
    # training from maximin must still improve on its own init
    trained_mm = ann.ivf_train_kmeans(embeddings, k=4, iters=2, init="maximin")
    assert sse(trained_mm) <= sse(mm) + 1e-9
    with pytest.raises(ValueError):
        ann.ivf_train_kmeans(embeddings, k=4, init="nope")


def test_salted_agg_equals_plain_groupby(documents):
    from rclip_server_spark.operators import skew

    plain = {
        (r.lang): (r.n, r.mx)
        for r in documents.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.max("n_chars").alias("mx"))
        .collect()
    }
    salted = {
        (r.lang): (r.n, r.mx)
        for r in skew.salted_agg(
            documents,
            keys=["lang"],
            aggs={"n": (F.lit(1), "count"), "mx": (F.col("n_chars"), "max")},
            salt_buckets=8,
        ).collect()
    }
    assert salted == plain


def test_simhash_near_dup_finds_exact_dups(spark, documents):
    base = documents.limit(5)
    clone = base.withColumn("doc_id", F.col("doc_id") + 70_000)
    pairs = dedup.simhash_near_dup(base.unionByName(clone), max_hamming=0).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    for r in base.select("doc_id").collect():
        assert (r.doc_id, r.doc_id + 70_000) in found
    assert all(p.hamming == 0 for p in pairs)


def test_quantize_roundtrip_error_bound(embeddings):
    rt = embeddings.select(
        "embedding",
        V.dequantize_int8(V.quantize_int8("embedding")).alias("dq"),
    )
    max_err = rt.select(
        F.array_max(
            F.zip_with("embedding", "dq", lambda a, b: F.abs(a.cast("double") - b))
        ).alias("e")
    ).agg(F.max("e")).first()[0]
    assert max_err <= 0.5 / 127.0 + 1e-12


def test_quantized_topk_close_to_exact(embeddings):
    exact = [r.vec_id for r in similarity.topk_similar(embeddings, QV, k=10).collect()]
    dq = embeddings.select(
        "vec_id", V.dequantize_int8(V.quantize_int8("embedding")).alias("embedding")
    )
    quant = [r.vec_id for r in similarity.topk_similar(dq, QV, k=10).collect()]
    assert len(set(exact) & set(quant)) >= 8  # int8 barely moves the ranking


def test_lsh_similarity_join_two_tables(embeddings):
    left = embeddings.where(F.col("label") < 5)
    right = embeddings.where(F.col("label") >= 5)
    out = ann.lsh_similarity_join(left, right, threshold=0.3, dim=64).collect()
    lids = {r.vec_id for r in left.select("vec_id").collect()}
    rids = {r.vec_id for r in right.select("vec_id").collect()}
    for p in out:
        assert p.id_a in lids and p.id_b in rids and p.cosine >= 0.3


def test_gemm_multi_query_matches_per_query(spark, embeddings):
    terms = ["cat", "dog"]
    Q = np.stack([E.embed_text(t) for t in terms])
    gemm = ann.brute_force_topk_multi_gemm(embeddings, Q, terms, k=5).collect()
    by_query = {}
    for r in gemm:
        by_query.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.score))
    for i, t in enumerate(terms):
        exact = similarity.topk_similar(embeddings, Q[i], k=5).collect()
        got = sorted(by_query[t])
        assert [g[1] for g in got] == [r.vec_id for r in exact]
        for (_, _, gs), r in zip(got, exact):
            assert abs(gs - r.score) < 1e-9


def test_multiset_lsh_finds_injected_embedding_dups(spark, embeddings):
    base = embeddings.limit(6)
    clone = base.withColumn("vec_id", F.col("vec_id") + 80_000)
    both = embeddings.unionByName(clone)
    pairs = ann.hyperplane_lsh_near_dup_multiset(
        both, threshold=0.999, n_planes=6, n_sets=3, dim=64
    ).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    # identical vectors share every bucket in every plane set -> all found
    for r in base.select("vec_id").collect():
        assert (r.vec_id, r.vec_id + 80_000) in found
    for p in pairs:
        assert p.cosine >= 0.999


def test_embedding_near_dup_documents_composite(spark, documents):
    from rclip_server_spark import pipelines

    base = documents.limit(4)
    clone = base.withColumn("doc_id", F.col("doc_id") + 90_000)
    pairs = pipelines.embedding_near_dup_documents(
        spark, base.unionByName(clone), threshold=0.999
    ).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    for r in base.select("doc_id").collect():
        assert (r.doc_id, r.doc_id + 90_000) in found


def test_bpe_pretokens_partition_the_text(documents):
    """The pre-tokenizer's alternation covers every character class, so the
    tokens must concatenate back to the original text exactly — the
    losslessness that lets token counts be trusted as byte budgets."""
    from rclip_server_spark.functions import text as TXT

    rows = (
        documents.select(
            "text", F.concat_ws("", TXT.bpe_pretokens(F.col("text"))).alias("rejoined")
        )
        .where(F.col("text") != F.col("rejoined"))
        .count()
    )
    assert rows == 0


def test_bpe_counts_at_least_whitespace_tokens(documents):
    from rclip_server_spark.functions import text as TXT

    bad = (
        documents.select(
            TXT.bpe_token_count(F.col("text")).alias("b"),
            TXT.token_count(F.col("text")).alias("w"),
        )
        .where(F.col("b") < F.col("w"))
        .count()
    )
    assert bad == 0  # BPE pre-tokens only ever split words further


def test_clean_corpus_survivors_meet_all_bounds(documents):
    from rclip_server_spark.operators import text_analysis

    out = text_analysis.clean_corpus(
        documents, min_tokens=5, max_punct_ratio=0.2, min_quality=0.3, langs=("en",)
    )
    bad = out.where(
        (F.col("n_tokens") < 5)
        | (F.col("punct_ratio") > 0.2)
        | (F.col("quality") < 0.3)
        | (F.col("lang_pred") != "en")
    ).count()
    assert bad == 0
    assert 0 < out.count() < documents.count()  # filter actually bites


def test_length_outlier_filter_bounds_and_pushdown(documents):
    from rclip_server_spark.operators import text_analysis

    out = text_analysis.length_outlier_filter(documents, "n_chars", 0.1, 0.9)
    n_all, n_kept = documents.count(), out.count()
    assert 0 < n_kept < n_all
    lo = out.agg(F.min("n_chars"), F.max("n_chars")).first()
    full = documents.agg(F.min("n_chars"), F.max("n_chars")).first()
    assert lo[0] > full[0] and lo[1] < full[1]  # both tails actually trimmed
    # literal range predicate: no quantile recomputation inside the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan.lower()
    # empty input degrades cleanly
    assert text_analysis.length_outlier_filter(documents.where("n_chars < 0")).count() == 0


def test_redact_pii_removes_and_counts(spark):
    from rclip_server_spark.operators import text_analysis

    df = spark.createDataFrame(
        [
            (1, "write to a.b@x.io or b.c@y.org, call +1 415 555 0199"),
            (2, "host 10.0.0.1 only"),
            (3, "clean text"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text_analysis.redact_pii(df).collect()}
    assert out[1].n_email == 2 and out[1].n_phone == 1
    assert "<EMAIL>" in out[1].redacted and "<PHONE>" in out[1].redacted
    assert "@" not in out[1].redacted
    assert out[2].n_ipv4 == 1 and "<IP>" in out[2].redacted
    assert out[3].redacted == "clean text"
    assert (out[3].n_email, out[3].n_phone, out[3].n_ipv4) == (0, 0, 0)


def test_repetition_filter_drops_template_spam(spark):
    from rclip_server_spark.operators import text_analysis

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),
            (2, "a perfectly ordinary sentence with distinct words"),
        ],
        "doc_id long, text string",
    )
    kept = [r.doc_id for r in text_analysis.repetition_filter(df, 0.5).collect()]
    assert kept == [2]


def test_chunk_documents_cover_and_overlap(spark):
    from rclip_server_spark.operators import text_analysis

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, ""), (3, "one")],
        "doc_id long, text string",
    )
    out = text_analysis.chunk_documents(df, chunk_tokens=4, stride=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r
    assert 2 not in by_doc  # empty doc yields no chunks
    assert by_doc[3][0].chunk_text == "one"
    d1 = by_doc[1]
    # starts advance by stride, non-final chunks are full width
    assert sorted(d1) == list(range(len(d1)))
    for i, r in sorted(d1.items()):
        want = [f"t{j}" for j in range(i * 2, min(i * 2 + 4, 10))]
        assert r.chunk_text.split() == want
        assert r.n_chunk_tokens == len(want)
    # with stride == chunk, chunks partition the tokens exactly
    flat = []
    for r in sorted(
        text_analysis.chunk_documents(
            df.where("doc_id = 1"), chunk_tokens=4, stride=4
        ).collect(),
        key=lambda r: r.chunk_idx,
    ):
        flat.extend(r.chunk_text.split())
    assert flat == [f"t{i}" for i in range(10)]
    with pytest.raises(ValueError):
        text_analysis.chunk_documents(df, chunk_tokens=0)
    # map-only plan
    plan = (
        text_analysis.chunk_documents(df, chunk_tokens=4, stride=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_pack_sequences_conserves_tokens_and_fills(documents):
    from rclip_server_spark.operators import text_analysis

    chunks = text_analysis.chunk_documents(documents, chunk_tokens=16, stride=8)
    packed = text_analysis.pack_sequences(chunks, budget_tokens=128, buckets=4)
    rows = packed.collect()
    # conservation: every chunk token lands in exactly one sequence
    total = chunks.agg(F.sum("n_chunk_tokens")).first()[0]
    assert sum(r.n_tokens for r in rows) == total
    max_chunk = chunks.agg(F.max("n_chunk_tokens")).first()[0]
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    for b, rs in by_bucket.items():
        ids = sorted(r.seq_id for r in rs)
        assert ids == list(range(len(ids)))  # dense sequence ids per bucket
        for r in rs:
            # a sequence never exceeds budget by more than one chunk straddle
            assert r.n_tokens < 128 + max_chunk
        # every sequence but the bucket's last is filled to the budget
        for r in rs:
            if r.seq_id != ids[-1]:
                assert r.n_tokens >= 128 - max_chunk + 1
    # deterministic
    again = {(r.bucket, r.seq_id): r.n_tokens for r in packed.collect()}
    assert {(r.bucket, r.seq_id): r.n_tokens for r in rows} == again


def test_canonical_url_dedups_campaign_variants(spark):
    from rclip_server_spark.functions import text as TXT

    df = spark.createDataFrame(
        [
            (1, "HTTPS://Example.COM/page?utm_source=tw&id=3#top"),
            (2, "https://example.com/page?utm_medium=em&utm_source=fb&id=3"),
            (3, "https://example.com/other"),
            (4, "plain text"),
        ],
        "doc_id long, url string",
    )
    out = {r.doc_id: (r.h, r.c) for r in df.select(
        "doc_id",
        TXT.url_host(F.col("url")).alias("h"),
        TXT.canonical_url(F.col("url")).alias("c"),
    ).collect()}
    # the two campaign variants collapse to ONE canonical URL
    assert out[1][1] == out[2][1] == "https://example.com/page?id=3"
    assert out[1][0] == "example.com"
    assert out[3][1] == "https://example.com/other"
    assert out[4] == ("", "plain text")  # non-URLs pass through untouched


def test_containment_catches_excerpt_jaccard_misses(spark, documents):
    """A 200-char excerpt of a long doc: containment ~1.0 (found), while
    its Jaccard vs the full doc is far below any useful threshold."""
    base = documents.where(F.length("text") > 800).limit(3)
    excerpts = base.select(
        (F.col("doc_id") + 70_000).alias("doc_id"),
        F.substring("text", 100, 200).alias("text"),
    )
    corpus = documents.limit(50).select("doc_id", "text").unionByName(excerpts)
    got = dedup.containment_pairs(corpus, threshold=0.8)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    for r in base.select("doc_id").collect():
        assert (r.doc_id, r.doc_id + 70_000) in pairs
    # sanity: the same pairs are BELOW a 0.5 jaccard (asymmetric case)
    jac = {
        (p.id_a, p.id_b)
        for p in dedup.minhash_near_dup(corpus, threshold=0.5).collect()
    }
    for r in base.select("doc_id").collect():
        assert (r.doc_id, r.doc_id + 70_000) not in jac
