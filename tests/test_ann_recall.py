"""Recall@k floors for the ANN tiers at sf0.01 (5000 vectors, dim 64),
with exact brute-force top-10 as ground truth.

The floors pin the DETERMINISTIC measured recall of each tier at its
documented settings (fixed fixtures, deterministic embedder/k-means), so a
parameter regression — fewer probes, a smaller shortlist, a broken bucket
expression — fails loudly. Absolute levels differ by design:

* the re-rank tiers (PCA coarse-to-fine, binary-Hamming shortlist) buy
  recall with shortlist size and re-score exactly — ~1.0 here;
* the bucket tiers (hyperplane LSH, IVF probe) are at their worst on this
  fixture: the synthetic embeddings are near-uniform on the sphere (no
  cluster structure for buckets to exploit), so their measured recall
  (0.80 / 0.64 avg) is the honest adversarial-case number, asserted as-is.
  On clustered real-embedding corpora the same settings recall far higher.
"""

import numpy as np
import pytest

from rclip_server_spark.operators import ann, similarity, stats
from rclip_server_spark.plans.embedder import DeterministicEmbedder
from rclip_server_spark.sources import load_table
from conftest import spark_jobs

SF01 = "/root/testdata/sf0.01"
TERMS = ["zebra", "spots", "stripes", "giraffe", "ocean"]
K = 10
E = DeterministicEmbedder(64)


@pytest.fixture(scope="module")
def emb01(spark):
    df = load_table(spark, SF01, "embeddings").cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def exact_top10(emb01):
    return {
        t: {r.vec_id for r in similarity.topk_similar(emb01, E.embed_text(t), k=K).collect()}
        for t in TERMS
    }


def _recalls(fn, exact):
    return [
        len({r.vec_id for r in fn(E.embed_text(t)).collect()} & exact[t]) / K
        for t in TERMS
    ]


def test_recall_lsh_multiprobe(emb01, exact_top10):
    r = _recalls(
        lambda q: ann.lsh_topk_multiprobe(emb01, q, k=K, n_planes=4, n_probe_bits=2),
        exact_top10,
    )
    assert np.mean(r) >= 0.75 and min(r) >= 0.55, r  # measured: avg 0.80, min 0.60


def test_recall_ivf_trained(emb01, exact_top10):
    cent = ann.ivf_train_kmeans(emb01, k=8, iters=3)
    r = _recalls(lambda q: ann.ivf_topk(emb01, q, cent, k=K, n_probe=4), exact_top10)
    assert np.mean(r) >= 0.60 and min(r) >= 0.45, r  # measured: avg 0.64, min 0.50


def test_recall_pca_coarse(emb01, exact_top10):
    comps, mean, _ = stats.pca_fit(emb01, n_components=16)
    idx = stats.pca_project(emb01, comps, mean).cache()
    idx.count()
    try:
        r = _recalls(
            lambda q: ann.pca_coarse_topk(idx, q, comps, mean, k=K, shortlist=500),
            exact_top10,
        )
    finally:
        idx.unpersist()
    assert min(r) >= 0.9, r  # measured: 1.0 on every query


def test_recall_binary_hamming(emb01, exact_top10):
    r = _recalls(
        lambda q: ann.binary_hamming_topk(emb01, q, k=K, shortlist=500), exact_top10
    )
    assert min(r) >= 0.9, r  # measured: 1.0 on every query


@pytest.fixture(scope="module")
def pq_artifacts(emb01):
    """Codebooks trained on the corpus sample + the encoded code table."""
    sample = np.array(
        [r.embedding for r in emb01.orderBy("vec_id").limit(2000).select("embedding").collect()]
    )
    books = ann.pq_train(sample, m_sub=8, k_cent=64, iters=5, seed=42)
    codes = emb01.select("vec_id").join(
        ann.pq_encode(emb01, books), "vec_id"
    ).join(emb01.select("vec_id", "embedding"), "vec_id").cache()
    codes.count()
    yield books, codes
    codes.unpersist()


def test_pq_topk_requires_vectors_for_rerank(emb01, pq_artifacts):
    """Round-4 advice: pq_encode output alone holds only (id, codes) — the
    default full_df=None path must fail LOUDLY at plan time, not with an
    unresolved-column error mid-query."""
    books, _ = pq_artifacts
    codes_only = ann.pq_encode(emb01, books)  # no embedding column
    q = np.asarray(emb01.select("embedding").first()[0], dtype=np.float64)
    with pytest.raises(ValueError, match="full_df"):
        ann.pq_adc_topk(codes_only, q, books, k=5)
    # with full_df supplied the same input works
    got = ann.pq_adc_topk(codes_only, q, books, k=5,
                          full_df=emb01.select("vec_id", "embedding"))
    assert got.count() == 5


def test_pq_encode_matches_numpy_reference(emb01, pq_artifacts):
    books, codes = pq_artifacts
    m_sub, kc, dsub = books.shape
    rows = codes.select("vec_id", "embedding", "pq_codes").limit(50).collect()
    for r in rows:
        x = np.asarray(r.embedding, dtype=np.float64)
        for m in range(m_sub):
            s = x[m * dsub:(m + 1) * dsub]
            want = int(((s[None, :] - books[m]) ** 2).sum(axis=1).argmin())
            assert r.pq_codes[m] == want


def test_recall_pq_adc_rerank(emb01, exact_top10, pq_artifacts):
    """PQ shortlists + exact re-rank: recall ~1.0 at shortlist 200 over 5k
    vectors (re-rank tier — same discipline as PCA/binary)."""
    books, codes = pq_artifacts
    r = _recalls(
        lambda q: ann.pq_adc_topk(codes, q, books, k=K, shortlist=200),
        exact_top10,
    )
    assert np.mean(r) >= 0.9 and min(r) >= 0.8, r


def test_pq_adc_deterministic_under_repartition(emb01, exact_top10, pq_artifacts):
    books, codes = pq_artifacts
    q = E.embed_text("zebra")
    a = [(r.vec_id, r.score) for r in ann.pq_adc_topk(codes, q, books, k=K).collect()]
    b = [(r.vec_id, r.score)
         for r in ann.pq_adc_topk(codes.repartition(7), q, books, k=K).collect()]
    assert a == b


@pytest.fixture(scope="module")
def ivf_pq_artifacts(emb01):
    cents = ann.ivf_train_kmeans(emb01, k=8)
    sample = np.array(
        [r.embedding for r in emb01.orderBy("vec_id").limit(2000).select("embedding").collect()]
    )
    books = ann.ivf_pq_train(sample, cents, m_sub=8, k_cent=64, iters=5, seed=42)
    idx = ann.ivf_pq_encode(emb01, cents, books).join(
        emb01.select("vec_id", "embedding"), "vec_id"
    ).cache()
    idx.count()
    yield cents, books, idx
    idx.unpersist()


def test_ivf_pq_encode_consistent_with_ivf_assign(emb01, ivf_pq_artifacts):
    """The Arrow-batch GEMM argmax must pick the same cells as the JVM
    greatest-of-structs assignment rule."""
    cents, books, idx = ivf_pq_artifacts
    a = {r.vec_id: r.ivf_cell for r in ann.ivf_assign(emb01, cents).collect()}
    b = {r.vec_id: r.ivf_cell for r in idx.select("vec_id", "ivf_cell").collect()}
    assert a == b


def test_ivf_pq_residual_codes_match_numpy(emb01, ivf_pq_artifacts):
    cents, books, idx = ivf_pq_artifacts
    m_sub, kc, dsub = books.shape
    C = np.asarray(cents, dtype=np.float64)
    for r in idx.select("vec_id", "ivf_cell", "pq_codes", "embedding").limit(30).collect():
        x = np.asarray(r.embedding, dtype=np.float64)
        res = x - C[r.ivf_cell]
        for m in range(m_sub):
            s = res[m * dsub:(m + 1) * dsub]
            want = int(((s[None, :] - books[m]) ** 2).sum(axis=1).argmin())
            assert r.pq_codes[m] == want


def test_recall_ivf_pq_half_probes(emb01, exact_top10, ivf_pq_artifacts):
    """IVFADC at n_probe=4 of 8 cells: recall is capped by probe recall on
    this clusterless fixture (same regime as the plain-IVF floor)."""
    cents, books, idx = ivf_pq_artifacts
    r = _recalls(
        lambda q: ann.ivf_pq_topk(idx, q, cents, books, k=K, n_probe=4,
                                  shortlist=200),
        exact_top10,
    )
    assert np.mean(r) >= 0.6 and min(r) >= 0.4, r  # measured: avg 0.66, min 0.5


def test_recall_ivf_pq_full_probes_is_rerank_tier(emb01, exact_top10, ivf_pq_artifacts):
    """All cells probed -> pure residual-PQ shortlist + exact re-rank: the
    re-rank-tier regime (~1.0 like PCA/binary/PQ)."""
    cents, books, idx = ivf_pq_artifacts
    r = _recalls(
        lambda q: ann.ivf_pq_topk(idx, q, cents, books, k=K, n_probe=8,
                                  shortlist=200),
        exact_top10,
    )
    assert np.mean(r) >= 0.9 and min(r) >= 0.8, r


def test_ivf_pq_partition_pruned_at_rest(spark, emb01, ivf_pq_artifacts, tmp_path):
    """IVF-PQ index written partitioned by ivf_cell: a probe query's scan
    must carry PartitionFilters on the cell column (planning-time directory
    pruning — non-probed cells are never listed), and results must equal
    the in-memory path."""
    cents, books, idx = ivf_pq_artifacts
    path = str(tmp_path / "ivfpq_index")
    idx.write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    at_rest = spark.read.parquet(path)

    q = E.embed_text("zebra")
    got = [(r.vec_id, r.score)
           for r in ann.ivf_pq_topk(at_rest, q, cents, books, k=K,
                                    n_probe=4, shortlist=200).collect()]
    want = [(r.vec_id, r.score)
            for r in ann.ivf_pq_topk(idx, q, cents, books, k=K,
                                     n_probe=4, shortlist=200).collect()]
    assert got == want

    C = np.asarray(cents, dtype=np.float64)
    probes = set(np.argsort(-(C @ np.asarray(q)))[:4].tolist())
    pruned = at_rest.where(
        ann.F.col("ivf_cell").isin([int(i) for i in probes])
    )
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "ivf_cell" in plan


def test_lsh_knn_join_recall_and_invariants(spark, emb01):
    """Cross-table k-NN join: per-left-row top-5 against exact truth from
    the broadcast path (brute_force_topk_multi), plus structural
    invariants — at most k unique neighbors per left row, ranks 1..k."""
    from pyspark.sql import functions as F

    left = emb01.where(F.col("vec_id") < 100)
    right = emb01.where(F.col("vec_id") >= 100)
    got = ann.lsh_knn_join(left, right, k=5, n_planes=4, n_probe_bits=2,
                           dim=64).collect()

    by_left = {}
    for r in got:
        by_left.setdefault(r.id_a, []).append(r)
    assert all(len(v) <= 5 for v in by_left.values())
    for v in by_left.values():
        assert sorted(x.rnk for x in v) == list(range(1, len(v) + 1))
        assert len({x.id_b for x in v}) == len(v)  # one match per pair

    queries = left.select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").alias("query_vec"))
    exact = ann.brute_force_topk_multi(right, queries, k=5).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len({x.id_b for x in by_left.get(q, [])} & t) / len(t)
        for q, t in truth.items()
    ]
    # near-uniform sphere fixture = the adversarial case for bucket tiers;
    # 2-bit multiprobe at 4 planes scans ~11/16 of buckets
    assert np.mean(recalls) >= 0.55, np.mean(recalls)


def test_lsh_knn_join_scale_guard(spark, emb01):
    from pyspark.sql import functions as F

    from rclip_server_spark.operators.dedup import ScaleGuardError

    left = emb01.where(F.col("vec_id") < 1000)
    with pytest.raises(ScaleGuardError):
        ann.lsh_knn_join(left, emb01, k=5, n_planes=2, n_probe_bits=2,
                         dim=64, max_expected_candidates=1000)
    # supplied sizes drive the guard without any count() job — and the
    # guard decision matches the counted one
    with pytest.raises(ScaleGuardError):
        ann.lsh_knn_join(left, emb01, k=5, n_planes=2, n_probe_bits=2,
                         dim=64, max_expected_candidates=1000,
                         n_left=1000, n_right=32000)


def test_lsh_knn_join_skew_prepass_is_exact(spark, emb01):
    """The right-skew guard (per-partition partial top-k before the id_a
    window) must be bit-identical to the plain path — partial top-k under
    the total order (cosine DESC, id_b ASC) is exact."""
    from pyspark.sql import functions as F

    left = emb01.where(F.col("vec_id") % 97 == 0)
    right = emb01.where(F.col("vec_id") % 2 == 0)
    kw = dict(k=5, n_planes=5, n_probe_bits=1, dim=64,
              max_expected_candidates=None)
    plain = ann.lsh_knn_join(left, right, **kw).collect()
    guarded = ann.lsh_knn_join(left, right, skew_prepass=True, **kw).collect()
    assert sorted(map(tuple, plain), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, guarded), key=lambda t: (t[0], t[3]))
    assert len(plain) > 0


def test_lsh_knn_join_lazy_guard_runs_no_jobs(spark, emb01):
    """Round-4 advice: with n_left/n_right/dim supplied, plan construction
    must trigger ZERO Spark jobs (no count()/first() re-executing the
    upstream plans). Jobs submitted inside a job group are observable via
    the status tracker — the group stays empty."""
    from pyspark.sql import functions as F

    left = emb01.where(F.col("vec_id") < 200)
    with spark_jobs(spark) as jobs:
        df = ann.lsh_knn_join(left, emb01, k=3, n_planes=10, n_probe_bits=1,
                              dim=64, n_left=200, n_right=32000)
    assert jobs == [], f"guard ran Spark jobs at plan time: {jobs}"
    # the lazily-built plan still executes correctly afterwards
    assert df.limit(5).count() >= 0
