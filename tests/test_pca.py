"""One-pass distributed PCA (operators/stats.py gramian/pca family).

Proof strategy: the distributed Gramian and the fitted PCA are checked
against exact driver-side numpy on the same fixture rows — a stronger check
than any SQL oracle could give (bit-level linear algebra parity), which is
why the contract registers the mapInPandas path rows-only.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rclip_server_spark.operators import stats


def _matrix(embeddings):
    rows = embeddings.select("vec_id", "embedding").collect()
    order = np.argsort([r[0] for r in rows])
    return np.stack([np.asarray(rows[i][1], dtype=np.float64) for i in order])


def test_gramian_matches_numpy(embeddings):
    x = _matrix(embeddings)
    want = x.T @ x
    got = np.zeros_like(want)
    for r in stats.gramian_long(embeddings).collect():
        got[r["i"], r["j"]] = got[r["j"], r["i"]] = r["g"]
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-9)


def test_gramian_empty_raises(embeddings):
    with pytest.raises(ValueError):
        stats.gramian_long(embeddings.limit(0))


def test_pca_fit_matches_numpy_eig(embeddings):
    x = _matrix(embeddings)
    comps, mean, ev = stats.pca_fit(embeddings, n_components=4)
    np.testing.assert_allclose(mean, x.mean(axis=0), atol=1e-9)
    cov = np.cov(x, rowvar=False)
    w, v = np.linalg.eigh(cov)
    idx = np.argsort(w)[::-1][:4]
    np.testing.assert_allclose(ev, w[idx], atol=1e-7)
    # eigenvectors match up to sign; the operator pins sign so compare |dot|
    for k in range(4):
        assert abs(float(comps[k] @ v[:, idx[k]])) == pytest.approx(1.0, abs=1e-7)
    # explained variance is sorted descending
    assert all(ev[i] >= ev[i + 1] for i in range(len(ev) - 1))


def test_pca_project_matches_numpy(embeddings):
    x = _matrix(embeddings)
    comps, mean, _ = stats.pca_fit(embeddings, n_components=3)
    out = stats.pca_project(embeddings, comps, mean)
    got = {r["vec_id"]: np.asarray(r["pca"]) for r in out.collect()}
    ids = sorted(got)
    want = (x - mean) @ comps.T
    np.testing.assert_allclose(
        np.stack([got[i] for i in ids]), want, rtol=0, atol=1e-9
    )
    # projection is map-only: no Exchange in the physical plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pca_uncentered_mode(embeddings):
    comps, mean, _ = stats.pca_fit(embeddings, n_components=2, center=False)
    assert not np.any(mean)
    out = stats.pca_project(embeddings, comps, mean)
    assert out.select(F.size("pca")).first()[0] == 2


def test_pca_reconstruction_improves_with_components(embeddings):
    """More components must explain no-less variance of the data."""
    x = _matrix(embeddings)
    xc = x - x.mean(axis=0)
    total = float((xc**2).sum())
    errs = []
    for k in (2, 8, 32):
        comps, mean, _ = stats.pca_fit(embeddings, n_components=k)
        proj = xc @ comps.T
        errs.append(float(((xc - proj @ comps) ** 2).sum()) / total)
    assert errs[0] >= errs[1] >= errs[2]
    assert errs[2] < 0.8  # 32 of 64 dims must capture a real chunk


def test_pca_coarse_topk_exact_scores_and_high_recall(embeddings):
    from rclip_server_spark.operators import ann, similarity
    from rclip_server_spark.plans.embedder import DeterministicEmbedder

    qv = DeterministicEmbedder(64).embed_text("zebra")
    comps, mean, _ = stats.pca_fit(embeddings, n_components=16)
    indexed = stats.pca_project(embeddings, comps, mean)

    got = ann.pca_coarse_topk(indexed, qv, comps, mean, k=10, shortlist=100)
    exact = similarity.topk_similar(embeddings, qv, k=10)
    got_ids = [r["vec_id"] for r in got.collect()]
    exact_rows = {r["vec_id"]: r["score"] for r in exact.collect()}
    # surviving scores are EXACT (full-space re-rank), recall is high
    for r in got.collect():
        if r["vec_id"] in exact_rows:
            assert abs(r["score"] - exact_rows[r["vec_id"]]) < 1e-9
    assert len(set(got_ids) & set(exact_rows)) >= 7

    # two-table mode: narrow index + wide table point-join
    narrow = indexed.select("vec_id", "pca")
    got2 = ann.pca_coarse_topk(
        narrow, qv, comps, mean, k=10, shortlist=100, full_df=embeddings
    )
    assert [r["vec_id"] for r in got2.collect()] == got_ids
    plan = got2._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and "BroadcastHashJoin" in plan


def test_gradient_partials_one_row_per_partition(spark):
    """The gradient pass must ship ONE model-sized row per PARTITION to the
    driver — never one per Arrow batch (the r14 form collected
    O(rows/batch_size) rows per GD iteration, a driver-scale regression at
    100 TB). Forced multi-batch partitions via a tiny Arrow batch size; the
    folded gradient must equal the single-batch gradient to float-fold
    tolerance and the partial frame must stay partition-bounded."""
    import numpy as np

    n_parts = 4
    df = (
        spark.range(0, 2000, 1, n_parts)
        .select(
            (F.col("id") % 13).cast("double").alias("f0"),
            (F.col("id") % 7).cast("double").alias("f1"),
            (F.col("id") % 2).cast("double").alias("label"),
        )
    )
    w0 = np.array([0.01, -0.02])
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        # 2000 rows / 4 partitions / 64-row batches = ~8 batches/partition
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        partials = stats._gradient_partials(df, ["f0", "f1"], "label", w0, 0.1)
        assert partials.count() <= n_parts
        gw, gb, loss, n = stats.logistic_gradient(df, ["f0", "f1"], "label", w0, 0.1)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)
    assert n == 2000
    # numpy reference on the same rows
    pdf = df.toPandas()
    X = pdf[["f0", "f1"]].to_numpy(dtype=np.float64)
    y = pdf["label"].to_numpy(dtype=np.float64)
    p = 1.0 / (1.0 + np.exp(-(X @ w0 + 0.1)))
    err = p - y
    np.testing.assert_allclose(gw, X.T @ err / len(y), rtol=0, atol=1e-9)
    assert abs(gb - err.mean()) < 1e-9
    pc = np.clip(p, 1e-12, 1 - 1e-12)
    ref_loss = float(-(y * np.log(pc) + (1 - y) * np.log(1 - pc)).mean())
    assert abs(loss - ref_loss) < 1e-9


def test_distributed_logistic_matches_numpy(spark, documents):
    """Distributed full-batch GD must track a driver-side numpy
    implementation run on the same features: near-identical loss curve and
    weights (partial-sum order costs at most ~1e-9), and the learned model
    must actually separate the synthetic labels."""
    import numpy as np

    from rclip_server_spark.functions import text as TXT
    from pyspark.sql import functions as F

    feats = documents.select(
        F.log(F.size(TXT.tokens(F.col("text"))) + 1).alias("f_logtok"),
        (F.length("text") / (F.size(TXT.tokens(F.col("text"))) + 1)).alias("f_len"),
        (F.col("doc_id") % 7 == 0).cast("double").alias("label"),
    ).cache()
    cols = ["f_logtok", "f_len"]
    w, b, losses = stats.train_logistic(feats, cols, "label", iters=12, lr=0.3)
    assert losses[-1] < losses[0]  # it optimizes

    pdf = feats.toPandas()
    X = pdf[cols].to_numpy(dtype=np.float64)
    y = pdf["label"].to_numpy(dtype=np.float64)
    wn = np.zeros(2)
    bn = 0.0
    for _ in range(12):
        p = 1.0 / (1.0 + np.exp(-(X @ wn + bn)))
        err = p - y
        wn -= 0.3 * (X.T @ err / len(y) + 1e-4 * wn)
        bn -= 0.3 * float(err.mean())
    np.testing.assert_allclose(w, wn, rtol=0, atol=1e-9)
    assert abs(b - bn) < 1e-9
    feats.unpersist()
