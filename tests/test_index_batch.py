"""r14 batched multi-query serving from the maintained indexes:
query_{ann,ivf,text}_index_batch run M lookups in ONE plan (union of
probe sets -> one file-pruned scan -> broadcast query frame -> per-qid
window top-k). The contract is ROW-IDENTITY per query with the
per-query loop — same probe rule, same fold-order scoring, same
(score DESC, key ASC) total order — plus zero plan-time Spark jobs on
the bucketed at-rest layout."""

import pytest
from pyspark.sql import functions as F

from rclip_server_spark import sql as S
from rclip_server_spark.sources import annindex as AI
from rclip_server_spark.sources import ivfindex as II
from rclip_server_spark.sources import textindex as TI
from conftest import spark_jobs

QVS = [
    [0.125] * 32 + [-0.125] * 32,
    [-0.125] * 16 + [0.125] * 48,
    [0.25] * 8 + [-0.0625] * 56,
    [0.0] * 63 + [1.0],
]


@pytest.fixture()
def cat(tmp_path):
    return S.Catalog(str(tmp_path / "cat"))


@pytest.fixture()
def built(spark, documents, embeddings, cat):
    """All three index kinds over churned, bucketed state — the
    realistic serving shape."""
    documents.select("doc_id", "text").limit(500)\
        .createOrReplaceTempView("bd_seed")
    embeddings.select("vec_id", "embedding",
                      (F.col("vec_id") % 3).alias("grp")).limit(500)\
        .createOrReplaceTempView("be_seed")
    S.execute(spark, "CREATE TABLE bd OPTIONS (key='doc_id') AS "
                     "SELECT * FROM bd_seed", cat)
    S.execute(spark, "CREATE TABLE be OPTIONS (key='vec_id') AS "
                     "SELECT * FROM be_seed", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW bti USING text_index "
                     "OPTIONS (source='bd', key='doc_id', "
                     "buckets=16)", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW bai USING ann_index "
                     "OPTIONS (source='be', key='vec_id', n_planes=4, "
                     "include_cols='grp', buckets=16)", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW bii USING ivf_index "
                     "OPTIONS (source='be', key='vec_id', n_cells=8, "
                     "iters=2, buckets=8)", cat)
    # churn + refresh so delete vectors and refresh segments sit on
    # the serving path
    S.execute(spark, "DELETE FROM bd WHERE doc_id % 9 = 0", cat)
    S.execute(spark, "DELETE FROM be WHERE vec_id % 9 = 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW bti", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW bai", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW bii", cat)
    return cat


def _per_qid(rows):
    out = {}
    for r in rows:
        out.setdefault(r[0], []).append((r[1], round(r[2], 9)))
    return out


def test_ann_batch_matches_per_query_loop(spark, built):
    vp = built.get("bai")["path"]
    queries = [(i, qv) for i, qv in enumerate(QVS)]
    got = _per_qid(AI.query_ann_index_batch(
        spark, vp, queries, k=7, n_probe_bits=2).collect())
    for qid, qv in queries:
        want = [(r[0], round(r[1], 9)) for r in
                AI.query_ann_index(spark, vp, qv, k=7,
                                   n_probe_bits=2).collect()]
        assert got.get(qid, []) == want, f"qid {qid} diverged"


def test_ivf_batch_matches_per_query_loop(spark, built):
    vp = built.get("bii")["path"]
    queries = [(i, qv) for i, qv in enumerate(QVS)]
    got = _per_qid(II.query_ivf_index_batch(
        spark, vp, queries, k=7, n_probe=3).collect())
    for qid, qv in queries:
        want = [(r[0], round(r[1], 9)) for r in
                II.query_ivf_index(spark, vp, qv, k=7,
                                   n_probe=3).collect()]
        assert got.get(qid, []) == want, f"qid {qid} diverged"


def test_text_batch_matches_per_query_loop(spark, built):
    vp = built.get("bti")["path"]
    queries = [(1, "data model"), (2, "the quick system"),
               (3, ["data", "data", "query"]), (4, "nonexistentzzz")]
    got = _per_qid(TI.query_text_index_batch(
        spark, vp, queries, k=9).collect())
    for qid, terms in queries:
        want = [(r[0], round(r[1], 9)) for r in
                TI.query_text_index(spark, vp, terms, k=9).collect()]
        assert got.get(qid, []) == want, f"qid {qid!r} diverged"


def test_ann_batch_plan_has_no_broadcast_join(spark, built):
    """r15: the (qid, bucket, qvec) broadcast frame is gone — queries
    attach to candidates through constant-folded literal-map lookups
    (a Generate over element_at), so the batch plan pays no
    broadcast-build job and no join at all: one probed scan, the qid
    window's exchange, the output sort's exchange."""
    # fresh churn-free index: the `built` fixture carries delete
    # vectors whose anti-join is legitimate serving machinery — this
    # assertion targets the QUERY-frame join specifically
    import tempfile

    from rclip_server_spark.sources import versioned as VT

    tmp = tempfile.mkdtemp(prefix="annbatch_plan_")
    rows = [(i, QVS[i % len(QVS)]) for i in range(64)]
    src = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    VT.create(spark, tmp + "/src", src)
    AI.create_ann_index(spark, tmp + "/src", tmp + "/idx", key="vec_id",
                        n_planes=4)
    df = AI.query_ann_index_batch(
        spark, tmp + "/idx", [(i, qv) for i, qv in enumerate(QVS)], k=5)
    df.count()  # settle AQE so the final plan is inspectable
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Generate" in plan
    # count the DAGScheduler jobs one execution costs (r14: 5)
    with spark_jobs(spark) as jobs:
        AI.query_ann_index_batch(
            spark, tmp + "/idx", [(i, qv) for i, qv in enumerate(QVS)],
            k=5).count()
    assert len(jobs) <= 4


def test_batch_plan_builds_with_zero_spark_jobs(spark, built):
    """The amortization claim's floor: building the M-query plan runs
    ZERO Spark jobs (driver-side probe resolution + manifest-pinned
    scan schema + constant-folded literal query maps)."""
    vp = built.get("bai")["path"]
    with spark_jobs(spark) as jobs:
        AI.query_ann_index_batch(
            spark, vp, [(i, qv) for i, qv in enumerate(QVS)], k=5)
    assert jobs == [], f"batch plan ran Spark jobs: {jobs}"


def test_batch_guards(spark, built):
    vp_a = built.get("bai")["path"]
    vp_t = built.get("bti")["path"]
    with pytest.raises(ValueError, match="at least one"):
        AI.query_ann_index_batch(spark, vp_a, [])
    with pytest.raises(ValueError, match="duplicate"):
        AI.query_ann_index_batch(spark, vp_a, [(1, QVS[0]),
                                               (1, QVS[1])])
    with pytest.raises(ValueError, match="dim"):
        AI.query_ann_index_batch(spark, vp_a, [(1, [0.0] * 7)])
    with pytest.raises(ValueError, match="duplicate"):
        TI.query_text_index_batch(spark, vp_t, [(1, "a"), (1, "b")])
    with pytest.raises(ValueError, match="no terms"):
        TI.query_text_index_batch(spark, vp_t, [(1, "  ")])
    with pytest.raises(ValueError, match="dim"):
        II.query_ivf_index_batch(spark, built.get("bii")["path"],
                                 [(1, [0.0] * 7)])

    # a qid_col naming a scanned column would overwrite it with query
    # ids (the key, the vector/text column, the probe column, a payload
    # column — case-insensitively); a backtick would break out of the
    # quoted SQL identifier
    vp_i = built.get("bii")["path"]
    for qid_col in ("vec_id", "EMBEDDING", "bucket", "grp", "q`id"):
        with pytest.raises(ValueError, match="qid_col"):
            AI.query_ann_index_batch(spark, vp_a, [(1, QVS[0])],
                                     qid_col=qid_col)
    for qid_col in ("vec_id", "ivf_cell", "q`id"):
        with pytest.raises(ValueError, match="qid_col"):
            II.query_ivf_index_batch(spark, vp_i, [(1, QVS[0])],
                                     qid_col=qid_col)
    for qid_col in ("doc_id", "term", "text", "q`id"):
        with pytest.raises(ValueError, match="qid_col"):
            TI.query_text_index_batch(spark, vp_t, [(1, "data")],
                                      qid_col=qid_col)
