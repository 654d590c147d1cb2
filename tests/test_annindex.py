"""Maintained ANN (hyperplane-LSH) index view (sources/annindex.py +
CREATE MATERIALIZED VIEW ... USING ann_index): state parity with the
ad-hoc bucketing, indexed-query parity with ann.lsh_topk_multiprobe,
and O(changed rows) incremental maintenance equal to a full rebuild."""

import pytest
from pyspark.sql import functions as F

from rclip_server_spark import sql as S
from rclip_server_spark.functions.xxh import buckets_of
from rclip_server_spark.operators import ann
from rclip_server_spark.sources import annindex as AI
from conftest import spark_jobs

QV = [0.125] * 32 + [-0.125] * 32


def _ids_scores(df):
    return [(r[0], round(r[1], 9)) for r in df.collect()]


@pytest.fixture()
def cat(tmp_path):
    return S.Catalog(str(tmp_path / "cat"))


@pytest.fixture()
def vecs(embeddings):
    return embeddings.select("vec_id", "embedding").where(
        F.col("vec_id") % 2 == 0)


def _mk(spark, vecs, cat, name="emb"):
    vecs.createOrReplaceTempView(f"seed_{name}")
    S.execute(spark, f"CREATE TABLE {name} OPTIONS (key='vec_id') AS "
                     f"SELECT * FROM seed_{name}", cat)
    S.execute(spark, f"CREATE MATERIALIZED VIEW {name}_ann USING "
                     f"ann_index OPTIONS (source='{name}', "
                     f"key='vec_id', n_planes=4)", cat)
    return cat.get(f"{name}_ann")["path"]


@pytest.mark.parametrize("n_probe_bits", [0, 1, 2, 3])
def test_state_and_query_match_adhoc(spark, vecs, cat, n_probe_bits):
    vp = _mk(spark, vecs, cat)
    # state = the ad-hoc bucketing of the same rows
    planes = ann.hyperplanes(4, 64, 42)
    want_state = vecs.select(
        ann.hyperplane_bucket_col(F.col("embedding"), planes)
        .alias("bucket"), "vec_id")
    got_state = AI.read_ann_index(spark, vp).select("bucket", "vec_id")
    assert sorted(map(tuple, got_state.collect())) == \
        sorted(map(tuple, want_state.collect()))
    # indexed query == the ad-hoc multiprobe tier, row for row, at every
    # probe width
    got = AI.query_ann_index(spark, vp, QV, k=10, n_probe_bits=n_probe_bits)
    want = ann.lsh_topk_multiprobe(vecs, QV, k=10, n_planes=4,
                                   n_probe_bits=n_probe_bits, seed=42)
    assert _ids_scores(got) == _ids_scores(want)
    if n_probe_bits == 0:
        # the single-bucket tier is the same query
        assert _ids_scores(ann.lsh_topk(vecs, QV, k=10, n_planes=4,
                                        seed=42)) == _ids_scores(want)


def test_incremental_refresh_equals_rebuild(spark, vecs, cat,
                                            embeddings):
    vp = _mk(spark, vecs, cat, "inc")
    embeddings.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    ).where(F.col("vec_id") % 2 == 1).limit(100) \
        .createOrReplaceTempView("inc_extra")
    S.execute(spark, "INSERT INTO inc SELECT * FROM inc_extra", cat)
    S.execute(spark, "DELETE FROM inc WHERE vec_id % 6 = 0", cat)
    r = S.execute(spark, "REFRESH MATERIALIZED VIEW inc_ann", cat)
    assert r["status"] == "refreshed"
    current = S.execute(spark, "SELECT vec_id, embedding FROM inc",
                        cat)
    got = AI.query_ann_index(spark, vp, QV, k=10, n_probe_bits=2)
    want = ann.lsh_topk_multiprobe(current, QV, k=10, n_planes=4,
                                   n_probe_bits=2, seed=42)
    assert _ids_scores(got) == _ids_scores(want)
    # bucketed state equals a rebuild over the current source
    planes = ann.hyperplanes(4, 64, 42)
    want_state = current.select(
        ann.hyperplane_bucket_col(F.col("embedding"), planes)
        .alias("bucket"), "vec_id")
    assert sorted(map(tuple, AI.read_ann_index(spark, vp)
                      .select("bucket", "vec_id").collect())) == \
        sorted(map(tuple, want_state.collect()))
    d = S.execute(spark, "DESCRIBE MATERIALIZED VIEW inc_ann", cat)
    assert d["view_kind"] == "ann_index" and d["fresh"] is True


def test_guards(spark, vecs, cat):
    vp = _mk(spark, vecs, cat, "g")
    with pytest.raises(ValueError):
        AI.query_ann_index(spark, vp, [0.0] * 7)  # wrong dim
    with pytest.raises(S.SqlError):
        S.execute(spark, "DELETE FROM g_ann WHERE bucket = 0", cat)


def test_bucketed_at_rest_layout_prunes_files(spark, vecs, cat):
    """r12: OPTIMIZE aiidx BUCKET BY (bucket, N) lays the index out by
    its LSH bucket — a probe query then names ONLY the probed physical
    buckets' segment files in the plan (file skipping, not row
    filtering), while staying row-identical to the flat index and the
    ad-hoc multiprobe tier."""
    from rclip_server_spark.sources import versioned as V
    from rclip_server_spark.sources.versioned import _bucket_expr

    vp = _mk(spark, vecs, cat, "bk")
    flat = _ids_scores(AI.query_ann_index(spark, vp, QV, k=10,
                                          n_probe_bits=1))
    r = S.execute(spark, "OPTIMIZE bk_ann BUCKET BY (bucket, 16)", cat)
    assert r["status"] == "optimized" and r["n_buckets"] == 16
    got_df = AI.query_ann_index(spark, vp, QV, k=10, n_probe_bits=1)
    assert _ids_scores(got_df) == flat  # row-identical post-migration
    # ad-hoc tier parity too (the oracle the ai_ row pins)
    want = ann.lsh_topk_multiprobe(
        S.execute(spark, "SELECT vec_id, embedding FROM bk", cat),
        QV, k=10, n_planes=4, n_probe_bits=1, seed=42)
    assert _ids_scores(got_df) == _ids_scores(want)
    # PLAN ASSERTION: the scan's files live only in probed physical
    # buckets' segment dirs — non-probed buckets are absent
    m = V._manifest(vp, V.current_version(vp))
    assert m.get("bucket_key") == "bucket" and m["n_buckets"] == 16
    import numpy as np

    planes = ann.hyperplanes(4, 64, 42)
    qb = int(sum((1 << i) for i, p in enumerate(planes)
                 if float(p @ np.asarray(QV)) >= 0))
    probes = {qb} | {qb ^ (1 << i) for i in range(4)}
    phys = set(buckets_of(sorted(probes), 16))
    probed_segs = {s for b in phys
                   for s in m["buckets"].get(str(b), [])}
    other_segs = {s for b, ss in m["buckets"].items()
                  if int(b) not in phys for s in ss}
    touched = {f.split(vp + "/")[1].split("/")[0]
               for f in got_df.inputFiles()}
    assert touched <= probed_segs
    assert not (touched & other_segs)
    assert other_segs  # the assertion is vacuous if everything probed


def test_bucketed_index_refresh_stays_exact(spark, vecs, cat,
                                            embeddings):
    """Refreshes keep working on the bucketed layout (the
    delete_and_append commit dispatches to the bucketed twin) and the
    indexed answer still equals the ad-hoc tier over the post-DML
    source."""
    vp = _mk(spark, vecs, cat, "bkr")
    S.execute(spark, "OPTIMIZE bkr_ann BUCKET BY (bucket, 16)", cat)
    embeddings.select(
        (F.col("vec_id") + 2000000).alias("vec_id"), "embedding"
    ).where(F.col("vec_id") % 2 == 1).limit(80) \
        .createOrReplaceTempView("bkr_extra")
    S.execute(spark, "INSERT INTO bkr SELECT * FROM bkr_extra", cat)
    S.execute(spark, "DELETE FROM bkr WHERE vec_id % 10 = 0", cat)
    r = S.execute(spark, "REFRESH MATERIALIZED VIEW bkr_ann", cat)
    assert r["status"] == "refreshed"
    current = S.execute(spark, "SELECT vec_id, embedding FROM bkr",
                        cat)
    got = AI.query_ann_index(spark, vp, QV, k=10, n_probe_bits=2)
    want = ann.lsh_topk_multiprobe(current, QV, k=10, n_planes=4,
                                   n_probe_bits=2, seed=42)
    assert _ids_scores(got) == _ids_scores(want)
    # OPTIMIZE (plain compaction) folds refresh accretion, app spec
    # survives, answers unchanged
    S.execute(spark, "OPTIMIZE bkr_ann", cat)
    assert _ids_scores(AI.query_ann_index(spark, vp, QV, k=10,
                                          n_probe_bits=2)) == \
        _ids_scores(want)


def test_refresh_stream_maintains_ann_index(spark, vecs, cat):
    """r12 (verdict task 4): continuous maintenance of the ANN index
    through START REFRESH STREAM — the manifest-log tail wakes the
    kind-dispatched refresher per source commit, the stream stop path
    releases its vacuum floors, and the post-wake indexed answer
    equals the ad-hoc tier over the current source. Runs on the
    BUCKETED at-rest layout so the streamed refresh exercises the
    bucketed delete_and_append twin too."""
    vp = _mk(spark, vecs, cat, "st")
    S.execute(spark, "OPTIMIZE st_ann BUCKET BY (bucket, 16)", cat)
    r = S.execute(spark, "START REFRESH STREAM ON VIEW st_ann", cat)
    assert r["status"] == "stream_started"
    try:
        q = S._STREAMS[S._stream_key(cat, "st_ann")]
        S.execute(spark, "DELETE FROM st WHERE vec_id % 6 = 0", cat)
        q.processAllAvailable()
        current = S.execute(spark, "SELECT vec_id, embedding FROM st",
                            cat)
        got = AI.query_ann_index(spark, vp, QV, k=10, n_probe_bits=1)
        want = ann.lsh_topk_multiprobe(current, QV, k=10, n_planes=4,
                                       n_probe_bits=1, seed=42)
        assert _ids_scores(got) == _ids_scores(want)
        d = S.execute(spark, "DESCRIBE MATERIALIZED VIEW st_ann", cat)
        assert d["fresh"] is True and d["refresh_stream"]["live"]
        # SHOW STREAMS reports the live maintainer
        rows = S.execute(spark, "SHOW STREAMS", cat)
        mine = [x for x in rows if x["name"] == "st_ann"]
        assert mine and mine[0]["type"] == "refresh"
    finally:
        S.execute(spark, "STOP REFRESH STREAM ON VIEW st_ann", cat)
    rows = S.execute(spark, "SHOW STREAMS", cat)
    assert not any(x["name"] == "st_ann" for x in rows)


def test_bucketed_query_plans_with_zero_spark_jobs(spark, vecs, cat):
    """r13 (verdict task 4): query_ann_index on the bucketed at-rest
    layout builds its ENTIRE plan with zero Spark jobs — the LSH→
    physical-bucket resolution is driver-side pure Python (xxh parity
    pinned by tests/test_xxh.py) and the scan reads with the
    manifest's committed schema instead of a mergeSchema footer job.
    Runs post-churn so a pending delete vector is on the read path
    too (the vector's schema is pinned from col_types)."""
    vp = _mk(spark, vecs, cat, "zj")
    S.execute(spark, "OPTIMIZE zj_ann BUCKET BY (bucket, 16)", cat)
    S.execute(spark, "DELETE FROM zj WHERE vec_id % 8 = 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW zj_ann", cat)
    with spark_jobs(spark) as jobs:
        got_df = AI.query_ann_index(spark, vp, QV, k=10,
                                    n_probe_bits=1)
    assert jobs == [], f"serving path ran Spark jobs at plan time: {jobs}"
    # the lazily-built plan still answers exactly (ad-hoc parity)
    current = S.execute(spark, "SELECT vec_id, embedding FROM zj", cat)
    want = ann.lsh_topk_multiprobe(current, QV, k=10, n_planes=4,
                                   n_probe_bits=1, seed=42)
    assert _ids_scores(got_df) == _ids_scores(want)


def test_knn_join_via_index_matches_adhoc(spark, vecs, cat,
                                          embeddings):
    """r12: the cross-table k-NN join served FROM the maintained index
    is row-identical to ann.lsh_knn_join over the current source with
    the same parameters — including after churn + refresh and on the
    bucketed layout."""
    vp = _mk(spark, vecs, cat, "kj")
    S.execute(spark, "OPTIMIZE kj_ann BUCKET BY (bucket, 16)", cat)
    S.execute(spark, "DELETE FROM kj WHERE vec_id % 8 = 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW kj_ann", cat)
    left = embeddings.select("vec_id", "embedding").where(
        F.col("vec_id") % 2 == 1).limit(60)
    current = S.execute(spark, "SELECT vec_id, embedding FROM kj", cat)
    got = AI.knn_join_via_index(spark, left, vp, k=4, n_probe_bits=1)
    want = ann.lsh_knn_join(left, current, k=4, n_planes=4,
                            n_probe_bits=1, seed=42)
    def rows(df):
        return sorted((r["id_a"], r["rnk"], r["id_b"],
                       round(r["cosine"], 9)) for r in df.collect())
    assert rows(got) == rows(want)
    assert got.count() > 0
    # the scale guard plans with the MANIFEST count (no count() job)
    # and fires loudly when the expected candidate volume explodes
    from rclip_server_spark.operators.dedup import ScaleGuardError
    with pytest.raises(ScaleGuardError):
        AI.knn_join_via_index(spark, left, vp, k=4, n_probe_bits=2,
                              n_left=10_000_000_000,
                              max_expected_candidates=1_000_000)


def _mk_payload(spark, vecs, cat, name="pay"):
    """Index with a filterable payload column (include_cols)."""
    vecs.select("vec_id", "embedding",
                (F.col("vec_id") % 5).alias("category"),
                (F.col("vec_id") % 3 == 0).alias("flagged")) \
        .createOrReplaceTempView(f"seed_{name}")
    S.execute(spark, f"CREATE TABLE {name} OPTIONS (key='vec_id') AS "
                     f"SELECT * FROM seed_{name}", cat)
    S.execute(spark, f"CREATE MATERIALIZED VIEW {name}_ann USING "
                     f"ann_index OPTIONS (source='{name}', "
                     f"key='vec_id', n_planes=4, "
                     f"include_cols='category,flagged')", cat)
    return cat.get(f"{name}_ann")["path"]


def test_filtered_query_matches_filtered_brute_force(spark, vecs, cat):
    """r14 filtered vector search: where= evaluates inside the probed
    scan; result = top-k among probed candidates matching the
    predicate — row-identical to brute-forcing the same probed state
    with the same filter."""
    vp = _mk_payload(spark, vecs, cat)
    from rclip_server_spark.functions import vector as VEC

    got = AI.query_ann_index(spark, vp, QV, k=10, n_probe_bits=1,
                             where="category = 2 AND NOT flagged")
    state = AI.read_ann_index(spark, vp)
    planes = ann.hyperplanes(4, 64, 42)
    import numpy as np

    qb = int(sum((1 << i) for i, p in enumerate(planes)
                 if float(p @ np.asarray(QV)) >= 0))
    probes = sorted({qb} | {qb ^ (1 << i) for i in range(4)})
    want = (state.where(F.col("bucket").isin(probes))
            .where("category = 2 AND NOT flagged")
            .withColumn("score", VEC.dot(F.col("embedding"),
                                         VEC.vec_lit(QV)))
            .select("vec_id", "score")
            .orderBy(F.desc("score"), F.asc("vec_id")).limit(10))
    assert _ids_scores(got) == _ids_scores(want)
    assert len(got.collect()) > 0


def test_probe_width_3_scans_15_buckets_and_negative_raises(spark, vecs,
                                                             cat):
    """A probe width above 2 is honoured, not capped: on a 4-plane index
    n_probe_bits=3 probes every bucket within 3 flips of the query's
    (15 of 16), and with k covering every row the query returns exactly
    the brute-force ranking of those 15 buckets' rows. A negative width
    raises — ValueError from the API, SqlError from ANN_SEARCH and
    KNN_JOIN — instead of answering as width 0."""
    import numpy as np

    from rclip_server_spark.functions import vector as VEC

    vp = _mk(spark, vecs, cat, "w3")
    planes = ann.hyperplanes(4, 64, 42)
    qb = int(sum((1 << i) for i, p in enumerate(planes)
                 if float(p @ np.asarray(QV)) >= 0))
    probes = [b for b in range(16) if bin(b ^ qb).count("1") <= 3]
    assert len(probes) == 15
    n = vecs.count()
    got = AI.query_ann_index(spark, vp, QV, k=n, n_probe_bits=3)
    want = (AI.read_ann_index(spark, vp)
            .where(F.col("bucket").isin(probes))
            .withColumn("score", VEC.dot(F.col("embedding"),
                                         VEC.vec_lit(QV)))
            .select("vec_id", "score")
            .orderBy(F.desc("score"), F.asc("vec_id")))
    assert _ids_scores(got) == _ids_scores(want)
    with pytest.raises(ValueError):
        AI.query_ann_index(spark, vp, QV, k=5, n_probe_bits=-1)
    arr = ", ".join(str(x) for x in QV)
    with pytest.raises(S.SqlError, match="n_probe_bits"):
        S.execute(spark, f"SELECT * FROM ANN_SEARCH('w3_ann', "
                         f"array({arr}), 5, -1)", cat)
    with pytest.raises(S.SqlError, match="n_probe_bits"):
        S.execute(spark, "SELECT * FROM KNN_JOIN('w3_ann', w3, 3, -1)",
                  cat)


def test_filtered_batch_matches_per_query_loop(spark, vecs, cat):
    vp = _mk_payload(spark, vecs, cat, "fb")
    qs = [(1, QV), (2, [-x for x in QV])]
    batch = AI.query_ann_index_batch(spark, vp, qs, k=5,
                                     where="category = 2")
    rows = {(r[0], r[1], round(r[2], 9)) for r in batch.collect()}
    singles = set()
    for qid, q in qs:
        for r in AI.query_ann_index(spark, vp, q, k=5,
                                    where="category = 2").collect():
            singles.add((qid, r[0], round(r[1], 9)))
    assert rows == singles and rows


def test_payload_survives_refresh_and_filter_errors_are_valueerror(
        spark, vecs, cat, embeddings):
    vp = _mk_payload(spark, vecs, cat, "ref")
    # churn the source; the payload must ride the retract+append path
    S.execute(spark, "DELETE FROM ref WHERE vec_id % 10 = 0", cat)
    S.execute(spark, "INSERT INTO ref SELECT vec_id + 70000, "
                     "embedding, (vec_id + 70000) % 5, "
                     "(vec_id + 70000) % 3 = 0 FROM seed_ref "
                     "WHERE vec_id % 9 = 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW ref_ann", cat)
    state = AI.read_ann_index(spark, vp)
    assert "category" in state.columns and "flagged" in state.columns
    got = AI.query_ann_index(spark, vp, QV, k=5,
                             where="category = 2 AND vec_id > 70000")
    assert all(r[0] > 70000 and r[0] % 5 == 2 for r in got.collect())
    with pytest.raises(ValueError):
        AI.query_ann_index(spark, vp, QV, where="no_such_col = 1")
    with pytest.raises(ValueError):
        AI.query_ann_index(spark, vp, QV, where="category = = 1")
    with pytest.raises(ValueError):
        AI.create_ann_index(spark, cat.get("ref")["path"],
                            str(cat.root) + "/bad", key="vec_id",
                            include_cols=["nope"])


def test_filtered_knn_join_matches_prefiltered_adhoc(spark, vecs, cat,
                                                     embeddings):
    """r14: knn_join_via_index(where=) filters the CORPUS side before
    the bucket equi-join — row-identical to the ad-hoc lsh_knn_join
    against the pre-filtered source rows (same planes/seed)."""
    vp = _mk_payload(spark, vecs, cat, "kj")
    left = embeddings.select("vec_id", "embedding").where(
        F.col("vec_id") % 2 == 1).limit(40)
    got = AI.knn_join_via_index(spark, left, vp, k=3,
                                where="category = 2")
    src = spark.table("seed_kj").where("category = 2") \
        .select("vec_id", "embedding")
    want = ann.lsh_knn_join(left, src, k=3, n_planes=4, seed=42,
                            n_probe_bits=1)
    assert sorted((r[0], r[1], round(r[2], 9)) for r in got.collect()) \
        == sorted((r[0], r[1], round(r[2], 9)) for r in want.collect())
    assert got.count() > 0
