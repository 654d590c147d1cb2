"""Maintained IVF index view (sources/ivfindex.py + CREATE
MATERIALIZED VIEW ... USING ivf_index): state parity with the ad-hoc
assignment, indexed-query parity with ann.ivf_topk (exact re-rank
tier), O(changed rows) maintenance under FROZEN centroids, the
bucketed at-rest layout's file pruning, recall floors for the
kmeans-trained path, and the IVF_SEARCH SQL surface."""

import pytest
from pyspark.sql import functions as F

from rclip_server_spark import sql as S
from rclip_server_spark.operators import ann
from rclip_server_spark.sources import indexkind as IK
from rclip_server_spark.sources import ivfindex as II
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


def _mk(spark, vecs, cat, name="emb", opts=""):
    vecs.createOrReplaceTempView(f"seed_{name}")
    S.execute(spark, f"CREATE TABLE {name} OPTIONS (key='vec_id') AS "
                     f"SELECT * FROM seed_{name}", cat)
    S.execute(spark, f"CREATE MATERIALIZED VIEW {name}_ivf USING "
                     f"ivf_index OPTIONS (source='{name}', "
                     f"key='vec_id', n_cells=8, iters=2{opts})", cat)
    return cat.get(f"{name}_ivf")["path"]


def test_state_and_query_match_adhoc(spark, vecs, cat):
    vp = _mk(spark, vecs, cat)
    spec = IK.spec_of("ivf_index", vp)
    cents = II._centroids(spec)
    assert cents.shape == (8, 64)
    assert spec["ii_trained"] == "kmeans:first_k:2"
    # state = the ad-hoc assignment of the same rows, same centroids
    want_state = ann.ivf_assign(vecs, cents).select("ivf_cell",
                                                    "vec_id")
    got_state = II.read_ivf_index(spark, vp).select("ivf_cell",
                                                    "vec_id")
    assert sorted(map(tuple, got_state.collect())) == \
        sorted(map(tuple, want_state.collect()))
    # indexed query == the ad-hoc IVF tier, row for row (exact
    # re-rank: same probes, same dots, same tie-break)
    got = II.query_ivf_index(spark, vp, QV, k=10, n_probe=3)
    want = ann.ivf_topk(vecs, QV, cents, k=10, n_probe=3)
    assert _ids_scores(got) == _ids_scores(want)


def test_incremental_refresh_frozen_centroids(spark, vecs, cat,
                                              embeddings):
    vp = _mk(spark, vecs, cat, "inc")
    cents_before = II._centroids(IK.spec_of("ivf_index", vp))
    embeddings.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    ).where(F.col("vec_id") % 2 == 1).limit(100) \
        .createOrReplaceTempView("inc_extra")
    S.execute(spark, "INSERT INTO inc SELECT * FROM inc_extra", cat)
    S.execute(spark, "DELETE FROM inc WHERE vec_id % 6 = 0", cat)
    r = S.execute(spark, "REFRESH MATERIALIZED VIEW inc_ivf", cat)
    assert r["status"] == "refreshed"
    # centroids FROZEN across refresh (the O(changed rows) contract)
    cents_after = II._centroids(IK.spec_of("ivf_index", vp))
    assert (cents_before == cents_after).all()
    current = S.execute(spark, "SELECT vec_id, embedding FROM inc",
                        cat)
    got = II.query_ivf_index(spark, vp, QV, k=10, n_probe=4)
    want = ann.ivf_topk(current, QV, cents_after, k=10, n_probe=4)
    assert _ids_scores(got) == _ids_scores(want)
    # state equals a rebuild over the current source
    want_state = ann.ivf_assign(current, cents_after).select(
        "ivf_cell", "vec_id")
    assert sorted(map(tuple, II.read_ivf_index(spark, vp)
                      .select("ivf_cell", "vec_id").collect())) == \
        sorted(map(tuple, want_state.collect()))
    d = S.execute(spark, "DESCRIBE MATERIALIZED VIEW inc_ivf", cat)
    assert d["view_kind"] == "ivf_index" and d["fresh"] is True


def test_bucketed_layout_prunes_files_zero_plan_jobs(spark, vecs,
                                                     cat):
    """OPTIMIZE ... BUCKET BY (ivf_cell, N): probe queries name only
    the probed cells' physical buckets' segment files, and the whole
    plan builds with zero Spark jobs (driver-side centroid ranking
    from the spec + xxh bucket resolution + pinned scan schema)."""
    import numpy as np

    from rclip_server_spark.functions.xxh import buckets_of
    from rclip_server_spark.sources import versioned as V

    vp = _mk(spark, vecs, cat, "bk")
    flat = _ids_scores(II.query_ivf_index(spark, vp, QV, k=10,
                                          n_probe=2))
    r = S.execute(spark, "OPTIMIZE bk_ivf BUCKET BY (ivf_cell, 8)",
                  cat)
    assert r["status"] == "optimized" and r["n_buckets"] == 8
    # churn so a pending delete vector sits on the read path
    S.execute(spark, "DELETE FROM bk WHERE vec_id % 8 = 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW bk_ivf", cat)
    with spark_jobs(spark) as jobs:
        got_df = II.query_ivf_index(spark, vp, QV, k=10, n_probe=2)
    assert jobs == [], f"serving ran Spark jobs at plan time: {jobs}"
    current = S.execute(spark, "SELECT vec_id, embedding FROM bk", cat)
    spec = IK.spec_of("ivf_index", vp)
    want = ann.ivf_topk(current, QV, II._centroids(spec), k=10,
                        n_probe=2)
    assert _ids_scores(got_df) == _ids_scores(want)
    # flat-vs-bucketed parity on the pre-churn snapshot is implied by
    # the ad-hoc parity above; now the FILE pruning assertion
    m = V._manifest(vp, V.current_version(vp))
    cents = II._centroids(spec)
    order = np.argsort(-(cents @ np.asarray(QV)))[:2]
    phys = set(buckets_of([int(i) for i in order], 8))
    probed_segs = {s for b in phys
                   for s in m["buckets"].get(str(b), [])}
    other_segs = {s for b, ss in m["buckets"].items()
                  if int(b) not in phys for s in ss}
    # delete-vector segments (del-*) are KB-sized key sets the
    # anti-join reads, not data segments — the pruning claim is about
    # the DATA buckets
    touched = {f.split(vp + "/")[1].split("/")[0]
               for f in got_df.inputFiles()}
    touched = {s for s in touched if not s.startswith("del-")}
    assert touched <= probed_segs
    assert not (touched & other_segs)
    assert other_segs
    assert flat  # non-vacuous pre-conversion answer


def test_recall_floor_kmeans(spark, vecs, cat):
    """The trained quantizer earns its keep: recall@10 vs brute-force
    cosine, probing half the cells, stays above a pinned floor — and
    probing ALL cells is exact (recall 1.0), the exactness ladder's
    top rung."""
    from rclip_server_spark.operators import similarity

    vp = _mk(spark, vecs, cat, "rc")
    brute = [r[0] for r in similarity.topk_similar(vecs, QV, k=10)
             .select("vec_id").collect()]
    got4 = {r[0] for r in
            II.query_ivf_index(spark, vp, QV, k=10, n_probe=4)
            .collect()}
    recall4 = len(got4 & set(brute)) / 10.0
    assert recall4 >= 0.5, f"recall@10 n_probe=4: {recall4}"
    got8 = [r[0] for r in
            II.query_ivf_index(spark, vp, QV, k=10, n_probe=8)
            .select("vec_id").collect()]
    assert got8 == brute  # all cells probed == exact


def test_ivf_search_sql_surface(spark, vecs, cat):
    vp = _mk(spark, vecs, cat, "sq", opts=", buckets=8")
    arr = ", ".join(repr(x) for x in QV)
    got = S.execute(spark, f"SELECT vec_id, score FROM "
                           f"IVF_SEARCH('sq_ivf', array({arr}), 10, "
                           f"3)", cat)
    want = II.query_ivf_index(spark, vp, QV, k=10, n_probe=3)
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in want.collect()]
    # guards: wrong kind both ways, DML refusal
    with pytest.raises(S.SqlError):
        S.execute(spark, f"SELECT * FROM ANN_SEARCH('sq_ivf', "
                         f"array({arr}), 5)", cat)
    with pytest.raises(S.SqlError):
        S.execute(spark, "SELECT * FROM IVF_SEARCH('sq', "
                         "array(1.0), 5)", cat)
    with pytest.raises(S.SqlError):
        S.execute(spark, "DELETE FROM sq_ivf WHERE ivf_cell = 0", cat)
    with pytest.raises(ValueError):
        II.query_ivf_index(spark, vp, [0.0] * 7)  # wrong dim

def test_refresh_stream_maintains_ivf_index(spark, vecs, cat):
    """Continuous maintenance through START REFRESH STREAM: the
    manifest-log tail wakes the kind-dispatched refresher per source
    commit (ivf_index rides the same marker registry as every other
    kind), and the post-wake indexed answer equals the ad-hoc tier
    under the frozen centroids."""
    vp = _mk(spark, vecs, cat, "st")
    S.execute(spark, "OPTIMIZE st_ivf BUCKET BY (ivf_cell, 8)", cat)
    S.execute(spark, "START REFRESH STREAM ON VIEW st_ivf", cat)
    try:
        q = S._STREAMS[S._stream_key(cat, "st_ivf")]
        S.execute(spark, "DELETE FROM st WHERE vec_id % 6 = 0", cat)
        q.processAllAvailable()
        current = S.execute(spark, "SELECT vec_id, embedding FROM st",
                            cat)
        cents = II._centroids(IK.spec_of("ivf_index", vp))
        got = II.query_ivf_index(spark, vp, QV, k=10, n_probe=3)
        want = ann.ivf_topk(current, QV, cents, k=10, n_probe=3)
        assert _ids_scores(got) == _ids_scores(want)
        d = S.execute(spark, "DESCRIBE MATERIALIZED VIEW st_ivf", cat)
        assert d["fresh"] is True and d["refresh_stream"]["live"]
    finally:
        S.execute(spark, "STOP REFRESH STREAM ON VIEW st_ivf", cat)


def test_ivfadc_tier_matches_adhoc_and_refreshes(spark, vecs, cat,
                                                 embeddings):
    """r13: the IVFADC tier — pq_m turns the maintained index into
    cell + residual-PQ-code rows under FROZEN centroids AND codebooks;
    query method='adc' ADC-shortlists from the stored codes and
    exact-re-ranks, row-identical to ann.ivf_pq_topk over the same
    state — including after an O(changed rows) refresh and on the
    bucketed at-rest layout, and through SQL IVF_SEARCH's 5th arg."""
    vecs.createOrReplaceTempView("seed_adc")
    S.execute(spark, "CREATE TABLE adc OPTIONS (key='vec_id') AS "
                     "SELECT * FROM seed_adc", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW adc_ivf USING "
                     "ivf_index OPTIONS (source='adc', key='vec_id', "
                     "n_cells=8, iters=2, pq_m=8, pq_k=16, "
                     "buckets=8)", cat)
    vp = cat.get("adc_ivf")["path"]
    spec = IK.spec_of("ivf_index", vp)
    books = II._codebooks(spec)
    assert books is not None and books.shape == (8, 16, 8)
    # state parity: rows == the ad-hoc IVFADC encode of the source
    from rclip_server_spark.operators.ann import (ivf_pq_encode,
                                                  ivf_pq_topk)

    cents = II._centroids(spec)
    want_state = ivf_pq_encode(vecs, cents, books).select(
        "ivf_cell", "vec_id", "pq_codes")
    got_state = II.read_ivf_index(spark, vp).select(
        "ivf_cell", "vec_id", "pq_codes")
    assert sorted((r[0], r[1], tuple(r[2]))
                  for r in got_state.collect()) == \
        sorted((r[0], r[1], tuple(r[2]))
               for r in want_state.collect())
    # churn + refresh: codebooks frozen, codes exact for new rows
    embeddings.select(
        (F.col("vec_id") + 3000000).alias("vec_id"), "embedding"
    ).where(F.col("vec_id") % 2 == 1).limit(60) \
        .createOrReplaceTempView("adc_extra")
    S.execute(spark, "INSERT INTO adc SELECT * FROM adc_extra", cat)
    S.execute(spark, "DELETE FROM adc WHERE vec_id % 10 = 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW adc_ivf", cat)
    assert (II._codebooks(IK.spec_of("ivf_index", vp)) == books).all()
    current = S.execute(spark, "SELECT vec_id, embedding FROM adc",
                        cat)
    # adc query == ad-hoc ivf_pq_topk over the post-DML encode
    got = II.query_ivf_index(spark, vp, QV, k=8, n_probe=3,
                             method="adc", shortlist=50)
    want = ivf_pq_topk(
        ivf_pq_encode(current, cents, books, keep_cols=["embedding"]),
        QV, cents, books, k=8, n_probe=3, shortlist=50)
    assert _ids_scores(got) == _ids_scores(want)
    assert got.count() == 8
    # exact tier still works on the same state
    got_ex = II.query_ivf_index(spark, vp, QV, k=8, n_probe=3)
    want_ex = ann.ivf_topk(current, QV, cents, k=8, n_probe=3)
    assert _ids_scores(got_ex) == _ids_scores(want_ex)
    # SQL surface: 5th arg routes the adc tier
    arr = ", ".join(repr(x) for x in QV)
    sql_rows = S.execute(
        spark, f"SELECT vec_id, round(score, 9) AS s FROM "
               f"IVF_SEARCH('adc_ivf', array({arr}), 8, 3, 'adc')",
        cat)
    got200 = II.query_ivf_index(spark, vp, QV, k=8, n_probe=3,
                                method="adc")  # default shortlist
    assert [tuple(r) for r in sql_rows.collect()] == \
        [(r[0], round(r[1], 9)) for r in got200.collect()]
    # guards: adc on a codebook-less index; bad method
    plain = _mk(spark, vecs, cat, "noadc")
    with pytest.raises(ValueError, match="pq_m"):
        II.query_ivf_index(spark, plain, QV, method="adc")
    with pytest.raises(ValueError):
        II.query_ivf_index(spark, vp, QV, method="nope")


def test_drift_alarm_fires_and_rebuild_recovers(spark, vecs, cat):
    """r14 drift governance: centroids are FROZEN by design, so under
    distribution drift recall decays silently — the manifest-maintained
    counters (per-cell counts + summed quantization error, rolled
    O(delta) by every refresh) must raise the alarm. Drive a drifted
    append stream (every appended vector in one fixed direction far
    from the balanced baseline) until ivf_drift_report flips; assert
    the maintained counters stayed EXACT against a recount of the
    state; then re-create (the documented heal) and assert recovery."""
    import numpy as np

    vp = _mk(spark, vecs, cat, "dr")
    rep0 = II.ivf_drift_report(vp)
    assert rep0["tracked"] and not rep0["alarm"]
    assert rep0["n_base"] == rep0["n_cur"] == vecs.count()
    # a fixed drift direction: unit vector far from the trained
    # centroids (deterministic seeded draw)
    rng = np.random.default_rng(99)
    d = rng.standard_normal(64)
    d /= np.linalg.norm(d)
    drift_arr = F.array(*[F.lit(float(x)) for x in d])
    fired = False
    for i in range(6):
        (vecs.select((F.col("vec_id") + 5000000 + i * 1000)
                     .alias("vec_id"))
         .limit(400).withColumn("embedding", drift_arr)
         .createOrReplaceTempView("dr_batch"))
        S.execute(spark, "INSERT INTO dr SELECT * FROM dr_batch", cat)
        S.execute(spark, "REFRESH MATERIALIZED VIEW dr_ivf", cat)
        rep = II.ivf_drift_report(vp)
        if rep["alarm"]:
            fired = True
            break
    assert fired, f"drift alarm never fired: {rep}"
    assert rep["cell_tv"] > rep["tv_threshold"] \
        or rep["mqe_ratio"] > rep["mqe_threshold"]
    # the O(delta) counters are EXACT: recount the actual state
    recount = dict(II.read_ivf_index(spark, vp)
                   .groupBy("ivf_cell").count().collect())
    spec = IK.spec_of("ivf_index", vp)
    assert [recount.get(i, 0) for i in range(8)] == \
        [int(x) for x in spec["ii_cur_cell_counts"]]
    # deletes retract exactly too (update the counters downward)
    S.execute(spark, "DELETE FROM dr WHERE vec_id >= 5000000 "
                     "AND vec_id % 3 = 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW dr_ivf", cat)
    recount2 = dict(II.read_ivf_index(spark, vp)
                    .groupBy("ivf_cell").count().collect())
    spec2 = IK.spec_of("ivf_index", vp)
    assert [recount2.get(i, 0) for i in range(8)] == \
        [int(x) for x in spec2["ii_cur_cell_counts"]]
    # rebuild-recovery: the documented heal is an explicit re-create —
    # centroids retrain on the drifted corpus, baselines reset
    S.execute(spark, "DROP MATERIALIZED VIEW dr_ivf", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW dr_ivf USING "
                     "ivf_index OPTIONS (source='dr', key='vec_id', "
                     "n_cells=8, iters=2)", cat)
    rep_new = II.ivf_drift_report(cat.get("dr_ivf")["path"])
    assert rep_new["tracked"] and not rep_new["alarm"]
    assert rep_new["cell_tv"] == 0.0 and rep_new["mqe_ratio"] == 1.0


def test_filtered_query_and_payload_refresh(spark, vecs, cat):
    """r14 filtered vector search on the IVF kind: where= inside the
    probed-cell scan, payload surviving refresh."""
    vecs.select("vec_id", "embedding",
                (F.col("vec_id") % 5).alias("category")) \
        .createOrReplaceTempView("seed_flt")
    S.execute(spark, "CREATE TABLE flt OPTIONS (key='vec_id') AS "
                     "SELECT * FROM seed_flt", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW flt_ivf USING "
                     "ivf_index OPTIONS (source='flt', key='vec_id', "
                     "n_cells=8, iters=2, "
                     "include_cols='category')", cat)
    vp = cat.get("flt_ivf")["path"]
    from rclip_server_spark.functions import vector as VEC

    got = II.query_ivf_index(spark, vp, QV, k=10, n_probe=2,
                             where="category = 2")
    # reference: brute force over the probed cells' state rows
    spec = IK.spec_of("ivf_index", vp)
    cents = II._centroids(spec)
    import numpy as np

    cells = [int(i) for i in
             np.argsort(-(cents @ np.asarray(QV)))[:2]]
    want = (II.read_ivf_index(spark, vp)
            .where(F.col("ivf_cell").isin(cells))
            .where("category = 2")
            .withColumn("score", VEC.dot(F.col("embedding"),
                                         VEC.vec_lit(QV)))
            .select("vec_id", "score")
            .orderBy(F.desc("score"), F.asc("vec_id")).limit(10))
    assert _ids_scores(got) == _ids_scores(want)
    # payload rides the refresh; filter errors keep the ValueError
    # contract
    S.execute(spark, "DELETE FROM flt WHERE vec_id % 10 = 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW flt_ivf", cat)
    assert "category" in II.read_ivf_index(spark, vp).columns
    with pytest.raises(ValueError):
        II.query_ivf_index(spark, vp, QV, where="no_col = 1")


def test_filtered_adc_tier_and_batch(spark, vecs, cat):
    """ADC tier with a payload filter: the predicate shrinks the
    candidate set BEFORE the LUT pass; every survivor matches, and
    the result equals the unfiltered ADC answer post-filtered when
    the shortlist covers the probed cells."""
    vecs.select("vec_id", "embedding",
                (F.col("vec_id") % 5).alias("category")) \
        .createOrReplaceTempView("seed_fadc")
    S.execute(spark, "CREATE TABLE fadc OPTIONS (key='vec_id') AS "
                     "SELECT * FROM seed_fadc", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW fadc_ivf USING "
                     "ivf_index OPTIONS (source='fadc', key='vec_id', "
                     "n_cells=4, iters=2, pq_m=8, pq_k=16, "
                     "include_cols='category')", cat)
    vp = cat.get("fadc_ivf")["path"]
    got = II.query_ivf_index(spark, vp, QV, k=5, n_probe=2,
                             method="adc", shortlist=100000,
                             where="category = 2").collect()
    assert got and all(r[0] % 5 == 2 for r in got)
    # huge shortlist => ADC == exact-filtered top-k set
    exact = II.query_ivf_index(spark, vp, QV, k=5, n_probe=2,
                               where="category = 2").collect()
    assert [r[0] for r in got] == [r[0] for r in exact]
    # batch twin shares the single-query rows per qid
    qs = [(1, QV), (2, [-x for x in QV])]
    batch = II.query_ivf_index_batch(spark, vp, qs, k=5,
                                     where="category = 2")
    rows = {(r[0], r[1], round(r[2], 9)) for r in batch.collect()}
    singles = set()
    for qid, q in qs:
        for r in II.query_ivf_index(spark, vp, q, k=5,
                                    where="category = 2").collect():
            singles.add((qid, r[0], round(r[1], 9)))
    assert rows == singles and rows


def test_retrain_heals_drift_and_requeries_exactly(spark, vecs, cat):
    """r14 drift HEAL: RETRAIN INDEX retrains centroids (+ PQ books
    with the create recipe) on the source head, reassigns, advances
    the cursor, and resets the drift baseline — alarm clears, queries
    re-match the ad-hoc scorer under the NEW quantizers, payload and
    the bucketed layout survive."""
    import numpy as np

    vecs.select("vec_id", "embedding",
                (F.col("vec_id") % 5).alias("category")) \
        .createOrReplaceTempView("seed_rt")
    S.execute(spark, "CREATE TABLE rt OPTIONS (key='vec_id') AS "
                     "SELECT * FROM seed_rt", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW rt_ivf USING "
                     "ivf_index OPTIONS (source='rt', key='vec_id', "
                     "n_cells=8, iters=2, pq_m=8, pq_k=16, "
                     "include_cols='category', buckets=8)", cat)
    vp = cat.get("rt_ivf")["path"]
    assert not II.ivf_drift_report(vp)["alarm"]
    # drifted appends: a fixed unit direction far from the trained mass
    d = [0.0] * 64
    d[1] = 1.0
    from rclip_server_spark.sources import versioned as V

    drift = (vecs.limit(250)
             .select((F.col("vec_id") + 900000).alias("vec_id"),
                     F.array(*[F.lit(float(x)) for x in d])
                     .cast("array<float>").alias("embedding"),
                     F.lit(3).cast("bigint").alias("category")))
    V.append(spark, cat.get("rt")["path"], drift)
    S.execute(spark, "REFRESH MATERIALIZED VIEW rt_ivf", cat)
    assert II.ivf_drift_report(vp)["alarm"]
    out = S.execute(spark, "RETRAIN INDEX rt_ivf", cat)
    assert out["status"] == "retrained"
    rep = II.ivf_drift_report(vp)
    assert not rep["alarm"] and rep["cell_tv"] == 0.0
    desc = S.execute(spark, "DESCRIBE INDEX rt_ivf", cat)
    assert desc["fresh"] and desc["layout"] == "bucketed"
    # exact-tier query == ad-hoc ivf_topk under the RETRAINED centroids
    spec = IK.spec_of("ivf_index", vp)
    cents = II._centroids(spec)
    got = II.query_ivf_index(spark, vp, QV, k=10, n_probe=3)
    src_head = V.read(spark, cat.get("rt")["path"])
    want = ann.ivf_topk(src_head, QV, cents, k=10, n_probe=3)
    assert _ids_scores(got) == _ids_scores(want)
    # PQ books retrained against the new centroids: huge-shortlist ADC
    # == exact, with the payload filter still working
    adc = II.query_ivf_index(spark, vp, QV, k=5, n_probe=3,
                             method="adc", shortlist=100000,
                             where="category = 3").collect()
    exact = II.query_ivf_index(spark, vp, QV, k=5, n_probe=3,
                               where="category = 3").collect()
    assert [r[0] for r in adc] == [r[0] for r in exact] and adc
    # guard: an explicit-centroid index refuses a parameterless retrain
    import rclip_server_spark.operators.ann as _ann

    ep = str(cat.root) + "/exp_ivf"
    II.create_ivf_index(spark, cat.get("rt")["path"], ep,
                        key="vec_id",
                        centroids=_ann.hyperplanes(8, 64, seed=3))
    with pytest.raises(ValueError):
        II.retrain_ivf_index(spark, ep)
