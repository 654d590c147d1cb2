"""SQL table functions over the maintained indexes:
TEXT_SEARCH('v', 'terms', k) and ANN_SEARCH('v', array(...), k[, p])
rewrite to the index-served top-k (postings / probed buckets only)
and compose with full Spark SQL. Parity oracle: the Python query_*
entry points the ti_/ai_ contract rows already pin to DuckDB."""

import pytest
from pyspark.sql import functions as F

from rclip_server_spark import sql as S
from rclip_server_spark.sources import annindex as AI
from rclip_server_spark.sources import ivfindex as II
from rclip_server_spark.sources import textindex as TI
from conftest import spark_jobs

QV = [0.125] * 32 + [-0.125] * 32


@pytest.fixture()
def cat(tmp_path):
    return S.Catalog(str(tmp_path / "cat"))


@pytest.fixture()
def both(spark, documents, embeddings, cat):
    documents.select("doc_id", "text").limit(400)\
        .createOrReplaceTempView("d_seed")
    embeddings.select("vec_id", "embedding").limit(400)\
        .createOrReplaceTempView("e_seed")
    S.execute(spark, "CREATE TABLE d OPTIONS (key='doc_id') AS "
                     "SELECT * FROM d_seed", cat)
    S.execute(spark, "CREATE TABLE e OPTIONS (key='vec_id') AS "
                     "SELECT * FROM e_seed", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW ti USING text_index "
                     "OPTIONS (source='d', key='doc_id')", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW ai USING ann_index "
                     "OPTIONS (source='e', key='vec_id', n_planes=4)",
              cat)
    return cat


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_text_search_matches_python_api(spark, both):
    cat = both
    got = S.execute(spark, "SELECT doc_id, round(bm25, 6) AS bm25 "
                           "FROM TEXT_SEARCH('ti', 'data model', 10)",
                    cat)
    want = TI.query_text_index(spark, cat.get("ti")["path"],
                               "data model", k=10)\
        .withColumn("bm25", F.round("bm25", 6))
    assert _rows(got) == _rows(want)


def test_ann_search_matches_python_api(spark, both):
    cat = both
    arr = ", ".join(repr(x) for x in QV)
    got = S.execute(spark, f"SELECT vec_id, score FROM "
                           f"ANN_SEARCH('ai', array({arr}), 10, 2)",
                    cat)
    want = AI.query_ann_index(spark, cat.get("ai")["path"], QV, k=10,
                              n_probe_bits=2)
    assert _rows(got) == _rows(want)


def test_index_search_composes_with_sql(spark, both):
    """Aliases, CTEs, joins back to the base table, and BOTH functions
    in one statement — the rewrite must splice cleanly."""
    cat = both
    arr = ", ".join(repr(x) for x in QV)
    got = S.execute(spark, f"""
        WITH t AS (SELECT doc_id, bm25 FROM
                   TEXT_SEARCH('ti', 'data model', 50) ts),
             v AS (SELECT vec_id AS doc_id, score FROM
                   ANN_SEARCH('ai', array({arr}), 50) vs)
        SELECT t.doc_id, round(t.bm25, 6) AS bm25,
               round(v.score, 9) AS score
        FROM t JOIN v USING (doc_id)
        ORDER BY doc_id""", cat)
    t = TI.query_text_index(spark, cat.get("ti")["path"],
                            "data model", k=50)
    v = AI.query_ann_index(spark, cat.get("ai")["path"], QV, k=50)\
        .withColumnRenamed("vec_id", "doc_id")
    want = (t.join(v, "doc_id")
            .select("doc_id", F.round("bm25", 6).alias("bm25"),
                    F.round("score", 9).alias("score"))
            .orderBy("doc_id"))
    assert _rows(got) == _rows(want)


def test_index_search_guards(spark, both):
    cat = both
    with pytest.raises(S.SqlError):  # wrong view kind
        S.execute(spark, "SELECT * FROM TEXT_SEARCH('ai', 'x', 5)",
                  cat)
    with pytest.raises(S.SqlError):  # wrong kind the other way
        S.execute(spark, "SELECT * FROM ANN_SEARCH('ti', "
                         "array(1.0), 5)", cat)
    with pytest.raises(S.SqlError):  # arity
        S.execute(spark, "SELECT * FROM TEXT_SEARCH('ti', 'x')", cat)
    with pytest.raises(S.SqlError):  # vector must be array literal
        S.execute(spark, "SELECT * FROM ANN_SEARCH('ti', 'x', 5)",
                  cat)
    with pytest.raises(S.SqlError):  # unknown view
        S.execute(spark, "SELECT * FROM TEXT_SEARCH('nope', 'x', 5)",
                  cat)
    # a string literal containing the function name is NOT rewritten
    r = S.execute(spark, "SELECT 'TEXT_SEARCH(''ti'', ''x'', 1)' AS s",
                  cat)
    assert r.first()["s"].startswith("TEXT_SEARCH")


def test_knn_join_matches_python_api(spark, both, embeddings):
    """r13 (verdict task 6): KNN_JOIN('ai', left, k[, p]) — the
    cross-table alignment primitive through SQL, row-identical to
    annindex.knn_join_via_index with the index spec's key/vec_col,
    for both a catalog-table left and a session temp-view left."""
    cat = both
    # catalog-table left
    embeddings.select("vec_id", "embedding").where(
        F.col("vec_id") % 2 == 1).limit(40)\
        .createOrReplaceTempView("l_seed")
    S.execute(spark, "CREATE TABLE lt OPTIONS (key='vec_id') AS "
                     "SELECT * FROM l_seed", cat)
    got = S.execute(spark, "SELECT id_a, id_b, round(cosine, 9) AS c, "
                           "rnk FROM KNN_JOIN('ai', lt, 3, 1) "
                           "ORDER BY id_a, rnk", cat)
    left = S.execute(spark, "SELECT vec_id, embedding FROM lt", cat)
    want = AI.knn_join_via_index(
        spark, left, cat.get("ai")["path"], k=3, n_probe_bits=1,
        id_col="vec_id", vec_col="embedding")\
        .select("id_a", "id_b", F.round("cosine", 9).alias("c"), "rnk")\
        .orderBy("id_a", "rnk")
    assert _rows(got) == _rows(want)
    assert got.count() > 0
    # temp-view left (uncataloged) + composition with an outer agg
    got2 = S.execute(spark, "SELECT id_a, count(*) AS n "
                            "FROM KNN_JOIN('ai', l_seed, 3) "
                            "GROUP BY id_a ORDER BY id_a", cat)
    want2 = (AI.knn_join_via_index(
        spark, spark.table("l_seed"), cat.get("ai")["path"], k=3,
        n_probe_bits=1, id_col="vec_id", vec_col="embedding")
        .groupBy("id_a").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("id_a"))
    assert _rows(got2) == _rows(want2)


def test_knn_join_guards(spark, both, documents):
    cat = both
    with pytest.raises(S.SqlError):  # wrong view kind
        S.execute(spark, "SELECT * FROM KNN_JOIN('ti', e, 3)", cat)
    with pytest.raises(S.SqlError):  # arity
        S.execute(spark, "SELECT * FROM KNN_JOIN('ai', e)", cat)
    with pytest.raises(S.SqlError):  # left must be a bare name
        S.execute(spark, "SELECT * FROM KNN_JOIN('ai', 'e', 3)", cat)
    with pytest.raises(S.SqlError):  # unknown left table
        S.execute(spark, "SELECT * FROM KNN_JOIN('ai', nope_t, 3)",
                  cat)
    # left lacking the index's columns names them in the error
    documents.select("doc_id", "text").limit(5)\
        .createOrReplaceTempView("not_vecs")
    with pytest.raises(S.SqlError, match="embedding"):
        S.execute(spark, "SELECT * FROM KNN_JOIN('ai', not_vecs, 3)",
                  cat)


def test_knn_join_rewrite_runs_zero_spark_jobs_for_catalog_left(
        spark, both, embeddings):
    """r13 review fix: a catalog-table left's scale-guard count comes
    from the MANIFEST (table_row_count), so the statement rewrite
    itself launches no Spark job for it (the count() job per
    statement was the class the serving paths eliminated)."""
    cat = both
    embeddings.select("vec_id", "embedding").where(
        F.col("vec_id") % 2 == 1).limit(30)\
        .createOrReplaceTempView("zl_seed")
    S.execute(spark, "CREATE TABLE zlt OPTIONS (key='vec_id') AS "
                     "SELECT * FROM zl_seed", cat)
    from rclip_server_spark.sql._reads import _rewrite_index_searches

    with spark_jobs(spark) as jobs:
        text = _rewrite_index_searches(
            spark, "SELECT * FROM KNN_JOIN('ai', zlt, 3)", cat)
    assert jobs == [], f"rewrite ran Spark jobs: {jobs}"
    assert "__knn_join_" in text
    # the rewritten statement still answers
    assert S.execute(spark, "SELECT count(*) AS n FROM "
                            "KNN_JOIN('ai', zlt, 3)",
                     cat).first()["n"] > 0


def test_knn_join_scale_guard_surfaces_as_sql_error(spark, both):
    """SQL has no max_expected_candidates escape hatch, so the
    candidate-volume guard (a RuntimeError subclass that previously
    escaped raw) must surface through the layer's SqlError contract.
    The guard condition itself is pinned on the operator; the SQL
    layer's wrapping is pinned by substituting a firing guard."""
    cat = both
    from rclip_server_spark.operators.dedup import ScaleGuardError
    from rclip_server_spark.sources import annindex as AI

    # the operator's guard fires for absurd candidate volumes
    with pytest.raises(ScaleGuardError):
        AI.knn_join_via_index(
            spark, spark.table("e_seed"), cat.get("ai")["path"], k=3,
            n_left=10_000_000_000, max_expected_candidates=1_000_000)
    # the SQL layer wraps it (the rewriter re-imports the module per
    # call, so substituting the module attribute intercepts it)
    orig = AI.knn_join_via_index

    def _boom(*a, **k):
        raise ScaleGuardError("guard fired (test)")

    AI.knn_join_via_index = _boom
    try:
        with pytest.raises(S.SqlError, match="guard fired"):
            S.execute(spark, "SELECT * FROM KNN_JOIN('ai', e, 3)",
                      cat)
    finally:
        AI.knn_join_via_index = orig


def test_describe_index_all_kinds_zero_jobs(spark, both, embeddings):
    """r14 DESCRIBE INDEX: the operator-facing health window for every
    maintained index kind — kind, key, layout, cursor lag, counts,
    params, and (IVF) the drift readout — entirely from manifest math
    (status-tracker-asserted zero Spark jobs)."""
    cat = both
    embeddings.select("vec_id", "embedding").limit(400) \
        .createOrReplaceTempView("ii_seed")
    S.execute(spark, "CREATE TABLE iv OPTIONS (key='vec_id') AS "
                     "SELECT * FROM ii_seed", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW ii USING ivf_index "
                     "OPTIONS (source='iv', key='vec_id', n_cells=4, "
                     "iters=1, buckets=4)", cat)
    with spark_jobs(spark) as jobs:
        dt = S.execute(spark, "DESCRIBE INDEX ti", cat)
        da = S.execute(spark, "DESCRIBE INDEX ai", cat)
        di = S.execute(spark, "DESCRIBE INDEX ii", cat)
    assert jobs == [], f"DESCRIBE INDEX ran Spark jobs: {jobs}"
    assert dt["index_kind"] == "text_index" and dt["key"] == "doc_id"
    assert dt["fresh"] is True and dt["params"]["ti_ndocs"] == 400
    assert da["index_kind"] == "ann_index"
    assert da["params"]["ai_n_planes"] == 4
    assert di["index_kind"] == "ivf_index"
    assert di["layout"] == "bucketed" and di["n_buckets"] == 4
    assert di["drift"]["tracked"] and di["drift"]["alarm"] is False
    assert di["params"]["ii_pq"] is False
    assert di["row_count"] == 400 and di["sources"][0]["lag"] == 0
    # cursor lag surfaces when the source moves without a refresh
    S.execute(spark, "DELETE FROM iv WHERE vec_id % 5 = 0", cat)
    di2 = S.execute(spark, "DESCRIBE INDEX ii", cat)
    assert di2["sources"][0]["lag"] == 1 and di2["fresh"] is False
    # guards: not an index; unknown name; trailing tokens
    with pytest.raises(S.SqlError):
        S.execute(spark, "DESCRIBE INDEX d", cat)
    with pytest.raises(S.SqlError):
        S.execute(spark, "DESCRIBE INDEX ti extra", cat)


@pytest.fixture(scope="module")
def three(spark, documents, embeddings, tmp_path_factory):
    """One small view of each index kind, named v_<kind>."""
    cat = S.Catalog(str(tmp_path_factory.mktemp("three") / "cat"))
    documents.select("doc_id", "text").limit(60)\
        .createOrReplaceTempView("k3_docs")
    embeddings.select("vec_id", "embedding").limit(60)\
        .createOrReplaceTempView("k3_vecs")
    S.execute(spark, "CREATE TABLE k3d OPTIONS (key='doc_id') AS "
                     "SELECT * FROM k3_docs", cat)
    S.execute(spark, "CREATE TABLE k3e OPTIONS (key='vec_id') AS "
                     "SELECT * FROM k3_vecs", cat)
    for kind, opts in (
            ("text_index", "source='k3d', key='doc_id'"),
            ("ann_index", "source='k3e', key='vec_id', n_planes=3"),
            ("ivf_index", "source='k3e', key='vec_id', n_cells=2, "
                          "iters=1")):
        S.execute(spark, f"CREATE MATERIALIZED VIEW v_{kind} USING "
                         f"{kind} OPTIONS ({opts})", cat)
    return cat


_ARR = "array(" + ", ".join(str(x) for x in QV) + ")"

# kind -> (read, query, refresh, probe column, its SQL table functions
# over view {v})
_KIND_API = {
    "text_index": (TI.read_text_index,
                   lambda sp, vp: TI.query_text_index(sp, vp, "data"),
                   TI.refresh_text_index, "term",
                   ["TEXT_SEARCH('{v}', 'data', 5)",
                    "PHRASE_SEARCH('{v}', 'data', 5)"]),
    "ann_index": (AI.read_ann_index,
                  lambda sp, vp: AI.query_ann_index(sp, vp, QV),
                  AI.refresh_ann_index, "bucket",
                  [f"ANN_SEARCH('{{v}}', {_ARR}, 5)",
                   "KNN_JOIN('{v}', k3e, 3)"]),
    "ivf_index": (II.read_ivf_index,
                  lambda sp, vp: II.query_ivf_index(sp, vp, QV),
                  II.refresh_ivf_index, "ivf_cell",
                  [f"IVF_SEARCH('{{v}}', {_ARR}, 5)"]),
}


@pytest.mark.parametrize("kind,view", [
    (k, v) for k in _KIND_API for v in _KIND_API if k != v])
def test_wrong_kind_fails_loudly(spark, three, kind, view):
    """One kind's read/query/refresh on another kind's view raises
    ValueError naming the view (never reads it under the wrong spec),
    the kind's SQL table functions over it raise SqlError naming both
    kinds, and OPTIMIZE ... BUCKET BY on a column that is not the
    view's probe column raises SqlError."""
    import re

    vp = three.get(f"v_{view}")["path"]
    read, query, refresh, probe_col, table_fns = _KIND_API[kind]
    for call in (read, query, refresh):
        with pytest.raises(ValueError, match=re.escape(vp)):
            call(spark, vp)
    for fn in table_fns:
        with pytest.raises(S.SqlError,
                           match=f"reads a {kind} view; .* is a {view}$"):
            S.execute(spark, "SELECT * FROM " + fn.format(v=f"v_{view}"),
                      three)
    with pytest.raises(S.SqlError, match="buckets by its"):
        S.execute(spark, f"OPTIMIZE v_{view} BUCKET BY ({probe_col}, 4)",
                  three)


def test_filtered_search_sql_surface(spark, embeddings, cat):
    """r14: ANN_SEARCH's 5th / IVF_SEARCH's 6th argument is a payload
    filter predicate over include_cols — same rows as the Python
    API's where=, and filter problems surface as SqlError."""
    from rclip_server_spark.sources import annindex as AI
    from rclip_server_spark.sources import ivfindex as II

    embeddings.select("vec_id", "embedding",
                      (F.col("vec_id") % 5).alias("category")) \
        .limit(400).createOrReplaceTempView("fe_seed")
    S.execute(spark, "CREATE TABLE fe OPTIONS (key='vec_id') AS "
                     "SELECT * FROM fe_seed", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW fai USING ann_index "
                     "OPTIONS (source='fe', key='vec_id', n_planes=4, "
                     "include_cols='category')", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW fii USING ivf_index "
                     "OPTIONS (source='fe', key='vec_id', n_cells=8, "
                     "iters=2, include_cols='category')", cat)
    arr = ", ".join(str(float(x)) for x in QV)
    got_a = S.execute(spark, f"SELECT * FROM ANN_SEARCH('fai', "
                             f"array({arr}), 5, 1, 'category = 2')",
                      cat)
    want_a = AI.query_ann_index(spark, cat.get("fai")["path"], QV,
                                k=5, n_probe_bits=1,
                                where="category = 2")
    assert _rows(got_a) == _rows(want_a) and _rows(got_a)
    got_i = S.execute(spark, f"SELECT * FROM IVF_SEARCH('fii', "
                             f"array({arr}), 5, 2, 'exact', "
                             f"'category = 2')", cat)
    want_i = II.query_ivf_index(spark, cat.get("fii")["path"], QV,
                                k=5, n_probe=2, where="category = 2")
    assert _rows(got_i) == _rows(want_i) and _rows(got_i)
    assert all(r[0] % 5 == 2 for r in _rows(got_a) + _rows(got_i))
    # bad filter (unknown column / parse error) => SqlError
    with pytest.raises(S.SqlError):
        S.execute(spark, f"SELECT * FROM ANN_SEARCH('fai', "
                         f"array({arr}), 5, 1, 'nope = 1')", cat)
    with pytest.raises(S.SqlError):
        S.execute(spark, f"SELECT * FROM IVF_SEARCH('fii', "
                         f"array({arr}), 5, 2, 'exact', 'x = = ')",
                  cat)


def test_text_search_filter_argument(spark, documents, cat):
    from rclip_server_spark.sources import textindex as TI

    documents.select("doc_id", "text",
                     (F.col("doc_id") % 2).alias("lang")).limit(300) \
        .createOrReplaceTempView("ft_seed")
    S.execute(spark, "CREATE TABLE ft OPTIONS (key='doc_id') AS "
                     "SELECT * FROM ft_seed", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW fti USING text_index "
                     "OPTIONS (source='ft', key='doc_id', "
                     "include_cols='lang')", cat)
    got = S.execute(spark, "SELECT * FROM TEXT_SEARCH('fti', "
                           "'data spark', 5, 'lang = 0')", cat)
    want = TI.query_text_index(spark, cat.get("fti")["path"],
                               ["data", "spark"], k=5,
                               where="lang = 0")
    assert _rows(got) == _rows(want) and _rows(got)
    assert all(r[0] % 2 == 0 for r in _rows(got))
    with pytest.raises(S.SqlError):
        S.execute(spark, "SELECT * FROM TEXT_SEARCH('fti', "
                         "'data', 5, 'bogus_col = 0')", cat)


def test_knn_join_filter_argument(spark, embeddings, cat):
    from rclip_server_spark.sources import annindex as AI

    embeddings.select("vec_id", "embedding",
                      (F.col("vec_id") % 5).alias("category")) \
        .limit(400).createOrReplaceTempView("kj_seed")
    S.execute(spark, "CREATE TABLE kj OPTIONS (key='vec_id') AS "
                     "SELECT * FROM kj_seed", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW kji USING ann_index "
                     "OPTIONS (source='kj', key='vec_id', n_planes=6, "
                     "include_cols='category')", cat)
    embeddings.select("vec_id", "embedding").limit(30) \
        .createOrReplaceTempView("kj_left")
    got = S.execute(spark, "SELECT * FROM KNN_JOIN('kji', kj_left, "
                           "3, 1, 'category = 2') ORDER BY id_a, rnk",
                    cat)
    want = AI.knn_join_via_index(
        spark, spark.table("kj_left"), cat.get("kji")["path"], k=3,
        n_probe_bits=1, where="category = 2").orderBy("id_a", "rnk")
    assert _rows(got) == _rows(want) and _rows(got)
    assert all(r[1] % 5 == 2 for r in _rows(got))
    with pytest.raises(S.SqlError):
        S.execute(spark, "SELECT * FROM KNN_JOIN('kji', kj_left, "
                         "3, 1, 'bogus = 2')", cat)


def test_index_is_a_reserved_name_and_n_probe_guard(spark, embeddings,
                                                    cat):
    """r14 review findings: 'index' became a grammar word (DESCRIBE
    INDEX / RETRAIN INDEX), so it must be unregisterable as a table
    name — a table named index would be impossible to DESCRIBE; and
    an IVF query with n_probe < 1 must raise ValueError."""
    from rclip_server_spark.sources import ivfindex as II

    with pytest.raises(S.SqlError):
        S.execute(spark, "CREATE TABLE index (k INT)", cat)
    embeddings.select("vec_id", "embedding").limit(100) \
        .createOrReplaceTempView("np_seed")
    S.execute(spark, "CREATE TABLE npv OPTIONS (key='vec_id') AS "
                     "SELECT * FROM np_seed", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW npi USING ivf_index "
                     "OPTIONS (source='npv', key='vec_id', "
                     "n_cells=4, iters=1)", cat)
    with pytest.raises(ValueError):
        II.query_ivf_index(spark, cat.get("npi")["path"], QV, k=5,
                           n_probe=0)
