"""Maintained full-text (BM25) index view (sources/textindex.py +
CREATE MATERIALIZED VIEW ... USING text_index): postings parity with
direct tokenization, indexed-query parity with the batch BM25 scorer,
O(changed docs) incremental maintenance equal to a full rebuild, and
exact integer corpus stats across DML."""

import pytest
from pyspark.sql import functions as F

from rclip_server_spark import sql as S
from rclip_server_spark.operators import retrieval
from rclip_server_spark.sources import indexkind as IK
from rclip_server_spark.sources import textindex as TI
from conftest import spark_jobs


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def cat(tmp_path):
    return S.Catalog(str(tmp_path / "cat"))


@pytest.fixture()
def corpus(documents):
    return documents.select("doc_id", "text").where(
        F.col("doc_id") % 3 == 0)


def _mk_index(spark, corpus, cat, name="docs"):
    corpus.createOrReplaceTempView(f"seed_{name}")
    S.execute(spark, f"CREATE TABLE {name} OPTIONS (key='doc_id') AS "
                     f"SELECT * FROM seed_{name}", cat)
    S.execute(spark, f"CREATE MATERIALIZED VIEW {name}_idx USING "
                     f"text_index OPTIONS (source='{name}', "
                     f"key='doc_id')", cat)
    return cat.get(f"{name}_idx")["path"]


def test_postings_match_direct_tokenization(spark, corpus, cat):
    vp = _mk_index(spark, corpus, cat)
    got = TI.read_text_index(spark, vp)
    want = TI._postings(corpus, "doc_id", "text")
    assert _rows(got) == _rows(want)
    # SELECT through the frontend serves the postings
    n = S.execute(spark, "SELECT count(*) AS n FROM docs_idx",
                  cat).collect()[0]["n"]
    assert n == want.count()
    # spec stats are the exact corpus integers
    spec = IK.spec_of("text_index", vp)
    nd, tl = TI._corpus_stats(corpus, "text")
    assert (spec["ti_ndocs"], spec["ti_total_len"]) == (nd, tl)


def test_indexed_query_matches_batch_bm25(spark, corpus, cat):
    vp = _mk_index(spark, corpus, cat, "q")
    terms = ["vector", "join", "spark"]
    got = TI.query_text_index(spark, vp, terms, k=10) \
        .withColumn("bm25", F.round("bm25", 6))
    want = retrieval.bm25_topk(corpus, terms, k=10) \
        .withColumn("bm25", F.round("bm25", 6))
    assert _rows(got) == _rows(want)
    # string-query form tokenizes like the corpus does
    got2 = TI.query_text_index(spark, vp, "Vector JOIN spark", k=10) \
        .withColumn("bm25", F.round("bm25", 6))
    assert _rows(got2) == _rows(want)


def test_incremental_refresh_equals_rebuild(spark, corpus, cat,
                                            documents):
    vp = _mk_index(spark, corpus, cat, "inc")
    # churn the source: insert new docs, delete some, rewrite one
    documents.select("doc_id", "text").where(
        F.col("doc_id") % 3 == 1).limit(50) \
        .createOrReplaceTempView("inc_extra")
    S.execute(spark, "INSERT INTO inc SELECT * FROM inc_extra", cat)
    S.execute(spark, "DELETE FROM inc WHERE doc_id % 9 = 0", cat)
    S.execute(spark, "UPDATE inc SET text = 'spark spark rewrite' "
                     "WHERE doc_id % 7 = 0", cat)
    r = S.execute(spark, "REFRESH MATERIALIZED VIEW inc_idx", cat)
    assert r["status"] == "refreshed"
    # postings equal a from-scratch build over the CURRENT source
    current = S.execute(spark, "SELECT doc_id, text FROM inc", cat)
    assert _rows(TI.read_text_index(spark, vp)) == \
        _rows(TI._postings(current, "doc_id", "text"))
    # stats rolled forward EXACTLY (integers, no drift)
    spec = IK.spec_of("text_index", vp)
    nd, tl = TI._corpus_stats(current, "text")
    assert (spec["ti_ndocs"], spec["ti_total_len"]) == (nd, tl)
    # and the indexed query still matches the batch scorer
    terms = ["spark", "rewrite"]
    got = TI.query_text_index(spark, vp, terms, k=10) \
        .withColumn("bm25", F.round("bm25", 6))
    want = retrieval.bm25_topk(current, terms, k=10) \
        .withColumn("bm25", F.round("bm25", 6))
    assert _rows(got) == _rows(want)


def test_describe_and_guards(spark, corpus, cat):
    vp = _mk_index(spark, corpus, cat, "g")
    d = S.execute(spark, "DESCRIBE MATERIALIZED VIEW g_idx", cat)
    assert d["view_kind"] == "text_index" and d["fresh"] is True
    # DML against the view is refused (its state is the refresher's)
    with pytest.raises(S.SqlError):
        S.execute(spark, "DELETE FROM g_idx WHERE tf > 0", cat)
    with pytest.raises(S.SqlError):
        S.execute(spark, "CREATE MATERIALIZED VIEW x USING "
                         "text_index OPTIONS (key='doc_id')", cat)
    with pytest.raises(ValueError):
        TI.query_text_index(spark, vp, [])
    # unknown terms contribute nothing but don't error
    got = TI.query_text_index(spark, vp, ["zzzznotaterm"], k=5)
    assert got.count() == 0


def test_refresh_stream_maintains_index(spark, corpus, cat, tmp_path):
    """Continuous maintenance through the generic stream machinery:
    START REFRESH STREAM ON VIEW tails the source's manifest log and
    advances the postings per commit."""
    vp = _mk_index(spark, corpus, cat, "st")
    S.execute(spark, "START REFRESH STREAM ON VIEW st_idx", cat)
    try:
        q = S._STREAMS[S._stream_key(cat, "st_idx")]
        S.execute(spark, "DELETE FROM st WHERE doc_id % 6 = 0", cat)
        q.processAllAvailable()
        current = S.execute(spark, "SELECT doc_id, text FROM st", cat)
        assert _rows(TI.read_text_index(spark, vp)) == \
            _rows(TI._postings(current, "doc_id", "text"))
        d = S.execute(spark, "DESCRIBE MATERIALIZED VIEW st_idx", cat)
        assert d["fresh"] is True and d["refresh_stream"]["live"]
    finally:
        S.execute(spark, "STOP REFRESH STREAM ON VIEW st_idx", cat)


def _brute_phrase(corpus_df, phrase, k):
    """Driver-side oracle: tokenize and count adjacency chains."""
    terms = phrase.lower().split()
    m = len(terms)
    out = []
    for r in corpus_df.collect():
        toks = r["text"].lower().strip().split()
        c = sum(1 for i in range(max(len(toks) - m + 1, 0))
                if toks[i:i + m] == terms)
        if c > 0:
            out.append((r["doc_id"], c))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


def test_phrase_search_positional_index(spark, corpus, cat):
    """r12: positions=true stores token offsets in the postings;
    query_phrase_index counts exact adjacency chains from only the
    phrase terms' posting rows and matches a brute-force tokenization
    oracle — including after an O(changed docs) refresh."""
    corpus.createOrReplaceTempView("seed_ph")
    S.execute(spark, "CREATE TABLE ph OPTIONS (key='doc_id') AS "
                     "SELECT * FROM seed_ph", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW ph_idx USING "
                     "text_index OPTIONS (source='ph', key='doc_id', "
                     "positions=true)", cat)
    vp = cat.get("ph_idx")["path"]
    got = [(r["doc_id"], r["phrase_tf"]) for r in
           TI.query_phrase_index(spark, vp, "value table", k=8)
           .collect()]
    assert got == _brute_phrase(corpus, "value table", 8)
    assert got  # non-vacuous
    # single-term phrase degenerates to tf ranking
    got1 = [(r["doc_id"], r["phrase_tf"]) for r in
            TI.query_phrase_index(spark, vp, "table", k=5).collect()]
    assert got1 == _brute_phrase(corpus, "table", 5)
    # churn + refresh keeps positions exact
    S.execute(spark, "DELETE FROM ph WHERE doc_id % 2 = 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW ph_idx", cat)
    current = S.execute(spark, "SELECT doc_id, text FROM ph", cat)
    got2 = [(r["doc_id"], r["phrase_tf"]) for r in
            TI.query_phrase_index(spark, vp, "value table", k=8)
            .collect()]
    assert got2 == _brute_phrase(current, "value table", 8)
    # SQL surface + BM25 queries still work on a positional index
    sql_rows = [(r["doc_id"], r["phrase_tf"]) for r in
                S.execute(spark, "SELECT * FROM PHRASE_SEARCH("
                                 "'ph_idx', 'value table', 8)", cat)
                .collect()]
    assert sql_rows == got2
    assert TI.query_text_index(spark, vp, "value table", k=5).count() \
        == 5
    # guard: a positions-less index refuses phrase queries
    S.execute(spark, "CREATE MATERIALIZED VIEW ph_nopos USING "
                     "text_index OPTIONS (source='ph', "
                     "key='doc_id')", cat)
    with pytest.raises(ValueError):
        TI.query_phrase_index(spark, cat.get("ph_nopos")["path"],
                              "value table")
    with pytest.raises(S.SqlError):
        S.execute(spark, "SELECT * FROM PHRASE_SEARCH('ph_nopos', "
                         "'value table', 5)", cat)


def test_bucketed_at_rest_layout_prunes_files(spark, corpus, cat):
    """r13 (verdict task 1): OPTIMIZE tiidx BUCKET BY (term, N) lays
    the postings out by term hash bucket — a term query then names
    ONLY the query terms' physical buckets' segment files in the plan
    (file skipping, not just row-group pruning), while staying
    row-identical to the flat index and the batch BM25 scorer."""
    from rclip_server_spark.functions.xxh import buckets_of
    from rclip_server_spark.sources import versioned as V

    vp = _mk_index(spark, corpus, cat, "bk")
    terms = ["vector", "join", "spark"]
    flat = _rows(TI.query_text_index(spark, vp, terms, k=10)
                 .withColumn("bm25", F.round("bm25", 6)))
    r = S.execute(spark, "OPTIMIZE bk_idx BUCKET BY (term, 16)", cat)
    assert r["status"] == "optimized" and r["n_buckets"] == 16
    got_df = TI.query_text_index(spark, vp, terms, k=10)
    assert _rows(got_df.withColumn("bm25", F.round("bm25", 6))) == flat
    # batch-scorer parity too (the oracle the ti_ rows pin)
    want = retrieval.bm25_topk(
        S.execute(spark, "SELECT doc_id, text FROM bk", cat),
        terms, k=10)
    assert _rows(got_df.withColumn("bm25", F.round("bm25", 6))) == \
        _rows(want.withColumn("bm25", F.round("bm25", 6)))
    # PLAN ASSERTION: the scan's files live only in the query terms'
    # hash buckets' segment dirs — non-probed buckets are absent
    m = V._manifest(vp, V.current_version(vp))
    assert m.get("bucket_key") == "term" and m["n_buckets"] == 16
    phys = set(buckets_of(terms, 16))
    probed_segs = {s for b in phys
                   for s in m["buckets"].get(str(b), [])}
    other_segs = {s for b, ss in m["buckets"].items()
                  if int(b) not in phys for s in ss}
    touched = {f.split(vp + "/")[1].split("/")[0]
               for f in got_df.inputFiles()}
    assert touched <= probed_segs
    assert not (touched & other_segs)
    assert other_segs  # the assertion is vacuous if everything probed


def test_bucketed_text_refresh_stays_exact(spark, corpus, cat,
                                           documents):
    """Refreshes keep working on the bucketed layout (delete_and_append
    dispatches to the bucketed twin; the doc-key vector scopes
    conservatively across term buckets) and the indexed answer still
    equals the batch scorer over the post-DML source."""
    vp = _mk_index(spark, corpus, cat, "bkr")
    S.execute(spark, "OPTIMIZE bkr_idx BUCKET BY (term, 16)", cat)
    documents.select("doc_id", "text").where(
        F.col("doc_id") % 3 == 1).limit(40) \
        .createOrReplaceTempView("bkr_extra")
    S.execute(spark, "INSERT INTO bkr SELECT * FROM bkr_extra", cat)
    S.execute(spark, "DELETE FROM bkr WHERE doc_id % 9 = 0", cat)
    S.execute(spark, "UPDATE bkr SET text = 'spark bucket rewrite' "
                     "WHERE doc_id % 7 = 0", cat)
    r = S.execute(spark, "REFRESH MATERIALIZED VIEW bkr_idx", cat)
    assert r["status"] == "refreshed"
    current = S.execute(spark, "SELECT doc_id, text FROM bkr", cat)
    # full-state parity: postings equal a from-scratch rebuild
    assert _rows(TI.read_text_index(spark, vp)) == \
        _rows(TI._postings(current, "doc_id", "text"))
    spec = IK.spec_of("text_index", vp)
    nd, tl = TI._corpus_stats(current, "text")
    assert (spec["ti_ndocs"], spec["ti_total_len"]) == (nd, tl)
    terms = ["spark", "rewrite"]
    got = TI.query_text_index(spark, vp, terms, k=10) \
        .withColumn("bm25", F.round("bm25", 6))
    want = retrieval.bm25_topk(current, terms, k=10) \
        .withColumn("bm25", F.round("bm25", 6))
    assert _rows(got) == _rows(want)
    # OPTIMIZE (plain compaction) folds refresh accretion per bucket,
    # spec survives, answers unchanged
    S.execute(spark, "OPTIMIZE bkr_idx", cat)
    assert _rows(TI.query_text_index(spark, vp, terms, k=10)
                 .withColumn("bm25", F.round("bm25", 6))) == _rows(want)


def test_bucketed_phrase_plans_with_zero_spark_jobs(spark, corpus,
                                                    cat):
    """Phrase queries on a bucketed positional index build their
    ENTIRE plan with zero Spark jobs (driver-side term→bucket
    resolution + manifest-pinned scan schema) and still match the
    brute-force oracle. Created with OPTIONS (buckets=N) — the
    one-statement at-rest form."""
    corpus.createOrReplaceTempView("seed_zb")
    S.execute(spark, "CREATE TABLE zb OPTIONS (key='doc_id') AS "
                     "SELECT * FROM seed_zb", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW zb_idx USING "
                     "text_index OPTIONS (source='zb', key='doc_id', "
                     "positions=true, buckets=16)", cat)
    vp = cat.get("zb_idx")["path"]
    # churn so a pending delete vector sits on the read path
    S.execute(spark, "DELETE FROM zb WHERE doc_id % 2 = 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW zb_idx", cat)
    with spark_jobs(spark) as jobs:
        got_df = TI.query_phrase_index(spark, vp, "value table", k=8)
        # r13: the BM25 path is fully lazy too (the per-term df
        # aggregation broadcast-joins in-plan instead of collecting)
        bm_df = TI.query_text_index(spark, vp, "value table", k=5)
    assert jobs == [], f"text-index serving ran Spark jobs at " \
                       f"plan time: {jobs}"
    assert bm_df.count() == 5
    current = S.execute(spark, "SELECT doc_id, text FROM zb", cat)
    got = [(r["doc_id"], r["phrase_tf"]) for r in got_df.collect()]
    assert got == _brute_phrase(current, "value table", 8)
    assert got  # non-vacuous


def test_filtered_bm25_keeps_global_idf(spark, corpus, cat):
    """r14 filtered lexical search: the predicate selects WHICH docs
    are eligible, idf stays GLOBAL (search-engine semantics) — the
    filtered result must equal the unfiltered indexed scores
    post-filtered by the payload, never a rescore over the filtered
    sub-corpus."""
    corpus.select("doc_id", "text",
                  (F.col("doc_id") % 2).alias("lang")) \
        .createOrReplaceTempView("seed_fl")
    S.execute(spark, "CREATE TABLE fl OPTIONS (key='doc_id') AS "
                     "SELECT * FROM seed_fl", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW fl_idx USING "
                     "text_index OPTIONS (source='fl', key='doc_id', "
                     "include_cols='lang')", cat)
    vp = cat.get("fl_idx")["path"]
    terms = ["data", "spark", "vector"]
    got = TI.query_text_index(spark, vp, terms, k=10, where="lang = 0")
    # reference: UNFILTERED scores over the whole corpus, then filter
    # docs by the payload, then top-k — global idf by construction
    allscored = TI.query_text_index(spark, vp, terms, k=10 ** 6)
    want = (allscored.where(F.col("doc_id") % 2 == 0)
            .orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10))
    assert [(r[0], round(r[1], 9)) for r in got.collect()] == \
        [(r[0], round(r[1], 9)) for r in want.collect()]
    assert got.count() > 0
    # payload survives the O(changed docs) refresh
    S.execute(spark, "DELETE FROM fl WHERE doc_id % 9 = 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW fl_idx", cat)
    assert "lang" in TI.read_text_index(spark, vp).columns
    got2 = TI.query_text_index(spark, vp, terms, k=5, where="lang = 0")
    assert all(r[0] % 2 == 0 and r[0] % 9 != 0 for r in got2.collect())
    # batch twin matches the per-query loop under the shared filter
    qs = [(1, terms), (2, ["model", "data"])]
    batch = TI.query_text_index_batch(spark, vp, qs, k=5,
                                      where="lang = 0")
    brows = {(r[0], r[1], round(r[2], 9)) for r in batch.collect()}
    singles = set()
    for qid, q in qs:
        for r in TI.query_text_index(spark, vp, q, k=5,
                                     where="lang = 0").collect():
            singles.add((qid, r[0], round(r[1], 9)))
    assert brows == singles and brows
    with pytest.raises(ValueError):
        TI.query_text_index(spark, vp, terms, where="nope = 0")


def test_filtered_phrase_query(spark, corpus, cat):
    """Phrase matching has no global stats, so the payload filter
    applies pre-pivot (pushed into the term-pruned scan)."""
    corpus.select("doc_id", "text",
                  (F.col("doc_id") % 2).alias("lang")) \
        .createOrReplaceTempView("seed_fp")
    S.execute(spark, "CREATE TABLE fp OPTIONS (key='doc_id') AS "
                     "SELECT * FROM seed_fp", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW fp_idx USING "
                     "text_index OPTIONS (source='fp', key='doc_id', "
                     "positions=true, include_cols='lang')", cat)
    vp = cat.get("fp_idx")["path"]
    # find a phrase that exists: take two consecutive tokens of one doc
    row = corpus.select("text").first()
    toks = [t for t in row[0].lower().split() if t][:2]
    phrase = " ".join(toks)
    unf = TI.query_phrase_index(spark, vp, phrase, k=10 ** 6)
    want = (unf.where(F.col("doc_id") % 2 == 0)
            .orderBy(F.desc("phrase_tf"), F.asc("doc_id")).limit(10))
    got = TI.query_phrase_index(spark, vp, phrase, k=10,
                                where="lang = 0")
    assert _rows(got) == _rows(want)
