"""SQL frontend (rclip_server_spark/sql.py): every maintained-view
kind creatable/refreshable/queryable through statements alone, plus
the table DML surface (CREATE TABLE AS / INSERT / DELETE / VACUUM /
DROP / DESCRIBE / time travel). Parity oracle: the same computation
expressed directly on the final source state."""

import os

import pytest
from pyspark.sql import functions as F

from rclip_server_spark import sql as S
from rclip_server_spark.sources import versioned as V

from conftest import spark_jobs


def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: tuple((v is None, v) for v in t))


@pytest.fixture()
def cat(tmp_path):
    return S.Catalog(str(tmp_path / "cat"))


@pytest.fixture()
def base(spark, events, cat):
    """Versioned table `ev` (key declared) holding 2/3 of events."""
    ev = events.select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    path = cat.path_for("ev")
    V.create(spark, path, ev.where(F.col("event_id") % 3 != 2))
    cat.register("ev", path, meta={"key": "event_id"})
    return ev


def test_create_table_insert_delete_select(spark, events, cat):
    ev = events.select("event_id", "event_type").limit(0)
    ev.createOrReplaceTempView("seed_empty")
    S.execute(spark, "CREATE TABLE t OPTIONS (key='event_id') AS "
                     "SELECT * FROM seed_empty", cat)
    r = S.execute(spark, "INSERT INTO t VALUES (1, 'a'), (2, 'b'), "
                         "(3, 'a')", cat)
    assert r["status"] == "inserted"
    S.execute(spark, "DELETE FROM t WHERE event_type = 'b'", cat)
    got = S.execute(spark, "SELECT event_id, event_type FROM t "
                           "ORDER BY event_id", cat)
    assert _rows(got) == [(1, "a"), (3, "a")]
    # time travel reads the pre-delete version
    old = S.execute(spark, "SELECT count(*) AS n FROM t "
                           "VERSION AS OF 2", cat)
    assert old.collect()[0]["n"] == 3


def test_agg_mv_roundtrip_with_aliases(spark, events, cat, base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW by_type AS "
        "SELECT event_type, COUNT(*) AS n, SUM(cents) AS total, "
        "MIN(cents) AS lo FROM ev GROUP BY event_type"), cat)
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    V.delete_rows(spark, cat.get("ev")["path"],
                  base.where(F.col("event_id") % 11 == 0)
                  .select("event_id"), "event_id")
    S.execute(spark, "REFRESH MATERIALIZED VIEW by_type", cat)
    got = S.execute(spark, "SELECT event_type, n, total, lo "
                           "FROM by_type", cat)
    want = (base.where(F.col("event_id") % 11 != 0)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("cents").alias("total"),
                 F.min("cents").alias("lo")))
    assert _rows(got) == _rows(want)
    # nn_* maintenance columns and the unrequested max twin are hidden
    assert set(got.columns) == {"event_type", "n", "total", "lo"}


def test_transform_mv_and_cascade(spark, events, cat, base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW big AS "
        "SELECT event_id, event_type, cents * 2 AS cents2 "
        "FROM ev WHERE cents > 0"), cat)
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW big_by_type "
        "OPTIONS (key='event_id') AS "
        "SELECT event_type, COUNT(*) AS cnt, SUM(cents2) AS sum_cents2 "
        "FROM big GROUP BY event_type"), cat)
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    r = S.execute(spark, "REFRESH MATERIALIZED VIEW big_by_type CASCADE",
                  cat)
    assert len(r["refreshed_paths"]) == 2  # big first, then the agg
    got = S.execute(spark, "SELECT event_type, cnt, sum_cents2 "
                           "FROM big_by_type", cat)
    want = (base.where(F.col("cents") > 0).groupBy("event_type")
            .agg(F.count("*").alias("cnt"),
                 (F.sum(F.col("cents") * 2)).alias("sum_cents2")))
    assert _rows(got) == _rows(want)
    desc = S.execute(spark, "DESCRIBE CASCADE big_by_type", cat)
    assert [d["view_kind"] for d in desc] == ["transform", "agg"]
    assert all(s["lag"] == 0 for d in desc for s in d["sources"])


def test_topk_mv_qualify(spark, events, cat, base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW top3 AS "
        "SELECT event_type, event_id, cents FROM ev "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type "
        "ORDER BY cents DESC, event_id ASC) <= 3"), cat)
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    S.execute(spark, "REFRESH MATERIALIZED VIEW top3", cat)
    got = S.execute(spark, "SELECT event_type, event_id, cents, rnk "
                           "FROM top3", cat)
    from pyspark.sql import Window
    w = Window.partitionBy("event_type").orderBy(
        F.desc("cents"), F.asc("event_id"))
    want = (base.select("event_type", "event_id", "cents")
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= 3))
    assert _rows(got) == _rows(want)


def test_join_mv_inner_and_left(spark, events, cat, base):
    # dim table: per-user home nation-ish attribute
    users = (base.select("user_id").distinct()
             .withColumn("segment",
                         (F.col("user_id") % 5).cast("long")))
    users.createOrReplaceTempView("seed_users")
    S.execute(spark, "CREATE TABLE users OPTIONS (key='user_id') AS "
                     "SELECT * FROM seed_users", cat)
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW seg_stats "
        "OPTIONS (left_key='event_id', right_key='user_id') AS "
        "SELECT segment, COUNT(*) AS cnt, SUM(cents) AS sum_cents "
        "FROM ev JOIN users USING (user_id) GROUP BY segment"), cat)
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    S.execute(spark, "REFRESH MATERIALIZED VIEW seg_stats", cat)
    got = S.execute(spark, "SELECT segment, cnt, sum_cents "
                           "FROM seg_stats", cat)
    want = (base.join(users, "user_id")
            .groupBy("segment")
            .agg(F.count("*").alias("cnt"),
                 F.sum("cents").alias("sum_cents")))
    assert _rows(got) == _rows(want)
    # LEFT flavor over a right side missing some users
    half = users.where(F.col("user_id") % 2 == 0)
    half.createOrReplaceTempView("seed_half")
    S.execute(spark, "CREATE TABLE half_users OPTIONS (key='user_id') "
                     "AS SELECT * FROM seed_half", cat)
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW seg_left "
        "OPTIONS (left_key='event_id', right_key='user_id') AS "
        "SELECT segment, COUNT(*) AS cnt "
        "FROM ev LEFT JOIN half_users USING (user_id) "
        "GROUP BY segment"), cat)
    got = S.execute(spark, "SELECT segment, cnt FROM seg_left", cat)
    want = (base.join(half, "user_id", "left").groupBy("segment")
            .agg(F.count("*").alias("cnt")))
    assert _rows(got) == _rows(want)


def test_join_table_mv(spark, events, cat, base):
    users = (base.select("user_id").distinct()
             .withColumn("segment", (F.col("user_id") % 5).cast("long")))
    users.createOrReplaceTempView("seed_users2")
    S.execute(spark, "CREATE TABLE u2 OPTIONS (key='user_id') AS "
                     "SELECT * FROM seed_users2", cat)
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW wide "
        "OPTIONS (left_key='event_id', right_key='user_id') AS "
        "SELECT * FROM ev JOIN u2 USING (user_id)"), cat)
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    S.execute(spark, "REFRESH MATERIALIZED VIEW wide", cat)
    got = S.execute(spark, "SELECT event_id, user_id, segment "
                           "FROM wide", cat)
    want = base.join(users, "user_id").select(
        "event_id", "user_id", "segment")
    assert _rows(got) == _rows(want)
    assert "_pair_key" not in got.columns


def test_vacuum_show_drop_describe(spark, events, cat, base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW m OPTIONS (key='event_id') AS "
        "SELECT event_type, COUNT(*) AS cnt FROM ev "
        "GROUP BY event_type"), cat)
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    # vacuum is clamped to m's cursor: the refresh after it must work
    S.execute(spark, "VACUUM ev KEEP 1", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW m", cat)
    d = S.execute(spark, "DESCRIBE MATERIALIZED VIEW m", cat)
    assert d["view_kind"] == "agg" and d["sources"][0]["lag"] == 0
    hist = S.execute(spark, "DESCRIBE HISTORY ev", cat)
    assert [h["version"] for h in hist] == sorted(
        h["version"] for h in hist)
    names = {t["name"] for t in S.execute(spark, "SHOW TABLES", cat)}
    assert {"ev", "m"} <= names
    S.execute(spark, "DROP MATERIALIZED VIEW m", cat)
    assert not os.path.isdir(os.path.join(cat.root, "m"))
    with pytest.raises(Exception):  # SqlError or Spark's not-found
        S.execute(spark, "SELECT * FROM m", cat).collect()


def test_error_shapes(spark, events, cat, base):
    with pytest.raises(S.SqlError, match="WHERE on an aggregating"):
        S.execute(spark, "CREATE MATERIALIZED VIEW x AS "
                         "SELECT event_type, COUNT(*) AS c FROM ev "
                         "WHERE cents > 0 GROUP BY event_type", cat)
    with pytest.raises(S.SqlError, match="COUNT"):
        S.execute(spark, "CREATE MATERIALIZED VIEW x AS "
                         "SELECT event_type, SUM(cents) AS s FROM ev "
                         "GROUP BY event_type", cat)
    with pytest.raises(S.SqlError, match="unknown table"):
        S.execute(spark, "REFRESH MATERIALIZED VIEW nope", cat)
    cat.register("ev_nokey", cat.get("ev")["path"])  # no declared key
    with pytest.raises(S.SqlError, match="row-identity"):
        S.execute(spark, "CREATE MATERIALIZED VIEW x AS "
                         "SELECT event_id, cents FROM ev_nokey", cat)
    with pytest.raises(S.SqlError, match="USING"):
        S.execute(spark, "CREATE MATERIALIZED VIEW x "
                         "OPTIONS (left_key='a', right_key='b') AS "
                         "SELECT * FROM ev JOIN ev ON a = b", cat)


def test_catalog_persists_across_instances(spark, events, cat, base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW kept OPTIONS (key='event_id') AS "
        "SELECT event_id, cents + 1 AS c1 FROM ev"), cat)
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    cat2 = S.Catalog(cat.root)  # fresh instance, same JSON
    S.execute(spark, "REFRESH MATERIALIZED VIEW kept", cat2)
    n = S.execute(spark, "SELECT count(*) AS n FROM kept", cat2)
    assert n.collect()[0]["n"] == base.count()


def test_case_insensitive_resolution_and_collision(spark, events, cat,
                                                   base):
    # Spark resolves temp views case-insensitively; the catalog must too
    n1 = S.execute(spark, "SELECT count(*) AS n FROM ev", cat)
    n2 = S.execute(spark, "SELECT count(*) AS n FROM EV", cat)
    assert n1.collect()[0]["n"] == n2.collect()[0]["n"]
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    # an uppercase reference after a mutation must NOT serve the stale
    # lowercase temp view (the review's silent-staleness repro)
    n3 = S.execute(spark, "SELECT count(*) AS n FROM EV", cat)
    assert n3.collect()[0]["n"] == base.count()
    with pytest.raises(S.SqlError, match="collides"):
        cat.register("Ev", cat.get("ev")["path"])


def test_unrequested_minmax_twin_hidden_in_select_star(spark, events,
                                                       cat, base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW onlymin AS "
        "SELECT event_type, COUNT(*) AS cnt, MIN(cents) AS lo "
        "FROM ev GROUP BY event_type"), cat)
    got = S.execute(spark, "SELECT * FROM onlymin", cat)
    # max_cents is maintained state, not declared schema
    assert got.columns == ["event_type", "cnt", "lo"]


def test_full_spark_sql_surface_delegates(spark, events, cat, base):
    # double quotes, backticks and :: casts are Spark's to judge — the
    # DDL mini-tokenizer must not reject reads it can't lex
    out = S.execute(
        spark,
        'SELECT `event_type` AS t, "lit" AS s, event_id::string AS e '
        "FROM ev ORDER BY event_id LIMIT 1", cat)
    assert out.columns == ["t", "s", "e"]


def test_dml_against_materialized_view_rejected(spark, events, cat,
                                                base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW guard AS "
        "SELECT event_id, cents + 1 AS c1 FROM ev"), cat)
    with pytest.raises(S.SqlError, match="materialized view"):
        S.execute(spark, "INSERT INTO guard VALUES (1, 2)", cat)
    with pytest.raises(S.SqlError, match="materialized view"):
        S.execute(spark, "DELETE FROM guard WHERE c1 > 0", cat)


def test_near_dup_view_via_using_and_explain(spark, documents, cat):
    docs = documents.select("doc_id", "text")
    path = cat.path_for("docs")
    V.create(spark, path, docs.where(F.col("doc_id") % 3 != 2))
    cat.register("docs", path, meta={"key": "doc_id"})
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW pairs USING near_dup "
        "OPTIONS (source='docs', threshold=0.6)"), cat)
    V.append(spark, path, docs.where(F.col("doc_id") % 3 == 2))
    r = S.execute(spark, "REFRESH MATERIALIZED VIEW pairs", cat)
    assert r["status"] == "refreshed"
    got = S.execute(spark, "SELECT id_a, id_b, jaccard FROM pairs", cat)
    from rclip_server_spark.operators import dedup
    want = dedup.minhash_near_dup(docs, threshold=0.6)
    assert _rows(got) == _rows(want)
    assert "_nd_pair" not in got.columns
    d = S.execute(spark, "DESCRIBE MATERIALIZED VIEW pairs", cat)
    assert d["view_kind"] == "near_dup" and d["fresh"]
    plan = S.execute(spark, "EXPLAIN SELECT count(*) FROM pairs", cat)
    assert "Physical Plan" in plan["plan"]


def test_drop_near_dup_reaps_indexes_and_recreate(spark, documents,
                                                  cat):
    docs = documents.select("doc_id", "text")
    path = cat.path_for("d2")
    V.create(spark, path, docs.limit(100))
    cat.register("d2", path, meta={"key": "doc_id"})
    S.execute(spark, "CREATE MATERIALIZED VIEW p2 USING near_dup "
                     "OPTIONS (source='d2')", cat)
    S.execute(spark, "DROP MATERIALIZED VIEW p2", cat)
    for suffix in ("", "_grams", "_bands"):
        assert not os.path.isdir(cat.path_for("p2") + suffix)
    # a re-create at the same name must work cleanly
    S.execute(spark, "CREATE MATERIALIZED VIEW p2 USING near_dup "
                     "OPTIONS (source='d2')", cat)


def test_create_validates_name_before_materializing(spark, events,
                                                    cat, base):
    with pytest.raises(S.SqlError, match="already exists"):
        S.execute(spark, "CREATE TABLE EV AS SELECT 1 AS one", cat)
    # the failed CREATE must not leave a directory behind
    assert not os.path.isdir(cat.path_for("EV"))
    S.execute(spark, "DROP TABLE EV", cat)  # case-insensitive drop
    with pytest.raises(Exception):  # SqlError or Spark's not-found
        S.execute(spark, "SELECT count(*) FROM ev", cat).collect()
    # DELETE with no space after WHERE parses (regex header split)
    ev2 = events.select("event_id").limit(3)
    ev2.createOrReplaceTempView("seed3")
    S.execute(spark, "CREATE TABLE t3 OPTIONS (key='event_id') AS"
                     "(SELECT * FROM seed3)", cat)
    S.execute(spark, "DELETE FROM t3 WHERE(event_id >= 0)", cat)
    assert S.execute(spark, "SELECT count(*) AS n FROM t3",
                     cat).collect()[0]["n"] == 0


def test_string_literals_not_scanned_for_names(spark, events, cat,
                                               base, tmp_path):
    # a literal mentioning a catalog name must not trigger its read:
    # point the entry at a bogus path, reference it ONLY in a string
    cat.register("ghost", str(tmp_path / "nonexistent"))
    out = S.execute(spark, "SELECT 'ghost story' AS s", cat)
    assert out.collect()[0]["s"] == "ghost story"


def test_avg_in_mv_and_optimize(spark, events, cat, base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW avgs AS "
        "SELECT event_type, COUNT(*) AS cnt, AVG(cents) AS mean_cents "
        "FROM ev GROUP BY event_type"), cat)
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    V.delete_rows(spark, cat.get("ev")["path"],
                  base.where(F.col("event_id") % 11 == 0)
                  .select("event_id"), "event_id")
    S.execute(spark, "REFRESH MATERIALIZED VIEW avgs", cat)
    got = S.execute(spark, "SELECT * FROM avgs", cat)
    assert got.columns == ["event_type", "cnt", "mean_cents"]
    want = (base.where(F.col("event_id") % 11 != 0)
            .groupBy("event_type")
            .agg(F.count("*").alias("cnt"),
                 (F.sum("cents") / F.count("cents"))
                 .alias("mean_cents")))
    assert _rows(got) == _rows(want)
    # OPTIMIZE folds the table's accreted segments into one version
    r = S.execute(spark, "OPTIMIZE ev", cat)
    assert r["status"] == "optimized"
    from rclip_server_spark.sources import versioned as VV
    m = VV._manifest(cat.get("ev")["path"],
                     VV.current_version(cat.get("ev")["path"]))
    assert len(m["segments"]) == 1
    # the maintained view still refreshes across the compaction commit
    S.execute(spark, "REFRESH MATERIALIZED VIEW avgs", cat)
    assert _rows(S.execute(spark, "SELECT * FROM avgs", cat)) \
        == _rows(want)


def test_embed_near_dup_via_using(spark, embeddings, cat):
    emb = embeddings.select("vec_id", "embedding")
    path = cat.path_for("vecs")
    V.create(spark, path, emb.where(F.col("vec_id") % 2 == 0))
    cat.register("vecs", path, meta={"key": "vec_id"})
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW epairs USING embed_near_dup "
        "OPTIONS (source='vecs', threshold=0.4, dim=64)"), cat)
    V.append(spark, path, emb.where(F.col("vec_id") % 2 == 1))
    S.execute(spark, "REFRESH MATERIALIZED VIEW epairs", cat)
    got = S.execute(spark, "SELECT id_a, id_b, cosine FROM epairs", cat)
    from rclip_server_spark.operators import ann
    want = ann.hyperplane_lsh_near_dup_multiset(
        emb, threshold=0.4, n_planes=6, n_sets=3, dim=64)
    assert _rows(got) == _rows(want)
    S.execute(spark, "DROP MATERIALIZED VIEW epairs", cat)
    for suffix in ("", "_evecs", "_ebuckets"):
        assert not os.path.isdir(cat.path_for("epairs") + suffix)


def test_masked_text_guards_rewrite_and_scan(spark, events, cat, base,
                                             tmp_path):
    # VERSION AS OF inside a string literal must NOT pin or rewrite
    out = S.execute(spark, "SELECT 'ev version as of 1' AS s", cat)
    assert out.collect()[0]["s"] == "ev version as of 1"
    # block comments are masked like line comments
    cat.register("ghost2", str(tmp_path / "nope"))
    assert S.execute(spark, "SELECT 1 AS x /* ghost2 */",
                     cat).collect()[0]["x"] == 1
    # a backslash-escaped quote must not desync the mask: the table
    # referenced AFTER the literal still resolves
    n = S.execute(spark,
                  "SELECT count(*) AS n FROM ev WHERE event_type <> "
                  "'x\\'y'", cat)
    assert n.collect()[0]["n"] > 0
    # real time travel still works after the mask refactor
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    v1 = S.execute(spark, "SELECT count(*) AS n FROM ev "
                          "VERSION AS OF 1", cat).collect()[0]["n"]
    v2 = S.execute(spark, "SELECT count(*) AS n FROM ev",
                   cat).collect()[0]["n"]
    assert v1 < v2
    with pytest.raises(S.SqlError, match="trailing"):
        S.execute(spark, "OPTIMIZE ev ZORDER BY (event_id, cents) "
                         "KEEP 5", cat)


def _cat_hammer(root, worker_id, n, q):
    # module-level: spawn pickles the target by qualified name
    try:
        c = S.Catalog(root)
        for i in range(n):
            c.register(f"t_{worker_id}_{i}", f"/tmp/x/{worker_id}/{i}")
        q.put(("ok", worker_id))
    except Exception as e:
        q.put(("err", f"{type(e).__name__}: {e}"))


def test_catalog_mutations_are_cross_process_safe(tmp_path):
    """4 processes register disjoint names through one catalog file:
    the link-arbitrated mutation lock means no entry is lost to a
    concurrent read-modify-write (pure driver-side — no Spark)."""
    import multiprocessing as mp

    root = str(tmp_path / "shared_cat")
    S.Catalog(root)  # create the file

    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    procs = [ctx.Process(target=_cat_hammer, args=(root, w, 25, q))
             for w in range(4)]
    for p in procs:
        p.start()
    results = [q.get(timeout=60) for _ in range(4)]
    for p in procs:
        p.join(timeout=60)
    assert all(r[0] == "ok" for r in results), results
    final = S.Catalog(root)
    assert len(final.names()) == 100  # no lost updates


def test_strip_statement_comment_and_semicolon_shapes():
    s = S._strip_statement
    assert s("DROP TABLE t; -- cleanup") == "DROP TABLE t"
    assert s("-- header\nSELECT 1;\n-- footer") == "SELECT 1"
    assert s("SELECT 1 /* note */ ; ; -- done") == "SELECT 1"
    assert s("\n-- only a comment\n") == ""
    assert s(" /* note */ ") == ""
    # literals survive: the trailing ';' is INSIDE the string
    assert s("SELECT 'a;'") == "SELECT 'a;'"
    assert s("SELECT 'tail lit'; -- c") == "SELECT 'tail lit'"


def test_register_rejects_exact_duplicate(tmp_path):
    c = S.Catalog(str(tmp_path / "dupcat"))
    c.register("t1", str(tmp_path / "d1"))
    with pytest.raises(S.SqlError, match="already exists"):
        c.register("t1", str(tmp_path / "d2"))
    # the original entry survived un-overwritten
    assert c.get("t1")["path"] == str(tmp_path / "d1")


def test_load_resets_when_catalog_file_deleted(tmp_path):
    root = str(tmp_path / "rstcat")
    c = S.Catalog(root)
    c.register("old1", str(tmp_path / "o1"))
    c.register("old2", str(tmp_path / "o2"))
    os.remove(os.path.join(root, "_catalog.json"))  # operator reset
    c.register("fresh", str(tmp_path / "f"))
    # the mutation's rebase must not resurrect the deleted entries
    assert S.Catalog(root).names() == ["fresh"]


def test_stale_lock_from_dead_pid_is_reaped(tmp_path):
    import multiprocessing as mp

    c = S.Catalog(str(tmp_path / "lkcat"))
    p = mp.get_context("spawn").Process(target=int)
    p.start()
    p.join()  # pid now guaranteed dead
    with open(c._lock, "w") as f:
        f.write(str(p.pid))
    t0 = __import__("time").monotonic()
    c.register("t1", str(tmp_path / "d1"))  # must not spin 30s
    assert __import__("time").monotonic() - t0 < 5.0
    assert c.get("t1")["path"] == str(tmp_path / "d1")


def test_update_statement_roundtrip(spark, events, cat, base):
    # RHS sees the OLD row; untouched rows and columns unchanged
    before = {r["event_id"]: r["cents"]
              for r in S.execute(spark, "SELECT event_id, cents "
                                        "FROM ev", cat).collect()}
    out = S.execute(spark, "UPDATE ev SET cents = cents * 2 + 1 "
                           "WHERE event_id % 5 = 0", cat)
    assert out["status"] == "updated"
    after = {r["event_id"]: r["cents"]
             for r in S.execute(spark, "SELECT event_id, cents "
                                       "FROM ev", cat).collect()}
    assert set(after) == set(before)  # no rows created or destroyed
    for eid, c in before.items():
        want = c * 2 + 1 if eid % 5 == 0 else c
        assert after[eid] == want, eid
    # multiple assignments in one statement (comma inside a function
    # call): BOTH RHSs see the OLD row — cents references event_type's
    # pre-update length, event_type references the pre-update cents
    old = {r["event_id"]: (r["event_type"], r["cents"])
           for r in S.execute(spark, "SELECT event_id, event_type, "
                                     "cents FROM ev", cat).collect()}
    S.execute(spark, "UPDATE ev SET "
                     "event_type = concat(event_type, '_', cents), "
                     "cents = greatest(cents, length(event_type)) "
                     "WHERE event_id % 7 = 1", cat)
    new = {r["event_id"]: (r["event_type"], r["cents"])
           for r in S.execute(spark, "SELECT event_id, event_type, "
                                     "cents FROM ev", cat).collect()}
    assert set(new) == set(old)
    hit = [eid for eid in old if eid % 7 == 1]
    assert hit  # predicate must actually match rows
    for eid, (et, c) in old.items():
        want = ((f"{et}_{c}", max(c, len(et)))
                if eid % 7 == 1 else (et, c))
        assert new[eid] == want, eid


def test_update_error_shapes(spark, events, cat, base):
    with pytest.raises(S.SqlError, match="row-identity"):
        S.execute(spark, "UPDATE ev SET event_id = 1 WHERE true", cat)
    with pytest.raises(S.SqlError, match="no column"):
        S.execute(spark, "UPDATE ev SET nope = 1 WHERE true", cat)
    with pytest.raises(S.SqlError, match="assigned twice"):
        S.execute(spark, "UPDATE ev SET cents = 1, cents = 2 "
                         "WHERE true", cat)
    with pytest.raises(S.SqlError, match="WHERE"):
        S.execute(spark, "UPDATE ev SET cents = 1", cat)
    # no-key table
    ev = events.select("event_id").limit(1)
    ev.createOrReplaceTempView("seed_nk")
    S.execute(spark, "CREATE TABLE nk AS SELECT * FROM seed_nk", cat)
    with pytest.raises(S.SqlError, match="key"):
        S.execute(spark, "UPDATE nk SET event_id = 0 WHERE true", cat)
    # MV targets rejected like INSERT/DELETE
    S.execute(spark, "CREATE MATERIALIZED VIEW uvm AS SELECT "
                     "event_type, COUNT(*) AS cnt FROM ev "
                     "GROUP BY event_type", cat)
    with pytest.raises(S.SqlError, match="base table"):
        S.execute(spark, "UPDATE uvm SET cnt = 0 WHERE true", cat)


def test_merge_statement_upsert(spark, events, cat, base):
    # source: half updated images of existing rows + brand-new rows
    src = base.where(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "event_type",
        (F.col("cents") * 10).alias("cents"))
    src.createOrReplaceTempView("merge_src")
    out = S.execute(spark, "MERGE INTO ev USING merge_src "
                           "ON ev.event_id = merge_src.event_id "
                           "WHEN MATCHED THEN UPDATE SET * "
                           "WHEN NOT MATCHED THEN INSERT *", cat)
    assert out["status"] == "merged"
    got = {r["event_id"]: r["cents"]
           for r in S.execute(spark, "SELECT event_id, cents FROM ev",
                              cat).collect()}
    want = {r["event_id"]: r["cents"] for r in base.collect()
            if r["event_id"] % 3 != 2}          # table had 2/3 of events
    for r in src.collect():                      # source wins, inserts land
        want[r["event_id"]] = r["cents"]
    assert got == want


def test_merge_matched_only_and_insert_only(spark, events, cat, base):
    n0 = S.execute(spark, "SELECT count(*) AS n FROM ev",
                   cat).collect()[0]["n"]
    # matched-only: rows absent from the table must NOT be inserted
    src = base.select("event_id", "user_id", "event_type",
                      F.lit(7).cast("long").alias("cents"))
    src.createOrReplaceTempView("m_src")
    S.execute(spark, "MERGE INTO ev USING m_src ON ev.event_id = "
                     "m_src.event_id WHEN MATCHED THEN UPDATE SET *",
              cat)
    rows = S.execute(spark, "SELECT count(*) AS n, min(cents) AS lo, "
                            "max(cents) AS hi FROM ev", cat).collect()[0]
    assert rows["n"] == n0 and rows["lo"] == 7 and rows["hi"] == 7
    # insert-only: existing rows must NOT be touched
    src2 = base.select("event_id", "user_id", "event_type",
                       F.lit(99).cast("long").alias("cents"))
    src2.createOrReplaceTempView("i_src")
    S.execute(spark, "MERGE INTO ev USING i_src ON ev.event_id = "
                     "i_src.event_id WHEN NOT MATCHED THEN INSERT *",
              cat)
    rows = S.execute(spark, "SELECT count(*) AS n, max(cents) AS hi "
                            "FROM ev", cat).collect()[0]
    n_all = base.count()
    assert rows["n"] == n_all            # the missing 1/3 landed
    assert rows["hi"] == 99              # only on the new rows
    n7 = S.execute(spark, "SELECT count(*) AS n FROM ev WHERE "
                          "cents = 7", cat).collect()[0]["n"]
    assert n7 == n0                      # existing rows untouched


def test_merge_job_census_counts_pool_threads(spark, cat, base,
                                              monkeypatch):
    """A MERGE runs its dup-key guard and its delete-vector / segment
    writes on driver pool threads. Those threads inherit the caller's
    local properties, so a job-group census of the statement counts
    their jobs: the guard runs inside the census's group, and no job of
    the statement escapes the census as an ungrouped job."""
    from rclip_server_spark.sql import _dml

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    guard_groups = []
    guard = _dml._merge_dup_key_check

    def traced_guard(*args):
        guard_groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        return guard(*args)

    monkeypatch.setattr(_dml, "_merge_dup_key_check", traced_guard)
    base.where(F.col("event_id") % 3 == 0).select(
        "event_id", "user_id", "event_type",
        (F.col("cents") + 1).alias("cents"),
    ).createOrReplaceTempView("census_src")
    on = "MERGE INTO ev USING census_src ON ev.event_id = census_src.event_id"
    groups = []
    # the conditional form takes the general path (guard on its own
    # thread); the full upsert is the benchmarked delete-and-append path
    for clauses in ("WHEN MATCHED AND census_src.cents > 0 THEN "
                    "UPDATE SET cents = census_src.cents",
                    "WHEN MATCHED THEN UPDATE SET * "
                    "WHEN NOT MATCHED THEN INSERT *"):
        bus.waitUntilEmpty()
        ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
        with spark_jobs(spark) as jobs:
            groups.append(sc.getLocalProperty("spark.jobGroup.id"))
            assert S.execute(spark, f"{on} {clauses}",
                             cat)["status"] == "merged"
        assert len(jobs) > 0
        assert set(sc.statusTracker().getJobIdsForGroup(None)) \
            <= ungrouped
    assert guard_groups[:1] == groups[:1]


def test_merge_error_shapes(spark, events, cat, base):
    dup = base.limit(1).unionAll(base.limit(1)).select(
        "event_id", "user_id", "event_type", "cents")
    dup.createOrReplaceTempView("dup_src")
    with pytest.raises(S.SqlError, match="duplicate"):
        S.execute(spark, "MERGE INTO ev USING dup_src ON "
                         "ev.event_id = dup_src.event_id "
                         "WHEN MATCHED THEN UPDATE SET *", cat)
    bad = base.select("event_id", "cents")
    bad.createOrReplaceTempView("bad_src")
    with pytest.raises(S.SqlError, match="column sets"):
        S.execute(spark, "MERGE INTO ev USING bad_src ON "
                         "ev.event_id = bad_src.event_id "
                         "WHEN MATCHED THEN UPDATE SET *", cat)
    with pytest.raises(S.SqlError, match="same-named"):
        S.execute(spark, "MERGE INTO ev USING bad_src ON "
                         "ev.event_id = bad_src.cents "
                         "WHEN MATCHED THEN UPDATE SET *", cat)
    with pytest.raises(S.SqlError, match="WHEN"):
        S.execute(spark, "MERGE INTO ev USING bad_src ON "
                         "ev.event_id = bad_src.event_id", cat)


def test_merge_full_upsert_dup_keys_abort_without_commit(
        spark, events, cat, base):
    """The FULL-upsert form validates duplicate source keys via footer
    arithmetic over the files it writes (precommit hook), not a
    separate agg job — a duplicate must still raise the same error AND
    leave no new committed version or stray staged segments."""
    path = cat.path_for("ev")
    v0 = V.current_version(path)
    n0 = V.read(spark, path).count()
    dup = base.limit(1).unionAll(base.limit(1)).select(
        "event_id", "user_id", "event_type", "cents")
    dup.createOrReplaceTempView("dup_full_src")
    with pytest.raises(S.SqlError, match="duplicate"):
        S.execute(spark, "MERGE INTO ev USING dup_full_src ON "
                         "ev.event_id = dup_full_src.event_id "
                         "WHEN MATCHED THEN UPDATE SET * "
                         "WHEN NOT MATCHED THEN INSERT *", cat)
    assert V.current_version(path) == v0          # nothing committed
    assert V.read(spark, path).count() == n0      # table untouched
    stray = [d for d in os.listdir(path)
             if d.startswith(("seg-", "del-"))]
    live = set(V._manifest(path, v0)["segments"])
    assert all(d in live for d in stray if d.startswith("seg-"))
    assert not [d for d in stray if d.startswith("del-")]
    # NULL-keyed rows stay legal through the footer path too: one NULL
    # key + one fresh key commit as inserts (NULL never matches)
    src = base.limit(1).select(
        F.lit(None).cast("long").alias("event_id"), "user_id",
        "event_type", F.lit(5).cast("long").alias("cents")).unionAll(
        base.limit(1).select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            "user_id", "event_type",
            F.lit(6).cast("long").alias("cents")))
    src.createOrReplaceTempView("nullk_full_src")
    S.execute(spark, "MERGE INTO ev USING nullk_full_src ON "
                     "ev.event_id = nullk_full_src.event_id "
                     "WHEN MATCHED THEN UPDATE SET * "
                     "WHEN NOT MATCHED THEN INSERT *", cat)
    assert V.read(spark, path).count() == n0 + 2


def test_merge_on_non_key_column_rejected(spark, events, cat, base):
    one = base.limit(1).select("event_id", "user_id", "event_type",
                               "cents")
    one.createOrReplaceTempView("one_src")
    # merging on a non-unique column would collapse matched rows and
    # poison the delete-vector key — rejected up front
    with pytest.raises(S.SqlError, match="row-identity"):
        S.execute(spark, "MERGE INTO ev USING one_src ON "
                         "ev.event_type = one_src.event_type "
                         "WHEN MATCHED THEN UPDATE SET *", cat)


def test_merge_null_keyed_source_row_inserts(spark, events, cat, base):
    n0 = S.execute(spark, "SELECT count(*) AS n FROM ev",
                   cat).collect()[0]["n"]
    src = base.limit(2).select(
        F.lit(None).cast("long").alias("event_id"), "user_id",
        "event_type", F.lit(5).cast("long").alias("cents")).limit(1) \
        .unionAll(base.limit(1).select(
            "event_id", "user_id", "event_type",
            F.lit(42).cast("long").alias("cents")))
    src.createOrReplaceTempView("null_src")
    # a single NULL key is NOT a duplicate; it never matches → insert
    S.execute(spark, "MERGE INTO ev USING null_src ON "
                     "ev.event_id = null_src.event_id "
                     "WHEN MATCHED THEN UPDATE SET * "
                     "WHEN NOT MATCHED THEN INSERT *", cat)
    rows = S.execute(spark, "SELECT count(*) AS n FROM ev",
                    cat).collect()[0]["n"]
    assert rows == n0 + 1  # the NULL-keyed row landed, matched row updated
    got = S.execute(spark, "SELECT cents FROM ev WHERE event_id IS "
                           "NULL", cat).collect()
    assert [r["cents"] for r in got] == [5]


def test_merge_subquery_with_case_when_and_join_on(spark, events, cat,
                                                   base):
    base.createOrReplaceTempView("raw_ev")
    # inner CASE WHEN and JOIN ... ON must not split the MERGE header
    out = S.execute(spark, (
        "MERGE INTO ev USING "
        "(SELECT a.event_id, a.user_id, "
        " CASE WHEN a.cents > 0 THEN 'pos' ELSE 'neg' END AS "
        " event_type, a.cents FROM raw_ev a JOIN raw_ev b "
        " ON a.event_id = b.event_id WHERE a.event_id % 9 = 0) "
        "ON ev.event_id = event_id "
        "WHEN MATCHED THEN UPDATE SET *"), cat)
    assert out["status"] == "merged"
    got = S.execute(spark, "SELECT count(*) AS n FROM ev WHERE "
                           "event_type IN ('pos', 'neg')",
                    cat).collect()[0]["n"]
    want = base.where((F.col("event_id") % 9 == 0)
                      & (F.col("event_id") % 3 != 2)).count()
    assert got == want and want > 0


def test_count_distinct_mv_roundtrip(spark, events, cat, base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW du AS "
        "SELECT event_type, COUNT(*) AS n_events, "
        "COUNT(DISTINCT user_id) AS n_users "
        "FROM ev GROUP BY event_type"), cat)
    got = S.execute(spark, "SELECT event_type, n_events, n_users "
                           "FROM du", cat)
    live = base.where(F.col("event_id") % 3 != 2)
    want = live.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"))
    assert sorted((r["event_type"], r["n_events"], r["n_users"])
                  for r in got.collect()) == \
           sorted((r["event_type"], r["n_events"], r["n_users"])
                  for r in want.collect())
    # advance: appends add new users, a delete retracts — a user whose
    # last event goes must leave the distinct count
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    V.delete_rows(spark, cat.get("ev")["path"],
                  base.where(F.col("user_id") % 4 == 1)
                  .select("event_id"), "event_id")
    r = S.execute(spark, "REFRESH MATERIALIZED VIEW du", cat)
    assert r["status"] == "refreshed"
    # hidden indicator transform + hidden pairs level + top
    assert len(r["refreshed_paths"]) == 3
    got = S.execute(spark, "SELECT event_type, n_events, n_users "
                           "FROM du", cat)
    live = base.where(F.col("user_id") % 4 != 1)
    want = live.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"))
    assert sorted(tuple(r) for r in got.collect()) == \
           sorted(tuple(r) for r in want.collect())
    # the hidden level is invisible to SHOW TABLES but DESCRIBE
    # CASCADE surfaces the chain
    assert all("__pairs" not in n for n in cat.names())
    desc = S.execute(spark, "DESCRIBE CASCADE du", cat)
    assert [d["view_kind"] for d in desc] == ["transform", "agg", "agg"]
    # DROP reaps the hidden level's directory too
    p1 = cat.get("du")["meta"]["stack"][0]
    assert os.path.isdir(p1)
    S.execute(spark, "DROP MATERIALIZED VIEW du", cat)
    assert not os.path.isdir(p1)


def test_count_distinct_mv_vacuum_safety_and_errors(spark, events, cat,
                                                    base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW dv AS "
        "SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT cents) AS d "
        "FROM ev GROUP BY event_type"), cat)
    # many source commits, then VACUUM ev: the hidden level's cursor
    # must clamp the reap (the graph walker finds it via the top view)
    for i in range(3):
        V.append(spark, cat.get("ev")["path"],
                 base.where(F.col("event_id") % 3 == 2).limit(10 + i))
    S.execute(spark, "VACUUM ev", cat)
    r = S.execute(spark, "REFRESH MATERIALIZED VIEW dv", cat)
    assert r["status"] == "refreshed"
    got = S.execute(spark, "SELECT d FROM dv WHERE event_type = "
                           "(SELECT min(event_type) FROM ev)", cat)
    assert got.collect()[0]["d"] > 0
    with pytest.raises(S.SqlError, match="one COUNT"):
        S.execute(spark, "CREATE MATERIALIZED VIEW dd AS "
                         "SELECT event_type, COUNT(*) AS n, "
                         "COUNT(DISTINCT cents) AS a, "
                         "COUNT(DISTINCT user_id) AS b "
                         "FROM ev GROUP BY event_type", cat)
    with pytest.raises(S.SqlError, match="composes with"):
        S.execute(spark, "CREATE MATERIALIZED VIEW dd AS "
                         "SELECT event_type, COUNT(*) AS n, "
                         "SUM(cents) AS s, "
                         "COUNT(DISTINCT user_id) AS b "
                         "FROM ev GROUP BY event_type", cat)


def test_count_distinct_null_semantics(spark, events, cat):
    # SQL COUNT(DISTINCT x) ignores NULL — the maintained view must
    # not count the live (group, NULL) pair
    rows = [(1, "a", 7), (2, "a", None), (3, "a", None), (4, "b", None)]
    df = spark.createDataFrame(rows, "event_id long, grp string, "
                                     "uid long")
    df.createOrReplaceTempView("null_seed")
    S.execute(spark, "CREATE TABLE nt OPTIONS (key='event_id') AS "
                     "SELECT * FROM null_seed", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW nv AS "
                     "SELECT grp, COUNT(*) AS n, "
                     "COUNT(DISTINCT uid) AS d FROM nt GROUP BY grp",
              cat)
    got = {r["grp"]: (r["n"], r["d"]) for r in
           S.execute(spark, "SELECT grp, n, d FROM nv", cat).collect()}
    # COUNT(*) includes NULL-uid rows; COUNT(DISTINCT uid) excludes
    assert got == {"a": (3, 1), "b": (1, 0)}
    # the last non-null uid leaving retracts the distinct count to 0
    S.execute(spark, "DELETE FROM nt WHERE event_id = 1", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW nv", cat)
    got = {r["grp"]: (r["n"], r["d"]) for r in
           S.execute(spark, "SELECT grp, n, d FROM nv", cat).collect()}
    assert got == {"a": (2, 0), "b": (1, 0)}


def test_count_distinct_over_group_col_and_orphan_cleanup(spark,
                                                          events, cat,
                                                          base):
    with pytest.raises(S.SqlError, match="constant 1"):
        S.execute(spark, "CREATE MATERIALIZED VIEW gg AS "
                         "SELECT event_type, COUNT(*) AS n, "
                         "COUNT(DISTINCT event_type) AS d "
                         "FROM ev GROUP BY event_type", cat)
    # a mid-chain failure must not strand directories that block the
    # next CREATE of the same name: nonexistent distinct column fails
    # inside the chain build, then the corrected CREATE succeeds
    with pytest.raises(Exception):
        S.execute(spark, "CREATE MATERIALIZED VIEW oc AS "
                         "SELECT event_type, COUNT(*) AS n, "
                         "COUNT(DISTINCT no_such_col) AS d "
                         "FROM ev GROUP BY event_type", cat)
    out = S.execute(spark, "CREATE MATERIALIZED VIEW oc AS "
                           "SELECT event_type, COUNT(*) AS n, "
                           "COUNT(DISTINCT user_id) AS d "
                           "FROM ev GROUP BY event_type", cat)
    assert out["status"] == "created"


def test_count_distinct_plain_refresh_spares_upstream_views(spark,
                                                            events,
                                                            cat, base):
    # user-registered transform view UNDER the distinct chain: plain
    # REFRESH of the distinct view must not silently advance it
    S.execute(spark, "CREATE MATERIALIZED VIEW tvu AS "
                     "SELECT event_id, user_id, event_type FROM ev "
                     "WHERE cents >= 0", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW duv "
                     "OPTIONS (key='event_id') AS "
                     "SELECT event_type, COUNT(*) AS n, "
                     "COUNT(DISTINCT user_id) AS d "
                     "FROM tvu GROUP BY event_type", cat)
    n_tv0 = S.execute(spark, "SELECT count(*) AS n FROM tvu",
                      cat).collect()[0]["n"]
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    r = S.execute(spark, "REFRESH MATERIALIZED VIEW duv", cat)
    assert cat.get("tvu")["path"] not in r["refreshed_paths"]
    n_tv1 = S.execute(spark, "SELECT count(*) AS n FROM tvu",
                      cat).collect()[0]["n"]
    assert n_tv1 == n_tv0  # tvu NOT advanced by the plain refresh
    # CASCADE does advance the whole chain including tvu
    r = S.execute(spark, "REFRESH MATERIALIZED VIEW duv CASCADE", cat)
    assert cat.get("tvu")["path"] in r["refreshed_paths"]
    n_tv2 = S.execute(spark, "SELECT count(*) AS n FROM tvu",
                      cat).collect()[0]["n"]
    assert n_tv2 > n_tv1


def test_restore_table_statement(spark, events, cat, base):
    # bad migration: zero out every cents value
    v_good = V.current_version(cat.get("ev")["path"])
    S.execute(spark, "UPDATE ev SET cents = 0 WHERE true", cat)
    assert S.execute(spark, "SELECT max(cents) AS m FROM ev",
                     cat).collect()[0]["m"] == 0
    r = S.execute(spark, f"RESTORE TABLE ev TO VERSION AS OF {v_good}",
                  cat)
    assert r["status"] == "restored"
    # content is back, and the bad version stays readable for audit
    good = {(x["event_id"], x["cents"]) for x in base.where(
        F.col("event_id") % 3 != 2).select("event_id",
                                           "cents").collect()}
    got = {(x["event_id"], x["cents"]) for x in S.execute(
        spark, "SELECT event_id, cents FROM ev", cat).collect()}
    assert got == good
    bad_max = S.execute(
        spark, f"SELECT max(cents) AS m FROM ev VERSION AS OF "
               f"{v_good + 1}", cat).collect()[0]["m"]
    assert bad_max == 0
    # post-restore DML lands on the restored content
    S.execute(spark, "DELETE FROM ev WHERE event_id % 5 = 0", cat)
    n = S.execute(spark, "SELECT count(*) AS n FROM ev",
                  cat).collect()[0]["n"]
    assert n == len({k for k, _ in good if k % 5 != 0})
    with pytest.raises(S.SqlError, match="outside"):
        S.execute(spark, "RESTORE TABLE ev TO VERSION AS OF 999", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW rmv AS SELECT "
                     "event_type, COUNT(*) AS n FROM ev "
                     "GROUP BY event_type", cat)
    with pytest.raises(S.SqlError, match="base table"):
        S.execute(spark, "RESTORE TABLE rmv TO VERSION AS OF 1", cat)


def test_strand_proof_reaps_only_its_own_dirs(tmp_path):
    c = S.Catalog(str(tmp_path / "spc"))
    pre = tmp_path / "pre"
    pre.mkdir()
    with pytest.raises(S.SqlError, match="already exist"):
        S._strand_proof(c, [str(pre)], lambda: None)
    assert pre.exists()  # pre-existing data untouched
    target = tmp_path / "t"

    def boom():
        os.makedirs(str(target))
        raise RuntimeError("mid-create failure")

    with pytest.raises(RuntimeError):
        S._strand_proof(c, [str(target)], boom)
    assert not target.exists()  # own work reaped
    # a KeyboardInterrupt mid-create must ALSO reap (BaseException)
    target2 = tmp_path / "t2"

    def interrupted():
        os.makedirs(str(target2))
        raise KeyboardInterrupt()

    with pytest.raises(KeyboardInterrupt):
        S._strand_proof(c, [str(target2)], interrupted)
    assert not target2.exists()
    # cross-process race shape: between the pre-check and the reap,
    # ANOTHER process creates + registers the same path — the loser's
    # reap must skip the now-registered winner's data
    winner = tmp_path / "race"

    def lose_race():
        winner.mkdir()
        (winner / "data").write_text("winner segment")
        S.Catalog(str(tmp_path / "spc")).register("race", str(winner))
        raise RuntimeError("loser fails after winner registered")

    with pytest.raises(RuntimeError):
        S._strand_proof(c, [str(winner)], lose_race)
    assert (winner / "data").read_text() == "winner segment"


def test_distinct_chain_never_reaps_foreign_sibling(spark, events, cat,
                                                    base):
    # a user object whose name happens to equal the chain's internal
    # suffix: the distinct CREATE must refuse, not destroy it
    S.execute(spark, "CREATE MATERIALIZED VIEW du__nn AS "
                     "SELECT event_id, cents FROM ev WHERE cents >= 0",
              cat)
    n0 = S.execute(spark, "SELECT count(*) AS n FROM du__nn",
                   cat).collect()[0]["n"]
    with pytest.raises(S.SqlError, match="already exist"):
        S.execute(spark, "CREATE MATERIALIZED VIEW du AS "
                         "SELECT event_type, COUNT(*) AS n, "
                         "COUNT(DISTINCT user_id) AS d "
                         "FROM ev GROUP BY event_type", cat)
    # the sibling survives, data intact, still refreshable
    n1 = S.execute(spark, "SELECT count(*) AS n FROM du__nn",
                   cat).collect()[0]["n"]
    assert n1 == n0
    S.execute(spark, "REFRESH MATERIALIZED VIEW du__nn", cat)


def test_legacy_identifiers_parse_but_new_names_rejected(spark, events,
                                                         cat, base):
    # statement grammar words are NOT parser-reserved: stored SQL may
    # alias a column 'set' and it must keep parsing (a REFRESH
    # re-parses every transform view's SQL)
    S.execute(spark, "CREATE MATERIALIZED VIEW legacy AS "
                     "SELECT event_id, cents + 1 AS set FROM ev "
                     "WHERE cents >= 0", cat)
    S.execute(spark, "REFRESH MATERIALIZED VIEW legacy", cat)
    got = S.execute(spark, "SELECT set FROM legacy", cat)
    assert got.count() > 0
    # ... but NEW object names may not shadow statement heads
    for bad in ("update", "merge", "restore", "to"):
        with pytest.raises(S.SqlError, match="not a legal"):
            S.execute(spark, f"CREATE TABLE {bad} AS SELECT 1 AS x",
                      cat)


def test_duplicate_cmv_reports_already_exists(spark, events, cat,
                                              base):
    S.execute(spark, "CREATE MATERIALIZED VIEW dupv AS "
                     "SELECT event_type, COUNT(*) AS n FROM ev "
                     "GROUP BY event_type", cat)
    # re-CREATE of a registered view: the accurate duplicate error,
    # not the on-disk-orphan warning
    with pytest.raises(S.SqlError, match="already exists"):
        S.execute(spark, "CREATE MATERIALIZED VIEW dupv AS "
                         "SELECT event_type, COUNT(*) AS n FROM ev "
                         "GROUP BY event_type", cat)
    with pytest.raises(S.SqlError, match="already exists"):
        S.execute(spark, "CREATE MATERIALIZED VIEW dupv AS "
                         "SELECT event_type, COUNT(*) AS n, "
                         "COUNT(DISTINCT user_id) AS d FROM ev "
                         "GROUP BY event_type", cat)


def test_describe_table_plain(spark, events, cat, base):
    d = S.execute(spark, "DESCRIBE ev", cat)
    assert d["name"] == "ev" and d["kind"] == "table"
    assert d["key"] == "event_id" and d["layout"] == "flat"
    assert d["row_count"] == base.where(
        F.col("event_id") % 3 != 2).count()
    assert set(d["col_types"]) == {"event_id", "user_id", "event_type",
                                   "cents"}
    # DESCRIBE VIEW and DESCRIBE MATERIALIZED VIEW still work
    S.execute(spark, "CREATE MATERIALIZED VIEW dtv AS SELECT "
                     "event_type, COUNT(*) AS n FROM ev "
                     "GROUP BY event_type", cat)
    dv = S.execute(spark, "DESCRIBE MATERIALIZED VIEW dtv", cat)
    assert dv["view_kind"] == "agg"
    with pytest.raises(S.SqlError, match="unknown table"):
        S.execute(spark, "DESCRIBE nope", cat)


def test_describe_rejects_trailing_tokens(spark, events, cat, base):
    with pytest.raises(S.SqlError, match="trailing"):
        S.execute(spark, "DESCRIBE ev VERSION AS OF 2", cat)
    with pytest.raises(S.SqlError, match="trailing"):
        S.execute(spark, "DESCRIBE ev extra", cat)


def test_insert_overwrite_full_reload(spark, events, cat, base):
    n0 = S.execute(spark, "SELECT count(*) AS n FROM ev",
                   cat).collect()[0]["n"]
    v0 = V.current_version(cat.get("ev")["path"])
    out = S.execute(spark, "INSERT OVERWRITE ev SELECT event_id, "
                           "user_id, event_type, cents * 10 FROM ev "
                           "WHERE event_id % 4 = 0", cat)
    assert out["status"] == "overwritten"
    got = S.execute(spark, "SELECT count(*) AS n, min(event_id % 4) "
                           "AS m FROM ev", cat).collect()[0]
    want_n = base.where((F.col("event_id") % 3 != 2)
                        & (F.col("event_id") % 4 == 0)).count()
    assert got["n"] == want_n and got["m"] == 0
    # the pre-overwrite version stays readable, and RESTORE undoes it
    old = S.execute(spark, f"SELECT count(*) AS n FROM ev VERSION "
                           f"AS OF {v0}", cat).collect()[0]["n"]
    assert old == n0
    S.execute(spark, f"RESTORE TABLE ev TO VERSION AS OF {v0}", cat)
    back = S.execute(spark, "SELECT count(*) AS n FROM ev",
                     cat).collect()[0]["n"]
    assert back == n0
    with pytest.raises(S.SqlError, match="INSERT"):
        S.execute(spark, "INSERT OVERWRITE ev DELETE everything", cat)


def test_drop_kind_must_match_statement(spark, events, cat, base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW mv_k AS SELECT event_type, "
        "COUNT(*) AS n FROM ev GROUP BY event_type"), cat)
    with pytest.raises(S.SqlError, match="use DROP MATERIALIZED"):
        S.execute(spark, "DROP TABLE mv_k", cat)
    with pytest.raises(S.SqlError, match="use DROP TABLE"):
        S.execute(spark, "DROP MATERIALIZED VIEW ev", cat)
    # neither rejected statement touched any data
    assert os.path.isdir(cat.get("mv_k")["path"])
    assert os.path.isdir(cat.get("ev")["path"])
    S.execute(spark, "DROP MATERIALIZED VIEW mv_k", cat)


def test_drop_refuses_source_with_dependents(spark, events, cat, base):
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW dep1 AS SELECT event_type, "
        "COUNT(*) AS n FROM ev GROUP BY event_type"), cat)
    with pytest.raises(S.SqlError, match="dep1"):
        S.execute(spark, "DROP TABLE ev", cat)
    assert os.path.isdir(cat.get("ev")["path"])  # nothing deleted
    # view-on-view: the middle of a cascade is protected too
    S.execute(spark, ("CREATE MATERIALIZED VIEW dep_base OPTIONS "
                      "(key='event_id') AS SELECT event_id, cents "
                      "FROM ev WHERE cents > 0"), cat)
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW dep2 AS SELECT cents, COUNT(*) AS n "
        "FROM dep_base GROUP BY cents"), cat)
    with pytest.raises(S.SqlError, match="dep2"):
        S.execute(spark, "DROP MATERIALIZED VIEW dep_base", cat)
    # drop order leaf-first works
    S.execute(spark, "DROP MATERIALIZED VIEW dep2", cat)
    S.execute(spark, "DROP MATERIALIZED VIEW dep_base", cat)
    S.execute(spark, "DROP MATERIALIZED VIEW dep1", cat)
    S.execute(spark, "DROP TABLE ev", cat)


def test_catalog_reads_see_other_process_mutations(spark, events, cat,
                                                   base):
    """get()/names() refresh from disk: a second Catalog handle on the
    same root (stand-in for another process) sees a CREATE and a DROP
    made through the first handle without reconstruction."""
    other = S.Catalog(cat.root)
    assert "t_xproc" not in other.names()
    ev2 = events.select("event_id", "cents" if "cents" in events.columns
                        else "user_id").limit(5)
    ev2.createOrReplaceTempView("xp_seed")
    S.execute(spark, "CREATE TABLE t_xproc AS SELECT * FROM xp_seed",
              cat)
    assert "t_xproc" in other.names()
    assert other.get("t_xproc")["kind"] == "table"
    S.execute(spark, "DROP TABLE t_xproc", cat)
    with pytest.raises(S.SqlError, match="unknown table"):
        other.get("t_xproc")
    assert "t_xproc" not in other.names()


def test_base_table_nn_sum_columns_not_hidden(spark, events, cat):
    """Maintenance-column hiding is a VIEW-state concern: a base table
    legally owning nn_x and sum_x must surface both in SELECT *, and
    INSERT's positional column count must agree with the real schema."""
    seed = events.limit(3).select(
        F.col("event_id"), F.col("user_id").alias("nn_x"),
        (F.col("event_id") * 2).alias("sum_x"))
    seed.createOrReplaceTempView("nnseed")
    S.execute(spark, "CREATE TABLE tnn OPTIONS (key='event_id') AS "
                     "SELECT * FROM nnseed", cat)
    got = S.execute(spark, "SELECT * FROM tnn", cat)
    assert set(got.columns) == {"event_id", "nn_x", "sum_x"}
    r = S.execute(spark, "INSERT INTO tnn VALUES (900001, 7, 8)", cat)
    assert r["status"] == "inserted"
    n = S.execute(spark, "SELECT count(*) AS n FROM tnn",
                  cat).collect()[0]["n"]
    assert n == 4


def test_merge_matched_delete_and_conditional_update(spark, events,
                                                     cat, base):
    """WHEN MATCHED AND <cond> THEN DELETE / THEN UPDATE SET col=expr:
    first-match-wins in clause order; untouched rows stay."""
    src = base.where(F.col("event_id") % 4 == 0).select(
        "event_id", F.col("cents").alias("c2"))
    src.createOrReplaceTempView("cdc1")
    out = S.execute(spark, (
        "MERGE INTO ev AS t USING cdc1 AS s "
        "ON t.event_id = s.event_id "
        "WHEN MATCHED AND s.c2 < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET cents = s.c2 * 2 + 1"), cat)
    assert out["status"] == "merged"
    got = S.execute(spark, "SELECT event_id, cents FROM ev", cat)
    inb = base.where(F.col("event_id") % 3 != 2)
    want = inb.withColumn(
        "hit", (F.col("event_id") % 4 == 0)).where(
        ~(F.col("hit") & (F.col("cents") < 0))).select(
        "event_id",
        F.when(F.col("hit"), F.col("cents") * 2 + 1)
        .otherwise(F.col("cents")).alias("cents"))
    assert _rows(got) == _rows(want)


def test_merge_insert_columns_values_null_fill(spark, events, cat,
                                               base):
    src = base.where(F.col("event_id") % 3 == 2).limit(7).select(
        "event_id", F.col("cents").alias("c2"))
    src.createOrReplaceTempView("cdc2")
    n0 = S.execute(spark, "SELECT count(*) AS n FROM ev",
                   cat).collect()[0]["n"]
    S.execute(spark, (
        "MERGE INTO ev t USING cdc2 s ON t.event_id = s.event_id "
        "WHEN NOT MATCHED AND s.c2 >= 0 THEN "
        "INSERT (event_id, cents) VALUES (s.event_id, s.c2 + 5)"), cat)
    got = S.execute(spark, "SELECT * FROM ev WHERE user_id IS NULL "
                           "AND event_type IS NULL", cat)
    want_n = src.where(F.col("c2") >= 0).count()
    assert got.count() == want_n
    # unmatched rows failing every clause are ignored
    n1 = S.execute(spark, "SELECT count(*) AS n FROM ev",
                   cat).collect()[0]["n"]
    assert n1 == n0 + want_n


def test_merge_cdc_apply_mixed(spark, events, cat, base):
    """The CDC-apply shape: one statement mixing conditional DELETE,
    column-level UPDATE, and conditional INSERT."""
    cdc = events.select(
        "event_id", "user_id", "event_type",
        (F.round(F.col("value") * 100).cast("long") * 2).alias("c2"),
        F.when(F.col("event_id") % 10 == 0, F.lit("D"))
        .when(F.col("event_id") % 3 == 2, F.lit("I"))
        .otherwise(F.lit("U")).alias("op"),
    ).where(F.col("event_id") % 5 == 0)
    cdc.createOrReplaceTempView("cdc3")
    S.execute(spark, (
        "MERGE INTO ev t USING (SELECT * FROM cdc3) AS s "
        "ON t.event_id = s.event_id "
        "WHEN MATCHED AND s.op = 'D' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET cents = s.c2, "
        "event_type = s.event_type "
        "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT "
        "(event_id, user_id, event_type, cents) "
        "VALUES (s.event_id, s.user_id, s.event_type, s.c2)"), cat)
    got = S.execute(spark, "SELECT event_id, cents FROM ev", cat)
    inb = base.where(F.col("event_id") % 3 != 2)
    cdcv = cdc
    matched = inb.join(cdcv, "event_id", "inner")
    final = (
        inb.join(cdcv.select("event_id"), "event_id", "left_anti")
        .select("event_id", "cents")
        .unionByName(matched.where(F.col("op") != "D")
                     .select("event_id", F.col("c2").alias("cents")))
        .unionByName(
            cdcv.join(inb.select("event_id"), "event_id", "left_anti")
            .where(F.col("op") != "D")
            .select("event_id", F.col("c2").alias("cents"))))
    assert _rows(got) == _rows(final)


def test_merge_clause_error_shapes(spark, events, cat, base):
    b4 = base.select("event_id", "user_id", "event_type", "cents")
    b4.createOrReplaceTempView("m_err")
    with pytest.raises(S.SqlError, match="LAST"):
        S.execute(spark, "MERGE INTO ev t USING m_err s ON "
                         "t.event_id = s.event_id "
                         "WHEN MATCHED THEN DELETE "
                         "WHEN MATCHED AND s.cents > 0 THEN UPDATE "
                         "SET cents = 0", cat)
    with pytest.raises(S.SqlError, match="alias the source"):
        S.execute(spark, "MERGE INTO ev USING (SELECT * FROM m_err) "
                         "ON ev.event_id = event_id "
                         "WHEN MATCHED THEN DELETE", cat)
    with pytest.raises(S.SqlError, match="aliases must differ"):
        S.execute(spark, "MERGE INTO ev x USING m_err x ON "
                         "x.event_id = x.event_id "
                         "WHEN MATCHED THEN DELETE", cat)
    with pytest.raises(S.SqlError, match="row-identity"):
        S.execute(spark, "MERGE INTO ev t USING m_err s ON "
                         "t.event_id = s.event_id "
                         "WHEN MATCHED THEN UPDATE SET event_id = 1",
                  cat)
    with pytest.raises(S.SqlError, match="no such target column"):
        S.execute(spark, "MERGE INTO ev t USING m_err s ON "
                         "t.event_id = s.event_id "
                         "WHEN MATCHED THEN UPDATE SET nope = 1", cat)
    with pytest.raises(S.SqlError, match="INSERT"):
        S.execute(spark, "MERGE INTO ev t USING m_err s ON "
                         "t.event_id = s.event_id "
                         "WHEN NOT MATCHED THEN UPDATE SET cents = 1",
                  cat)
    with pytest.raises(S.SqlError, match="pair up"):
        S.execute(spark, "MERGE INTO ev t USING m_err s ON "
                         "t.event_id = s.event_id "
                         "WHEN NOT MATCHED THEN INSERT (event_id) "
                         "VALUES (s.event_id, 1)", cat)


def test_merge_delete_only_is_delete_vector_commit(spark, events, cat,
                                                   base):
    src = base.where(F.col("event_id") % 6 == 0).select(
        "event_id", F.lit("D").alias("op"))
    src.createOrReplaceTempView("cdc_d")
    S.execute(spark, (
        "MERGE INTO ev t USING cdc_d s ON t.event_id = s.event_id "
        "WHEN MATCHED AND s.op = 'D' THEN DELETE"), cat)
    got = S.execute(spark, "SELECT count(*) AS n FROM ev",
                    cat).collect()[0]["n"]
    want = base.where((F.col("event_id") % 3 != 2)
                      & (F.col("event_id") % 6 != 0)).count()
    assert got == want
    # O(matched): a delete-vector commit, never a rewrite
    assert V.history(cat.get("ev")["path"])[-1]["op"] not in (
        "overwrite", "create")


def test_alter_table_add_column_evolution(spark, events, cat, base):
    v0 = V.current_version(cat.get("ev")["path"])
    out = S.execute(spark, "ALTER TABLE ev ADD COLUMN score "
                           "decimal(10,2)", cat)
    assert out["status"] == "altered"
    assert out["version"] == v0 + 1  # one O(1) commit, no rewrite
    # old rows read NULL; DESCRIBE shows the evolved schema
    got = S.execute(spark, "SELECT * FROM ev", cat)
    assert got.columns[-1] == "score"
    assert got.where(F.col("score").isNotNull()).count() == 0
    d = S.execute(spark, "DESCRIBE ev", cat)
    assert d["col_types"]["score"] == "decimal(10,2)"
    # the next INSERT must carry the new column positionally
    with pytest.raises(S.SqlError, match="column count"):
        S.execute(spark, "INSERT INTO ev VALUES (990001, 1, 'a', 5)",
                  cat)
    S.execute(spark, "INSERT INTO ev VALUES (990001, 1, 'a', 5, "
                     "'12.25')", cat)
    row = S.execute(spark, "SELECT score FROM ev WHERE event_id = "
                           "990001", cat).collect()[0]
    assert str(row["score"]) == "12.25"
    # time travel below the ALTER shows the pre-evolution schema
    old = S.execute(spark, f"SELECT * FROM ev VERSION AS OF {v0}", cat)
    assert "score" not in old.columns


def test_alter_table_error_shapes(spark, events, cat, base):
    with pytest.raises(S.SqlError, match="already exists"):
        S.execute(spark, "ALTER TABLE ev ADD COLUMN CENTS long", cat)
    with pytest.raises(S.SqlError, match="bad column type"):
        S.execute(spark, "ALTER TABLE ev ADD COLUMN x nosuchtype", cat)
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW alt_mv AS SELECT event_type, "
        "COUNT(*) AS n FROM ev GROUP BY event_type"), cat)
    with pytest.raises(S.SqlError, match="base table"):
        S.execute(spark, "ALTER TABLE alt_mv ADD COLUMN x long", cat)


def test_sql_refresh_stream_lifecycle(spark, events, cat, base):
    """START → ingest → the stream advances the view → STOP, with
    DESCRIBE reporting liveness at every step (r9 verdict task 7)."""
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW sv AS SELECT event_type, "
        "COUNT(*) AS n FROM ev GROUP BY event_type"), cat)
    d0 = S.execute(spark, "DESCRIBE MATERIALIZED VIEW sv", cat)
    assert d0["refresh_stream"] == {"live": False, "stream_id": None}
    out = S.execute(spark, "START REFRESH STREAM ON VIEW sv CASCADE",
                    cat)
    assert out["status"] == "stream_started"
    try:
        d1 = S.execute(spark, "DESCRIBE MATERIALIZED VIEW sv", cat)
        assert d1["refresh_stream"]["live"] is True
        assert d1["refresh_stream"]["stream_id"] == out["stream_id"]
        with pytest.raises(S.SqlError, match="already running"):
            S.execute(spark, "START REFRESH STREAM ON VIEW sv", cat)
        with pytest.raises(S.SqlError, match="STOP REFRESH STREAM"):
            S.execute(spark, "DROP MATERIALIZED VIEW sv", cat)
        V.append(spark, cat.get("ev")["path"],
                 base.where(F.col("event_id") % 3 == 2))
        S._STREAMS[(cat.root, "sv")].processAllAvailable()
        got = S.execute(spark, "SELECT event_type, n FROM sv", cat)
        want = base.groupBy("event_type").agg(F.count("*").alias("n"))
        assert _rows(got) == _rows(want)
        d2 = S.execute(spark, "DESCRIBE MATERIALIZED VIEW sv", cat)
        assert d2["fresh"] is True
    finally:
        S.execute(spark, "STOP REFRESH STREAM ON VIEW sv", cat)
    d3 = S.execute(spark, "DESCRIBE MATERIALIZED VIEW sv", cat)
    assert d3["refresh_stream"] == {"live": False, "stream_id": None}
    with pytest.raises(S.SqlError, match="no refresh stream"):
        S.execute(spark, "STOP REFRESH STREAM ON VIEW sv", cat)
    with pytest.raises(S.SqlError, match="base table"):
        S.execute(spark, "START REFRESH STREAM ON VIEW ev", cat)
    S.execute(spark, "DROP MATERIALIZED VIEW sv", cat)


def test_sql_refresh_stream_cascade_chain(spark, events, cat, base):
    """A stream on the TOP of a view-on-view chain refreshes the
    middle view too (base-leaf tailing)."""
    S.execute(spark, ("CREATE MATERIALIZED VIEW mid OPTIONS "
                      "(key='event_id') AS SELECT event_id, "
                      "event_type, cents FROM ev WHERE cents >= 0"),
              cat)
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW top_v AS SELECT event_type, "
        "COUNT(*) AS n, SUM(cents) AS s FROM mid "
        "GROUP BY event_type"), cat)
    S.execute(spark, "START REFRESH STREAM ON VIEW top_v", cat)
    try:
        V.append(spark, cat.get("ev")["path"],
                 base.where(F.col("event_id") % 3 == 2))
        S._STREAMS[(cat.root, "top_v")].processAllAvailable()
        got = S.execute(spark, "SELECT event_type, n, s FROM top_v",
                        cat)
        want = (base.where(F.col("cents") >= 0).groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     F.sum("cents").alias("s")))
        assert _rows(got) == _rows(want)
        assert S.execute(spark, "DESCRIBE MATERIALIZED VIEW mid",
                         cat)["fresh"] is True
    finally:
        S.execute(spark, "STOP REFRESH STREAM ON VIEW top_v", cat)


def test_merge_case_when_inside_condition(spark, events, cat, base):
    """An unparenthesized CASE WHEN ... THEN ... END inside a clause
    condition (or a SET expression) must not split the clause list —
    the clause scanner is CASE-aware."""
    src = base.where(F.col("event_id") % 4 == 0).select(
        "event_id", F.col("cents").alias("c2"))
    src.createOrReplaceTempView("cw_src")
    S.execute(spark, (
        "MERGE INTO ev t USING cw_src s ON t.event_id = s.event_id "
        "WHEN MATCHED AND CASE WHEN s.c2 < 0 THEN true ELSE false END "
        "THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET cents = "
        "CASE WHEN s.c2 > 100 THEN s.c2 ELSE 0 END"), cat)
    got = S.execute(spark, "SELECT event_id, cents FROM ev", cat)
    inb = base.where(F.col("event_id") % 3 != 2)
    want = inb.withColumn(
        "hit", F.col("event_id") % 4 == 0).where(
        ~(F.col("hit") & (F.col("cents") < 0))).select(
        "event_id",
        F.when(~F.col("hit"), F.col("cents"))
        .when(F.col("cents") > 100, F.col("cents"))
        .otherwise(F.lit(0)).alias("cents"))
    assert _rows(got) == _rows(want)


def test_alter_add_struct_column(spark, events, cat, base):
    out = S.execute(spark, "ALTER TABLE ev ADD COLUMN meta "
                           "struct<w:int,h:int>", cat)
    assert out["status"] == "altered"
    got = S.execute(spark, "SELECT meta FROM ev", cat)
    assert got.where(F.col("meta").isNotNull()).count() == 0
    d = S.execute(spark, "DESCRIBE ev", cat)
    assert d["col_types"]["meta"] == "struct<w:int,h:int>"


def test_show_tables_uses_one_snapshot(spark, events, cat, base):
    rows = S.execute(spark, "SHOW TABLES", cat)
    assert {r["name"] for r in rows} == {"ev"}
    # a second handle's DROP is visible to the next statement
    other = S.Catalog(cat.root)
    ev = other.get("ev")
    assert ev["kind"] == "table"


def test_create_table_explicit_schema(spark, events, cat):
    S.execute(spark, "CREATE TABLE est (event_id BIGINT, tag STRING, "
                     "meta struct<w:int,h:int>) OPTIONS "
                     "(key='event_id')", cat)
    got = S.execute(spark, "SELECT * FROM est", cat)
    assert got.columns == ["event_id", "tag", "meta"]
    assert got.count() == 0
    S.execute(spark, "INSERT INTO est VALUES (1, 'a', named_struct("
                     "'w', 2, 'h', 3))", cat)
    row = S.execute(spark, "SELECT meta.w AS w FROM est",
                    cat).collect()[0]
    assert row["w"] == 2
    with pytest.raises(S.SqlError, match="not a declared column"):
        S.execute(spark, "CREATE TABLE est2 (a BIGINT) OPTIONS "
                         "(key='b')", cat)
    with pytest.raises(S.SqlError, match="bad column list"):
        S.execute(spark, "CREATE TABLE est3 (a NOTATYPE)", cat)
    assert not os.path.isdir(cat.path_for("est3"))


def test_show_create_table(spark, events, cat, base):
    out = S.execute(spark, "SHOW CREATE TABLE ev", cat)
    stmt = out["create_statement"]
    assert stmt.startswith("CREATE TABLE ev (")
    assert "event_id bigint" in stmt and "key='event_id'" in stmt
    S.execute(spark, (
        "CREATE MATERIALIZED VIEW scv AS SELECT event_type, "
        "COUNT(*) AS n FROM ev GROUP BY event_type"), cat)
    mv = S.execute(spark, "SHOW CREATE TABLE scv", cat)
    assert mv["create_statement"] == (
        "CREATE MATERIALIZED VIEW scv OPTIONS (key='event_id') AS "
        "SELECT event_type, COUNT(*) AS n FROM ev GROUP BY event_type")
    # the rendered statement round-trips through execute()
    S.execute(spark, mv["create_statement"].replace(" scv ", " scv2 "),
              cat)
    assert _rows(S.execute(spark, "SELECT * FROM scv2", cat)) == \
           _rows(S.execute(spark, "SELECT * FROM scv", cat))


def test_show_create_near_dup_round_trip(spark, documents, cat):
    docs = documents.select("doc_id", "text").limit(80)
    path = cat.path_for("scd")
    V.create(spark, path, docs)
    cat.register("scd", path, meta={"key": "doc_id"})
    S.execute(spark, "CREATE MATERIALIZED VIEW scp USING near_dup "
                     "OPTIONS (source='scd', key='doc_id')", cat)
    out = S.execute(spark, "SHOW CREATE TABLE scp", cat)
    stmt = out["create_statement"]
    assert "USING near_dup" in stmt and "source='scd'" in stmt
    # a recreate from the rendered statement works
    S.execute(spark, stmt.replace(" scp ", " scp2 "), cat)


def test_describe_changes_cdc_read(spark, events, cat, base):
    v0 = V.current_version(cat.get("ev")["path"])
    S.execute(spark, "INSERT INTO ev SELECT event_id, user_id, "
                     "event_type, cents FROM ev WHERE false", cat)
    V.append(spark, cat.get("ev")["path"],
             base.where(F.col("event_id") % 3 == 2))
    ch = S.execute(spark, f"DESCRIBE CHANGES ev FROM {v0}", cat)
    # append-only interval: all inserts, O(delta)
    assert set(r["_change_type"] for r in
               ch.select("_change_type").distinct().collect()) == \
           {"insert"}
    assert ch.count() == base.where(F.col("event_id") % 3 == 2).count()
    # an UPDATE in the interval flips to the keyed diff with preimages
    v1 = V.current_version(cat.get("ev")["path"])
    S.execute(spark, "UPDATE ev SET cents = cents + 1 "
                     "WHERE event_id % 10 = 3", cat)
    ch2 = S.execute(spark, f"DESCRIBE CHANGES ev FROM {v1}", cat)
    kinds = {r["_change_type"] for r in
             ch2.select("_change_type").distinct().collect()}
    assert kinds == {"update_preimage", "update_postimage"}
    with pytest.raises(S.SqlError):
        S.execute(spark, "DESCRIBE CHANGES ev FROM 999", cat)


def test_show_create_preserves_key_options(spark, events, cat):
    """Round-trip for views whose sources declare NO key: the rendered
    statement must carry the key/left_key/right_key OPTIONS the
    original CREATE supplied (review finding)."""
    events.limit(40).select("event_id", "user_id", "event_type")\
        .createOrReplaceTempView("nk_seed")
    S.execute(spark, "CREATE TABLE nk AS SELECT * FROM nk_seed", cat)
    S.execute(spark, ("CREATE MATERIALIZED VIEW nkv OPTIONS "
                      "(key='event_id') AS SELECT event_type, "
                      "COUNT(*) AS n FROM nk GROUP BY event_type"),
              cat)
    stmt = S.execute(spark, "SHOW CREATE TABLE nkv",
                     cat)["create_statement"]
    assert "key='event_id'" in stmt
    S.execute(spark, stmt.replace(" nkv ", " nkv2 "), cat)
    assert _rows(S.execute(spark, "SELECT * FROM nkv2", cat)) == \
           _rows(S.execute(spark, "SELECT * FROM nkv", cat))


def test_create_schema_rejects_trailing_and_bad_key(spark, cat):
    with pytest.raises(S.SqlError, match="unexpected tokens"):
        S.execute(spark, "CREATE TABLE bt (a BIGINT) AS SELECT 1", cat)
    with pytest.raises(S.SqlError, match="unexpected tokens"):
        S.execute(spark, "CREATE TABLE bt (a BIGINT) OPTIONS "
                         "(key='a') junk", cat)
    with pytest.raises(S.SqlError, match="quoted column name"):
        S.execute(spark, "CREATE TABLE bt (a BIGINT) OPTIONS (key=5)",
                  cat)
    assert "bt" not in cat.names()  # nothing was created


def test_drop_two_of_three_columns(spark, events, tmp_path):
    """The last-visible-column guard counts col_types (which already
    excludes hidden) — a 3-column table permits two drops."""
    path = str(tmp_path / "t3")
    V.create(spark, path, events.limit(20).select(
        "event_id", "user_id", "event_type"))
    V.drop_column(spark, path, "event_type")
    V.drop_column(spark, path, "user_id")
    assert V.read(spark, path).columns == ["event_id"]
    with pytest.raises(ValueError, match="last visible"):
        V.drop_column(spark, path, "event_id")


def test_upsert_refuses_dropped_column(spark, events, tmp_path):
    path = str(tmp_path / "tu")
    df = events.limit(20).select("event_id", "user_id", "event_type")
    V.create(spark, path, df)
    V.drop_column(spark, path, "user_id")
    with pytest.raises(V.SchemaDriftError, match="dropped"):
        V.upsert(spark, path, df.limit(2), key="event_id")
    # a batch WITHOUT the ghost upserts fine
    V.upsert(spark, path, df.drop("user_id").limit(2), key="event_id")
    assert "user_id" not in V.read(spark, path).columns


def test_bucketed_table_sql_lifecycle(spark, events, cat):
    """CREATE ... OPTIONS (key, buckets) AS SELECT → INSERT (bucketed
    append) → full-upsert MERGE (touched-buckets rewrite) → OPTIMIZE
    (bucketed compaction) → SELECT; flat-only verbs error with the
    bucketed guidance."""
    ev = events.select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    ev.limit(300).createOrReplaceTempView("bk_seed")
    S.execute(spark, "CREATE TABLE bk OPTIONS (key='event_id', "
                     "buckets=4) AS SELECT * FROM bk_seed "
                     "WHERE event_id % 2 = 0", cat)
    d = S.execute(spark, "DESCRIBE bk", cat)
    assert d["layout"] == "bucketed" and d["n_buckets"] == 4
    S.execute(spark, "INSERT INTO bk SELECT * FROM bk_seed "
                     "WHERE event_id % 2 = 1", cat)
    base = ev.limit(300)
    got = S.execute(spark, "SELECT event_id, user_id, cents FROM bk",
                    cat)
    assert _rows(got) == _rows(base)
    # full-upsert MERGE rewrites only touched buckets
    src = base.limit(40).withColumn("cents", F.col("cents") * 2)
    src.createOrReplaceTempView("bk_upd")
    out = S.execute(spark, "MERGE INTO bk USING bk_upd ON "
                           "bk.event_id = bk_upd.event_id "
                           "WHEN MATCHED THEN UPDATE SET * "
                           "WHEN NOT MATCHED THEN INSERT *", cat)
    assert out["status"] == "merged"
    want = (base.join(src.select("event_id"), "event_id", "left_anti")
            .unionByName(src))
    got2 = S.execute(spark, "SELECT event_id, user_id, cents FROM bk",
                     cat)
    assert _rows(got2) == _rows(want)
    S.execute(spark, "OPTIMIZE bk", cat)
    got3 = S.execute(spark, "SELECT event_id, user_id, cents FROM bk",
                     cat)
    assert _rows(got3) == _rows(want)
    # conditional DML works on the bucketed layout too (r11): DELETE /
    # UPDATE / clause MERGE land as bucket-scoped delete vectors +
    # per-bucket appends — zero bucket rewrites
    n_before = got3.count()
    S.execute(spark, "DELETE FROM bk WHERE cents > 5000", cat)
    want = want.where(F.col("cents") <= 5000)
    got4 = S.execute(spark, "SELECT event_id, user_id, cents FROM bk",
                     cat)
    assert _rows(got4) == _rows(want) and got4.count() < n_before
    S.execute(spark, "UPDATE bk SET cents = cents + 7 "
                     "WHERE event_id % 10 = 0", cat)
    want = want.withColumn(
        "cents", F.when(F.col("event_id") % 10 == 0,
                        F.col("cents") + 7).otherwise(F.col("cents")))
    got5 = S.execute(spark, "SELECT event_id, user_id, cents FROM bk",
                     cat)
    assert _rows(got5) == _rows(want)
    out = S.execute(spark, "MERGE INTO bk t USING bk_upd s ON "
                           "t.event_id = s.event_id "
                           "WHEN MATCHED AND s.cents > 100 THEN DELETE",
                    cat)
    assert out["status"] == "merged"
    doomed = src.where(F.col("cents") > 100).select("event_id")
    want = want.join(doomed, "event_id", "left_anti")
    got6 = S.execute(spark, "SELECT event_id, user_id, cents FROM bk",
                     cat)
    assert _rows(got6) == _rows(want)
    # OPTIMIZE materializes the pending vectors (bucket-scoped rewrite)
    assert S.execute(spark, "DESCRIBE bk",
                     cat)["pending_delete_vectors"] > 0
    S.execute(spark, "OPTIMIZE bk", cat)
    assert S.execute(spark, "DESCRIBE bk",
                     cat)["pending_delete_vectors"] == 0
    got7 = S.execute(spark, "SELECT event_id, user_id, cents FROM bk",
                     cat)
    assert _rows(got7) == _rows(want)
    # schema evolution works on the bucketed layout too (r11):
    # metadata-only ADD, reads reconcile the unwritten column as NULL
    S.execute(spark, "ALTER TABLE bk ADD COLUMN x long", cat)
    gotx = S.execute(spark, "SELECT event_id, x FROM bk", cat)
    assert gotx.where("x IS NOT NULL").count() == 0
    S.execute(spark, "ALTER TABLE bk DROP COLUMN x", cat)
    assert "x" not in S.execute(spark, "SELECT * FROM bk",
                                cat).columns
    # INSERT OVERWRITE = the full reload on both layouts (r11): a
    # fresh per-bucket segment map, pending vectors/hidden cols
    # definitionally materialized
    S.execute(spark, "INSERT OVERWRITE bk SELECT * FROM bk_seed", cat)
    got8 = S.execute(spark, "SELECT event_id, user_id, cents FROM bk",
                     cat)
    assert _rows(got8) == _rows(ev.limit(300))
    assert S.execute(spark, "DESCRIBE bk", cat)["layout"] == "bucketed"
    # ZORDER on bucketed = WITHIN-bucket reclustering (r11): state
    # preserved, layout stays bucketed, every bucket one z-sorted
    # segment
    out = S.execute(spark, "OPTIMIZE bk ZORDER BY (event_id, cents)",
                    cat)
    assert out["status"] == "optimized"
    got9 = S.execute(spark, "SELECT event_id, user_id, cents FROM bk",
                     cat)
    assert _rows(got9) == _rows(ev.limit(300))
    assert S.execute(spark, "DESCRIBE bk", cat)["layout"] == "bucketed"
    with pytest.raises(S.SqlError, match="buckets must be"):
        S.execute(spark, "CREATE TABLE bk2 OPTIONS (key='event_id', "
                         "buckets=1) AS SELECT * FROM bk_seed", cat)
    with pytest.raises(S.SqlError, match="key="):
        S.execute(spark, "CREATE TABLE bk2 OPTIONS (buckets=4) AS "
                         "SELECT * FROM bk_seed", cat)


def test_bucketed_explicit_schema_and_show_create(spark, events, cat):
    """Third-review findings: the explicit-schema form honors buckets
    (empty bucketed declaration readable before the first INSERT), and
    SHOW CREATE TABLE renders buckets=N so the DDL round-trips the
    physical layout."""
    S.execute(spark, "CREATE TABLE ebk (event_id BIGINT, cents BIGINT)"
                     " OPTIONS (key='event_id', buckets=4)", cat)
    assert S.execute(spark, "SELECT * FROM ebk", cat).count() == 0
    d = S.execute(spark, "DESCRIBE ebk", cat)
    assert d["layout"] == "bucketed" and d["n_buckets"] == 4
    S.execute(spark, "INSERT INTO ebk VALUES (1, 10), (2, 20)", cat)
    assert S.execute(spark, "SELECT * FROM ebk", cat).count() == 2
    stmt = S.execute(spark, "SHOW CREATE TABLE ebk",
                     cat)["create_statement"]
    assert "buckets=4" in stmt and "key='event_id'" in stmt
    S.execute(spark, stmt.replace(" ebk ", " ebk2 "), cat)
    assert S.execute(spark, "DESCRIBE ebk2", cat)["layout"] == \
           "bucketed"
    # CTAS with a key that is not a SELECT column: SqlError, not a
    # raw AnalysisException
    events.limit(5).select("event_id").createOrReplaceTempView(
        "ebk_seed")
    with pytest.raises(S.SqlError, match="not a column"):
        S.execute(spark, "CREATE TABLE ebk3 OPTIONS (key='typo', "
                         "buckets=4) AS SELECT * FROM ebk_seed", cat)


def test_merge_not_matched_by_source(spark, events, cat, base):
    """WHEN NOT MATCHED BY SOURCE: full-sync semantics — target rows
    the source no longer carries are deleted (or updated), on top of
    the matched/not-matched clauses."""
    src = base.where(F.col("event_id") % 2 == 0).select(
        "event_id", (F.col("cents") * 2).alias("c2"))
    src.createOrReplaceTempView("sync_src")
    S.execute(spark, (
        "MERGE INTO ev t USING sync_src s ON t.event_id = s.event_id "
        "WHEN MATCHED THEN UPDATE SET cents = s.c2 "
        "WHEN NOT MATCHED BY SOURCE AND t.cents < 100 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET "
        "event_type = 'stale'"), cat)
    got = S.execute(spark, "SELECT event_id, event_type, cents "
                           "FROM ev", cat)
    inb = base.where(F.col("event_id") % 3 != 2)
    # both by-source branches fire: cents < 100 rows DELETE (the
    # fixture's cents span 0..20000, so the condition is satisfiable),
    # the rest mark stale — first-match-wins within the group
    assert inb.where(~(F.col("event_id") % 2 == 0)
                     & (F.col("cents") < 100)).count() > 0
    want = (inb.withColumn("hit", F.col("event_id") % 2 == 0)
            .where(~(~F.col("hit") & (F.col("cents") < 100)))
            .select("event_id",
                    F.when(F.col("hit"), F.col("event_type"))
                    .otherwise(F.lit("stale")).alias("event_type"),
                    F.when(F.col("hit"), F.col("cents") * 2)
                    .otherwise(F.col("cents")).alias("cents")))
    assert _rows(got) == _rows(want)


def test_merge_by_source_sync_delete_only(spark, events, cat, base):
    """The pure 'sync target to source keys' shape: one delete-vector
    commit removing everything the source lacks."""
    src = base.where(F.col("event_id") % 4 == 1).select(
        "event_id", "user_id", "event_type", "cents")
    src.createOrReplaceTempView("sync2")
    S.execute(spark, (
        "MERGE INTO ev t USING sync2 s ON t.event_id = s.event_id "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"), cat)
    got = S.execute(spark, "SELECT count(*) AS n FROM ev",
                    cat).collect()[0]["n"]
    want = base.where((F.col("event_id") % 3 != 2)
                      & (F.col("event_id") % 4 == 1)).count()
    assert got == want
    assert V.history(cat.get("ev")["path"])[-1]["op"] == "delete"
    with pytest.raises(S.SqlError, match="no source row"):
        S.execute(spark, (
            "MERGE INTO ev t USING sync2 s ON t.event_id = s.event_id "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"), cat)
    with pytest.raises(S.SqlError, match="BY SOURCE/TARGET"):
        S.execute(spark, (
            "MERGE INTO ev t USING sync2 s ON t.event_id = s.event_id "
            "WHEN MATCHED BY SOURCE THEN DELETE"), cat)


def test_null_keyed_rows_are_never_duplicated_by_dml(spark, events,
                                                     cat, base):
    """Key-addressed DML (UPDATE, by-source MERGE) must SKIP NULL-keyed
    rows: the delete vector anti-joins on key equality, which NULL
    never satisfies — touching them would append a new image without
    retracting the old one (silent duplicate; review finding)."""
    S.execute(spark, "INSERT INTO ev VALUES (NULL, 77, 'nk', 5)", cat)
    n0 = S.execute(spark, "SELECT count(*) AS n FROM ev",
                   cat).collect()[0]["n"]
    S.execute(spark, "UPDATE ev SET cents = cents + 1 "
                     "WHERE user_id = 77", cat)
    nk = S.execute(spark, "SELECT cents FROM ev WHERE event_id IS "
                          "NULL", cat).collect()
    assert len(nk) == 1 and nk[0]["cents"] == 5  # untouched, once
    base.limit(3).select("event_id", "user_id", "event_type",
                         "cents").createOrReplaceTempView("nk_src")
    S.execute(spark, (
        "MERGE INTO ev t USING nk_src s ON t.event_id = s.event_id "
        "WHEN NOT MATCHED BY SOURCE AND t.user_id = 77 THEN "
        "UPDATE SET cents = 99"), cat)
    nk2 = S.execute(spark, "SELECT cents FROM ev WHERE event_id IS "
                           "NULL", cat).collect()
    assert len(nk2) == 1 and nk2[0]["cents"] == 5
    n1 = S.execute(spark, "SELECT count(*) AS n FROM ev",
                   cat).collect()[0]["n"]
    assert n1 == n0  # no silent duplicates anywhere


def test_optimize_bucket_by_migration(spark, events, cat, base):
    """OPTIMIZE t BUCKET BY (key, n): one committed rewrite migrates a
    flat table to the co-located bucketed layout; pending deletes are
    materialized, the bucketed MERGE path takes over, and RESTORE
    returns to the flat layout."""
    S.execute(spark, "DELETE FROM ev WHERE event_id % 9 = 0", cat)
    v_flat = V.current_version(cat.get("ev")["path"])
    out = S.execute(spark, "OPTIMIZE ev BUCKET BY (event_id, 4)", cat)
    assert out["status"] == "optimized" and out["n_buckets"] == 4
    d = S.execute(spark, "DESCRIBE ev", cat)
    assert d["layout"] == "bucketed"
    assert d["pending_delete_vectors"] == 0  # materialized
    want = base.where((F.col("event_id") % 3 != 2)
                      & (F.col("event_id") % 9 != 0))
    got = S.execute(spark, "SELECT event_id, user_id, event_type, "
                           "cents FROM ev", cat)
    assert _rows(got) == _rows(want)
    # bucketed DML takes over
    src = want.limit(10).withColumn("cents", F.col("cents") + 7)
    src.createOrReplaceTempView("cvt_upd")
    S.execute(spark, "MERGE INTO ev USING cvt_upd ON "
                     "ev.event_id = cvt_upd.event_id "
                     "WHEN MATCHED THEN UPDATE SET * "
                     "WHEN NOT MATCHED THEN INSERT *", cat)
    with pytest.raises(S.SqlError, match="already bucketed"):
        S.execute(spark, "OPTIMIZE ev BUCKET BY (event_id, 8)", cat)
    with pytest.raises(S.SqlError, match="row-identity"):
        S.execute(spark, "OPTIMIZE ev BUCKET BY (cents, 8)", cat)
    # RESTORE below the conversion returns the flat layout
    S.execute(spark, f"RESTORE TABLE ev TO VERSION AS OF {v_flat}",
              cat)
    assert S.execute(spark, "DESCRIBE ev", cat)["layout"] == "flat"
    got2 = S.execute(spark, "SELECT event_id, user_id, event_type, "
                            "cents FROM ev", cat)
    assert _rows(got2) == _rows(want)


@pytest.mark.parametrize("stmt", [
    "DROP TABLE ev2, ev", "SHOW TABLES please ignore me",
    "DESCRIBE HISTORY ev whatever", "DESCRIBE CASCADE tv whatever"])
def test_trailing_tokens_fail_before_the_statement_runs(spark, cat, base,
                                                        stmt):
    """Every statement form refuses tokens after its header, and does
    so before it runs: ``DROP TABLE a, b`` must not drop ``a``."""
    S.execute(spark, "CREATE TABLE ev2 AS SELECT * FROM ev", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW tv AS SELECT event_type, "
                     "COUNT(*) AS n FROM ev GROUP BY event_type", cat)
    with pytest.raises(S.SqlError, match="trailing"):
        S.execute(spark, stmt, cat)
    assert {"ev", "ev2", "tv"} <= set(cat.names())
    assert os.path.isdir(cat.get("ev2")["path"])


def test_unsupported_head_names_every_statement(spark, cat):
    """An unknown head is reported before the rest of the statement is
    tokenized, with the full list of statement heads."""
    with pytest.raises(S.SqlError,
                       match="unsupported statement head 'frobnicate'"
                       ) as ei:
        S.execute(spark, 'frobnicate "x"', cat)
    heads = {key[0].upper() for key in S._STATEMENTS}
    assert {"SELECT", "VALUES", "MERGE", "RETRAIN", "START"} <= heads
    assert [h for h in heads if h not in str(ei.value)] == []
    # a known head with an unknown form lists that head's forms
    with pytest.raises(S.SqlError, match="CREATE supports") as ei:
        S.execute(spark, "CREATE VIEW v AS SELECT 1", cat)
    assert "CLONE" in str(ei.value) and "USING" in str(ei.value)
