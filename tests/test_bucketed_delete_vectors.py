"""Delete vectors on the BUCKETED versioned layout (round 11).

The flat layout has had O(delete-set) delete vectors since round 5;
these tests pin their bucketed twins: a DELETE/UPDATE/conditional-MERGE
against a bucketed table commits a KB-sized ``del-*`` vector scoped to
the deleted keys' own hash buckets (plus per-bucket appends for the new
row images) — zero bucket rewrites — and every reader/rewriter applies
or materializes the vectors correctly:

* read / point_lookup_bucketed apply scoped vectors;
* re-inserting a deleted key is visible again (delete-then-insert
  semantics: the vector's scope is the segments that existed at delete
  time);
* upsert_bucketed / compact materialize pending vectors for
  the buckets they rewrite and prune fully-materialized vectors from
  the manifest;
* time travel, RESTORE, and vacuum treat the vectors like any other
  manifest state.

Reference parity note: rclip-server's only delete is the soft-delete
censor list (RS:92-104); the bucketed-vector machinery is the
100 TB-scale generalization this engine adds.
"""

import os

import pytest
from pyspark.sql import functions as F

from rclip_server_spark.sources import versioned as V


def _mk(spark, path, n=24, n_buckets=8):
    df = spark.createDataFrame(
        [(i, f"n{i}", i * 10) for i in range(n)],
        "id INT, name STRING, val INT")
    V.create_bucketed(spark, str(path), df, key="id", n_buckets=n_buckets)
    return str(path)


def _ids(spark, t, version=None):
    return sorted(r.id for r in
                  V.read(spark, t, version=version).collect())


def test_delete_rows_bucketed_zero_rewrite(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    m1 = V._manifest(t, 1)
    v2 = V.delete_rows(spark, t, [3, 7], "id")
    assert _ids(spark, t) == [i for i in range(24) if i not in (3, 7)]
    m2 = V._manifest(t, v2)
    # zero rewrite: every data segment of v1 survives verbatim
    assert m2["buckets"] == m1["buckets"]
    assert len(m2["delete_segs"]) == 1
    # the vector's scope covers ONLY the deleted keys' own hash
    # buckets' segments — reads of other buckets never see the
    # anti-join
    b = {r.b: None for r in spark.createDataFrame(
        [(3,), (7,)], "id INT").select(
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(8))
        .cast("int").alias("b")).collect()}
    want_scope = {s for bid in b for s in m1["buckets"].get(str(bid), [])}
    got_scope = set(m2["delete_scopes"][m2["delete_segs"][0]])
    assert got_scope == want_scope
    assert got_scope < V._manifest_segments(m1)  # strictly bucket-scoped


def test_point_lookup_sees_vector(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    V.delete_rows(spark, t, [5], "id")
    assert V.point_lookup_bucketed(spark, t, 5).count() == 0
    assert V.point_lookup_bucketed(spark, t, 6).count() == 1


def test_reinsert_after_delete_is_visible(spark, tmp_path):
    """Delete-then-insert semantics: the vector scopes the segments
    that existed at delete time, so a later append of the same key is
    a new row the delete never saw."""
    t = _mk(spark, tmp_path / "t")
    V.delete_rows(spark, t, [3], "id")
    v3 = V.append(spark, t, spark.createDataFrame(
        [(3, "n3b", 333)], "id INT, name STRING, val INT"))
    m3 = V._manifest(t, v3)
    assert m3["op"] == "append-bucketed"  # layout dispatch in append()
    assert m3.get("delete_segs")  # the vector still carries
    rows = {r.id: r.val for r in V.read(spark, t).collect()}
    assert rows[3] == 333


def test_delete_and_append_bucketed_one_commit(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v1 = V.current_version(t)
    upd = spark.createDataFrame([(5, "n5b", 555)],
                                "id INT, name STRING, val INT")
    v2 = V.delete_and_append(spark, t, upd.select("id"), "id", upd)
    assert v2 == v1 + 1  # ONE commit for retraction + replacement
    rows = {r.id: r.val for r in V.read(spark, t).collect()}
    assert rows[5] == 555 and len(rows) == 24
    # the appended segment is outside the vector's scope
    m = V._manifest(t, v2)
    dseg = m["delete_segs"][-1]
    appended = V._manifest_segments(m) - V._manifest_segments(
        V._manifest(t, v1))
    assert appended and not appended & set(m["delete_scopes"][dseg])


def test_upsert_materializes_and_prunes_vectors(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    V.delete_rows(spark, t, [2, 4], "id")
    # an upsert touching EVERY bucket rewrites every scoped segment →
    # the vector is fully materialized and pruned from the manifest
    up = spark.createDataFrame([(i, f"u{i}", i) for i in range(24)],
                               "id INT, name STRING, val INT")
    v = V.upsert_bucketed(spark, t, up)
    m = V._manifest(t, v)
    assert not m.get("delete_segs")
    assert _ids(spark, t) == list(range(24))


def test_partial_upsert_keeps_other_buckets_vector(spark, tmp_path):
    """An upsert that rewrites only SOME of a vector's scoped buckets
    must keep the vector for the untouched ones."""
    t = _mk(spark, tmp_path / "t")
    # find two ids in different buckets
    rows = spark.createDataFrame([(i,) for i in range(24)], "id INT") \
        .select("id", F.pmod(F.xxhash64(F.col("id").cast("string")),
                             F.lit(8)).cast("int").alias("b")).collect()
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r.b, []).append(r.id)
    (b1, ids1), (b2, ids2) = sorted(by_bucket.items())[:2]
    V.delete_rows(spark, t, [ids1[0], ids2[0]], "id")
    # upsert touching only bucket b1 (same key re-written)
    up = spark.createDataFrame([(ids1[1], "z", 0)],
                               "id INT, name STRING, val INT")
    v = V.upsert_bucketed(spark, t, up)
    m = V._manifest(t, v)
    assert len(m.get("delete_segs") or []) == 1  # still pending for b2
    got = _ids(spark, t)
    assert ids1[0] not in got and ids2[0] not in got


def test_compact_materializes_vector_scoped_buckets(spark, tmp_path):
    """compact rewrites vector-scoped buckets even below
    min_segments, so OPTIMIZE clears pending vectors bucket-at-a-time
    — never an O(table) pass for untouched buckets."""
    t = _mk(spark, tmp_path / "t")
    m1 = V._manifest(t, 1)
    V.delete_rows(spark, t, [9], "id")
    v = V.compact(spark, t, min_segments=2)
    m = V._manifest(t, v)
    assert not m.get("delete_segs")
    assert 9 not in _ids(spark, t)
    # only the deleted key's bucket was rewritten
    changed = {b for b, ss in m["buckets"].items()
               if ss != m1["buckets"].get(b)}
    assert len(changed) == 1


def test_maybe_compact_triggers_on_vector_pileup(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    for k in (1, 2, 3):
        V.delete_rows(spark, t, [k], "id")
    v0 = V.current_version(t)
    v = V.maybe_compact(spark, t, max_segments=3)
    assert v > v0
    assert not V._manifest(t, v).get("delete_segs")
    assert _ids(spark, t) == [i for i in range(24) if i not in (1, 2, 3)]


def test_time_travel_restore_and_vacuum(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v2 = V.delete_rows(spark, t, [0], "id")
    up = spark.createDataFrame([(i, f"u{i}", i) for i in range(24)],
                               "id INT, name STRING, val INT")
    v3 = V.upsert_bucketed(spark, t, up)  # materializes, prunes
    # time travel: v2 still applies the vector
    assert 0 not in _ids(spark, t, version=v2)
    assert _ids(spark, t, version=v3) == list(range(24))
    # restore to v2 resurrects the pending vector verbatim
    v4 = V.restore(spark, t, v2)
    assert V._manifest(t, v4).get("delete_segs")
    assert 0 not in _ids(spark, t)
    # vacuum keeps the del-* segment while a kept manifest references it
    V.vacuum(t, keep_last=1)
    assert 0 not in _ids(spark, t)
    # materialize again at the new head; vacuum reaps the dead vector
    V.upsert_bucketed(spark, t, up)
    V.vacuum(t, keep_last=1)
    assert not [d for d in os.listdir(t) if d.startswith("del-")]
    assert _ids(spark, t) == list(range(24))


def test_mixed_key_vector_guard(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    V.delete_rows(spark, t, [1], "id")
    with pytest.raises(ValueError, match="pending delete vectors"):
        V.delete_rows(spark, t, ["n2"], "name")


def test_non_bucket_key_vector_scopes_everything(spark, tmp_path):
    """Deleting by a NON-bucket key is legal at the versioned layer;
    the vector conservatively scopes every current segment (the rows
    could live anywhere)."""
    t = _mk(spark, tmp_path / "t")
    m1 = V._manifest(t, 1)
    v2 = V.delete_rows(spark, t, ["n3", "n17"], "name")
    m2 = V._manifest(t, v2)
    scope = set(m2["delete_scopes"][m2["delete_segs"][0]])
    assert scope == V._manifest_segments(m1)
    got = sorted(r.name for r in V.read(spark, t).collect())
    assert "n3" not in got and "n17" not in got and len(got) == 22


def test_row_count_is_predelete_bound(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    V.delete_rows(spark, t, [1, 2], "id")
    assert V.table_row_count(t) == 24  # documented pre-delete bound
    d = V.describe(t)
    assert d["pending_delete_vectors"] == 1
    V.compact(spark, t, min_segments=2)
    assert V.table_row_count(t) == 22  # exact after materialization


def test_bucketed_upsert_schema_drift_guard(spark, tmp_path):
    """Review fix (r11): the bucketed upsert enforces the same
    schema-drift guard as every flat write path — a type-changing
    batch would leave touched buckets' parquet types disagreeing with
    untouched ones."""
    t = _mk(spark, tmp_path / "t")
    bad = spark.createDataFrame([(1, "x", 1.5)],
                                "id INT, name STRING, val DOUBLE")
    with pytest.raises(V.SchemaDriftError):
        V.upsert_bucketed(spark, t, bad)
    good = spark.createDataFrame([(1, "x", 7)],
                                 "id INT, name STRING, val INT")
    V.upsert_bucketed(spark, t, good)
    assert V.point_lookup_bucketed(spark, t, 1).first().val == 7


def test_empty_scope_delete_registers_no_vector(spark, tmp_path):
    """Review fix (r11): a DELETE matching zero rows commits a version
    but registers NO vector — an empty-scope vector could never filter
    a row and no rewrite would ever clear it."""
    t = _mk(spark, tmp_path / "t")
    empty = spark.createDataFrame([], "id INT")
    v = V.delete_rows(spark, t, empty, "id")
    m = V._manifest(t, v)
    assert v == 2 and not m.get("delete_segs")
    assert not [d for d in os.listdir(t) if d.startswith("del-")]
    assert _ids(spark, t) == list(range(24))
    # and it still CARRIES an earlier real vector
    V.delete_rows(spark, t, [3], "id")
    v2 = V.delete_rows(spark, t, empty, "id")
    assert len(V._manifest(t, v2).get("delete_segs") or []) == 1
    assert 3 not in _ids(spark, t)


def test_overwrite_bucketed_full_reload(spark, tmp_path):
    """INSERT OVERWRITE's versioned substrate on the bucketed layout
    (r11): a fresh per-bucket segment map replaces the whole state —
    pending vectors and hidden columns are definitionally
    materialized, older versions stay readable, RESTORE undoes it."""
    t = _mk(spark, tmp_path / "t")
    V.delete_rows(spark, t, [3], "id")
    v_pre = V.current_version(t)
    new = spark.createDataFrame([(i, f"o{i}", -i) for i in range(5)],
                                "id INT, name STRING, val INT")
    v = V.overwrite(spark, t, new)
    m = V._manifest(t, v)
    assert "buckets" in m and not m.get("delete_segs")
    assert _ids(spark, t) == list(range(5))
    assert V.point_lookup_bucketed(spark, t, 2).first().val == -2
    # old version still vector-filtered; restore returns to it
    assert 3 not in _ids(spark, t, version=v_pre)
    V.restore(spark, t, v_pre)
    assert 3 not in _ids(spark, t) and len(_ids(spark, t)) == 23
    # missing bucket key refused
    import pytest as _pytest
    with _pytest.raises(ValueError, match="bucket key"):
        V.overwrite(spark, t, new.drop("id"))


def test_agg_view_refresh_over_bucketed_dml(spark, tmp_path):
    """Integration: an incremental agg view whose SOURCE is a bucketed
    table must refresh exactly across the new bucketed delete-vector
    commits (delete / delete-append are rewriting intervals — the
    snapshot diff reads through versioned.read, which applies
    vectors)."""
    from rclip_server_spark.sources import matview as MV

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    df = spark.createDataFrame(
        [(i, i % 5, i * 10) for i in range(50)],
        "id INT, grp INT, val INT")
    V.create_bucketed(spark, src, df, key="id", n_buckets=4)
    MV.create_agg_view(spark, src, view, key="id",
                       group_cols=["grp"], sum_cols=["val"])

    def _check():
        got = sorted(tuple(r) for r in V.read(spark, view)
                     .select("grp", "cnt", "sum_val").collect())
        want = sorted(tuple(r) for r in
                      V.read(spark, src)
                      .groupBy("grp")
                      .agg(F.count(F.lit(1)).alias("cnt"),
                           F.sum("val").alias("sum_val"))
                      .collect())
        assert got == want

    # bucketed DELETE (vector commit) → retraction interval
    V.delete_rows(spark, src, [3, 8, 13], "id")
    MV.refresh_agg_view(spark, view)
    _check()
    # bucketed delete_and_append (the UPDATE shape)
    upd = spark.createDataFrame([(4, 4, 4000)],
                                "id INT, grp INT, val INT")
    V.delete_and_append(spark, src, upd.select("id"), "id", upd)
    MV.refresh_agg_view(spark, view)
    _check()
    # vector materialization (upsert rewrite) must be a refresh no-op
    # content-wise
    up = spark.createDataFrame([(i, i % 5, i) for i in range(10)],
                               "id INT, grp INT, val INT")
    V.upsert_bucketed(spark, src, up)
    MV.refresh_agg_view(spark, view)
    _check()


def test_mixed_source_vectors_share_one_physical_type(spark, tmp_path):
    """Regression (r11): a Python-list key set infers BIGINT while a
    DataFrame-sourced one carries the table's INT — two pending
    vectors of different physical types crashed the multi-file vector
    read. _write_delete_vector now pins the table's declared type."""
    t = _mk(spark, tmp_path / "t")
    V.delete_rows(spark, t, [3, 8], "id")          # list → was BIGINT
    upd = spark.createDataFrame([(5, "x", 1)],
                                "id INT, name STRING, val INT")
    V.delete_and_append(spark, t, upd.select("id"), "id", upd)  # INT
    got = _ids(spark, t)  # one grouped read unions both vectors
    assert 3 not in got and 8 not in got and len(got) == 22
    m = V._manifest(t, V.current_version(t))
    import os as _os
    for d in m["delete_segs"]:
        seg = spark.read.parquet(_os.path.join(t, d))
        assert dict(seg.dtypes)["id"] == "int", seg.dtypes


def test_maybe_compact_triggers_on_diffuse_accretion(spark, tmp_path):
    """r12 endurance-proof finding: a streamed maintainer appends a
    segment per TOUCHED bucket per refresh, so total file count grows
    without any single bucket reaching the worst-bucket bound. The
    diffuse trigger (average segments/bucket >= bound/2, floored at
    the bound — amortized so a broad-touch stream folds once per
    ~bound/2 refreshes, never every refresh) folds EVERY multi-segment
    bucket back to one."""
    t = str(tmp_path / "dif")
    mk = lambda rows: spark.createDataFrame(rows, "id long, v long")
    V.create_bucketed(spark, t, mk([(i, i) for i in range(32)]),
                      key="id", n_buckets=4)
    # spread appends so every bucket gains segments but none reaches
    # a high worst-bucket bound; budget at bound 6 with 4 non-empty
    # buckets = max(4*6//2, 6) = 12 total segments
    j = 0
    while True:
        m = V._manifest(t, V.current_version(t))
        if sum(len(ss) for ss in m["buckets"].values()) >= 12:
            break
        V.append(spark, t, mk([(100 + 4 * j + b, j)
                                        for b in range(4)]))
        j += 1
    m = V._manifest(t, V.current_version(t))
    worst = max(len(ss) for ss in m["buckets"].values())
    assert worst < 6
    n_app = 4 * j
    v0 = V.current_version(t)
    # worst-bucket rule alone would no-op at bound 6; diffuse fires
    v1 = V.maybe_compact(spark, t, max_segments=6)
    assert v1 > v0
    m1 = V._manifest(t, v1)
    assert max(len(ss) for ss in m1["buckets"].values()) == 1
    assert {r.id for r in V.read(spark, t).collect()} == \
        set(range(32)) | {100 + k for k in range(n_app)}
    # and the folded state is a no-op thereafter (amortization: the
    # next broad refresh must NOT immediately re-trigger)
    assert V.maybe_compact(spark, t, max_segments=6) == v1
    V.append(spark, t, mk([(900 + b, 0) for b in range(4)]))
    v2 = V.current_version(t)
    assert V.maybe_compact(spark, t, max_segments=6) == v2


def test_legacy_untyped_vector_reads_via_mergeschema(spark, tmp_path):
    """r14 (ADVICE): a delete vector of a DIFFERENT physical key width
    can coexist with a col_types manifest (legacy writers predating the
    key-type pin — e.g. a Python-list key set inferring BIGINT on an
    INT-keyed table). Forcing the committed type onto such a vector
    makes the parquet reader throw AT EXECUTION on the serving path, so
    manifests now mark typed vectors (delete_typed) and an UNMARKED
    vector's group keeps the tolerant mergeSchema read on both
    pin_schema paths."""
    import json
    import uuid as _uuid

    p = str(tmp_path / "legacy")
    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 2).alias("val"))
    V.create(spark, p, df)
    m = V._manifest(p, V.current_version(p))
    assert m["col_types"]["k"] == "int"
    # forge a LEGACY vector: BIGINT-keyed parquet (col_types says int),
    # registered in the manifest WITHOUT the typed marker — exactly
    # what a pre-pin writer left behind; a pinned `k int` read of this
    # file throws PARQUET_COLUMN_DATA_TYPE_MISMATCH at execution
    dseg = f"del-{_uuid.uuid4().hex[:12]}"
    spark.createDataFrame([(5,), (7,)], "k bigint").write.parquet(
        os.path.join(p, dseg))
    v = V.current_version(p)
    m2 = dict(m) | {
        "op": "delete", "delete_key": "k", "delete_segs": [dseg],
        "delete_scopes": {dseg: m["segments"]},
    }
    with open(V._snap_path(p, v + 1), "w") as f:
        json.dump(m2, f)
    # the pinned serving read TOLERATES the legacy vector (mergeSchema
    # fallback for the unmarked group) and still applies it
    got = sorted(r["k"] for r in
                 V.read(spark, p, pin_schema=True).collect())
    assert got == [k for k in range(100) if k not in (5, 7)]
    assert sorted(r["k"] for r in V.read(spark, p).collect()) == got
    # a vector committed by the CURRENT writer is marked and keeps the
    # zero-footer-job pinned read
    V.delete_rows(spark, p, [11], "k")
    m3 = V._manifest(p, V.current_version(p))
    assert m3["delete_typed"] == [d for d in m3["delete_segs"]
                                  if d != dseg]
    got3 = sorted(r["k"] for r in
                  V.read(spark, p, pin_schema=True).collect())
    assert got3 == [k for k in range(100) if k not in (5, 7, 11)]


def test_legacy_wider_vector_never_wraps_keys(spark, tmp_path):
    """r14 review finding: the legacy-vector fallback must unify on
    the WIDEST observed key type. A bigint legacy vector holding
    2^32 + 5 on an int-keyed table would, under a cast to the first
    file's (or committed) int type, WRAP to 5 and delete a live row."""
    import json
    import uuid as _uuid

    p = str(tmp_path / "wide")
    df = spark.range(0, 50).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 3).alias("val"))
    V.create(spark, p, df)
    m = V._manifest(p, V.current_version(p))
    dseg = f"del-{_uuid.uuid4().hex[:12]}"
    spark.createDataFrame([(2 ** 32 + 5,), (7,)], "k bigint") \
        .write.parquet(os.path.join(p, dseg))
    v = V.current_version(p)
    m2 = dict(m) | {
        "op": "delete", "delete_key": "k", "delete_segs": [dseg],
        "delete_scopes": {dseg: m["segments"]},
    }
    with open(V._snap_path(p, v + 1), "w") as f:
        json.dump(m2, f)
    for pin in (False, True):
        got = sorted(r["k"] for r in
                     V.read(spark, p, pin_schema=pin).collect())
        # key 7 deleted; key 5 SURVIVES (2^32+5 matches no int key)
        assert got == [k for k in range(50) if k != 7], (pin, got)


def test_clone_and_restore_carry_delete_typed(spark, tmp_path):
    """r14 review finding: losing the typed marker on CLONE/RESTORE
    silently demotes every pinned serving read of the copy to the
    mergeSchema compat path."""
    p = str(tmp_path / "src")
    df = spark.range(0, 40).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("v"))
    V.create(spark, p, df)
    V.delete_rows(spark, p, [3, 9], "k")
    m = V._manifest(p, V.current_version(p))
    assert m["delete_typed"] == m["delete_segs"]
    c = str(tmp_path / "clone")
    V.clone(p, c)
    mc = V._manifest(c, V.current_version(c))
    assert mc["delete_segs"] and \
        mc["delete_typed"] == mc["delete_segs"]
    assert sorted(r["k"] for r in
                  V.read(spark, c, pin_schema=True).collect()) == \
        [k for k in range(40) if k not in (3, 9)]
    # restore: roll forward past the delete, then restore back to it
    V.append(spark, p, df.limit(5).select(
        (F.col("k") + 1000).alias("k"), "v"))
    dv = V.current_version(p) - 1
    V.restore(spark, p, dv)
    mr = V._manifest(p, V.current_version(p))
    assert mr["delete_segs"] and \
        mr["delete_typed"] == mr["delete_segs"]
