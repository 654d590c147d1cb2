"""Maintained near-dup pairs view (sources/neardup_view.py): O(delta)
maintenance must land row-identically on the from-scratch pipeline
(operators/dedup.minhash_near_dup) after every interval shape —
append, delete, update — plus the graph-integration surface
(refresh_view dispatch, describe, cursor-safe vacuum, heal)."""

import pytest
from pyspark.sql import functions as F

from rclip_server_spark.operators import dedup
from rclip_server_spark.sources import matview as M
from rclip_server_spark.sources import neardup_view as ND
from rclip_server_spark.sources import versioned as V

THRESH = 0.6


def _docs(documents):
    return documents.select("doc_id", "text")


def _pairs_of(df):
    return sorted(
        tuple(r) for r in dedup.minhash_near_dup(
            df, threshold=THRESH).collect())


def _view_pairs(spark, vw):
    return sorted(
        tuple(r) for r in
        ND.read_near_dup_pairs_view(spark, vw).collect())


@pytest.fixture()
def nd(spark, documents, tmp_path):
    docs = _docs(documents)
    src = str(tmp_path / "docs")
    vw = str(tmp_path / "pairs")
    V.create(spark, src, docs.where(F.col("doc_id") % 3 != 2))
    ND.create_near_dup_pairs_view(spark, src, vw, key="doc_id",
                                  threshold=THRESH)
    return docs, src, vw


def test_create_matches_full_pipeline(spark, nd):
    docs, src, vw = nd
    assert _view_pairs(spark, vw) == _pairs_of(
        docs.where(F.col("doc_id") % 3 != 2))


def test_append_then_delete_intervals(spark, nd):
    docs, src, vw = nd
    V.append(spark, src, docs.where(F.col("doc_id") % 3 == 2))
    ND.refresh_near_dup_pairs_view(spark, vw, recompute_fraction=None)
    assert _view_pairs(spark, vw) == _pairs_of(docs)
    V.delete_rows(spark, src,
                  docs.where(F.col("doc_id") % 7 == 0).select("doc_id"),
                  "doc_id")
    ND.refresh_near_dup_pairs_view(spark, vw, recompute_fraction=None)
    assert _view_pairs(spark, vw) == _pairs_of(
        docs.where(F.col("doc_id") % 7 != 0))


def test_delete_interval_stays_incremental_under_default(spark, nd):
    """The shared row-scan cost model would trip full re-pairing on
    ANY retraction-bearing interval (change bound ~ 2x head rows >
    0.5 x head) — but for a pairs view "recompute" is the quadratic
    banded self-join, not one head pass, so the pairs table must stay
    on the O(delta) retract+probe path under the SHIPPED default."""
    docs, src, vw = nd
    V.delete_rows(spark, src,
                  docs.where(F.col("doc_id") % 7 == 0).select("doc_id"),
                  "doc_id")
    ND.refresh_near_dup_pairs_view(spark, vw)  # shipped default
    assert _view_pairs(spark, vw) == _pairs_of(
        docs.where((F.col("doc_id") % 3 != 2)
                   & (F.col("doc_id") % 7 != 0)))
    # the pair commit is a delete-vector + append, never an overwrite
    assert V.history(vw)[-1]["op"] != "overwrite"


def test_update_retracts_and_rediscovers(spark, nd):
    docs, src, vw = nd
    # rewrite a slice of docs with OTHER docs' text: their old pairs
    # must retract and their new pairs (to the donors) must appear
    donors = docs.where(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id")).alias("k"), F.col("text").alias("t"))
    victims = docs.where(F.col("doc_id") % 10 == 4).select(
        (F.col("doc_id")).alias("vk")).limit(20)
    upd = (victims.join(donors.limit(20)).limit(20)
           .select(F.col("vk").alias("doc_id"), F.col("t").alias("text")))
    upd = upd.persist()
    V.upsert(spark, src, upd, key="doc_id")
    ND.refresh_near_dup_pairs_view(spark, vw, recompute_fraction=None)
    final = V.read(spark, src)
    assert _view_pairs(spark, vw) == _pairs_of(final)
    upd.unpersist()


def test_refresh_view_dispatch_and_describe(spark, nd):
    docs, src, vw = nd
    V.append(spark, src, docs.where(F.col("doc_id") % 3 == 2))
    M.refresh_view(spark, vw)  # kind-dispatched, no function handle
    d = M.describe_view(vw)
    assert d["view_kind"] == "near_dup"
    assert d["fresh"] and d["sources"][0]["lag"] == 0
    assert M.view_base_tables(vw) == [src]
    assert _view_pairs(spark, vw) == _pairs_of(docs)


def test_noop_interval_keeps_version(spark, nd):
    docs, src, vw = nd
    v0 = V.current_version(vw)
    assert ND.refresh_near_dup_pairs_view(spark, vw) == v0


def test_vacuum_safely_clamps_to_pairs_cursor(spark, nd):
    docs, src, vw = nd
    V.append(spark, src, docs.where(F.col("doc_id") % 3 == 2))
    V.delete_rows(spark, src,
                  docs.where(F.col("doc_id") % 9 == 0).select("doc_id"),
                  "doc_id")
    # clamped vacuum must retain manifests back to the view's cursor
    M.vacuum_source_safely(src, keep_last=1, views=[vw])
    ND.refresh_near_dup_pairs_view(spark, vw, recompute_fraction=None)
    assert _view_pairs(spark, vw) == _pairs_of(
        docs.where(F.col("doc_id") % 9 != 0))


def test_heal_after_unsafe_vacuum(spark, nd):
    docs, src, vw = nd
    V.append(spark, src, docs.where(F.col("doc_id") % 3 == 2))
    V.vacuum(src, keep_last=1)  # reaps the cursor's manifest
    # forced-incremental (None): named failure; the SHIPPED default
    # (cost dispatch): self-heal recompute
    with pytest.raises(RuntimeError):
        ND.refresh_near_dup_pairs_view(spark, vw,
                                       recompute_fraction=None)
    ND.refresh_near_dup_pairs_view(spark, vw)
    assert _view_pairs(spark, vw) == _pairs_of(docs)


def test_pairs_view_under_cascade_stream(spark, nd):
    """Continuous maintenance: the cascade refresh stream dispatches
    the near_dup kind with no function handle (the spec holds the
    algorithm parameters), so a source commit ripples into the pair
    table while the stream runs."""
    import tempfile

    from rclip_server_spark.streaming import sink

    docs, src, vw = nd
    ckpt = tempfile.mkdtemp(prefix="nd_stream_ckpt_")
    q = sink.start_view_cascade_refresh_stream(spark, vw,
                                               checkpoint_dir=ckpt)
    try:
        V.append(spark, src, docs.where(F.col("doc_id") % 3 == 2))
        q.processAllAvailable()
    finally:
        q.stop()
    assert q.exception() is None
    assert M.describe_view(vw)["fresh"]
    assert _view_pairs(spark, vw) == _pairs_of(docs)


# ---------------------------------------------------------------------------
# EMBEDDING flavor: hyperplane-multiset candidates + exact cosine,
# same maintenance skeleton — parity oracle is the one-shot pipeline
# ---------------------------------------------------------------------------

ETHRESH = 0.4  # synthetic embeddings are near-orthogonal


def _epairs_of(df):
    from rclip_server_spark.operators import ann
    return sorted(tuple(r) for r in ann.hyperplane_lsh_near_dup_multiset(
        df, threshold=ETHRESH, n_planes=6, n_sets=3, dim=64).collect())


def _eview_pairs(spark, vw):
    return sorted(tuple(r) for r in
                  ND.read_embed_near_dup_pairs_view(spark, vw).collect())


@pytest.fixture()
def ed(spark, embeddings, tmp_path):
    emb = embeddings.select("vec_id", "embedding")
    src = str(tmp_path / "emb")
    vw = str(tmp_path / "epairs")
    V.create(spark, src, emb.where(F.col("vec_id") % 3 != 2))
    ND.create_embed_near_dup_pairs_view(spark, src, vw, key="vec_id",
                                        threshold=ETHRESH, dim=64)
    return emb, src, vw


def test_embed_create_append_delete_update(spark, ed):
    emb, src, vw = ed
    assert _eview_pairs(spark, vw) == _epairs_of(
        emb.where(F.col("vec_id") % 3 != 2))
    V.append(spark, src, emb.where(F.col("vec_id") % 3 == 2))
    ND.refresh_embed_near_dup_pairs_view(spark, vw,
                                         recompute_fraction=None)
    assert _eview_pairs(spark, vw) == _epairs_of(emb)
    V.delete_rows(spark, src,
                  emb.where(F.col("vec_id") % 7 == 0).select("vec_id"),
                  "vec_id")
    ND.refresh_embed_near_dup_pairs_view(spark, vw,
                                         recompute_fraction=None)
    assert _eview_pairs(spark, vw) == _epairs_of(
        emb.where(F.col("vec_id") % 7 != 0))
    # update: give a slice of vectors OTHER rows' embeddings
    donors = emb.where(F.col("vec_id") % 10 == 1).limit(10).select(
        F.col("embedding").alias("e2"))
    victims = (emb.where((F.col("vec_id") % 10 == 4)
                         & (F.col("vec_id") % 7 != 0))
               .limit(10).select("vec_id"))
    upd = (victims.join(donors).limit(10)
           .select("vec_id", F.col("e2").alias("embedding"))).persist()
    V.upsert(spark, src, upd, key="vec_id")
    ND.refresh_embed_near_dup_pairs_view(spark, vw,
                                         recompute_fraction=None)
    assert _eview_pairs(spark, vw) == _epairs_of(V.read(spark, src))
    upd.unpersist()


def test_embed_dispatch_describe_heal(spark, ed):
    emb, src, vw = ed
    V.append(spark, src, emb.where(F.col("vec_id") % 3 == 2))
    M.refresh_view(spark, vw)  # kind-dispatched
    d = M.describe_view(vw)
    assert d["view_kind"] == "embed_near_dup" and d["fresh"]
    assert M.view_base_tables(vw) == [src]
    assert _eview_pairs(spark, vw) == _epairs_of(emb)
    # heal after an unsafe vacuum: named error incremental, recompute
    # under the shipped default
    V.delete_rows(spark, src,
                  emb.where(F.col("vec_id") % 5 == 0).select("vec_id"),
                  "vec_id")
    V.vacuum(src, keep_last=1)
    with pytest.raises(RuntimeError):
        ND.refresh_embed_near_dup_pairs_view(spark, vw,
                                             recompute_fraction=None)
    ND.refresh_embed_near_dup_pairs_view(spark, vw)
    assert _eview_pairs(spark, vw) == _epairs_of(
        emb.where(F.col("vec_id") % 5 != 0))
