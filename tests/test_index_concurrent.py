"""Concurrent-writer index maintenance (r13, verdict task 5): a
running REFRESH STREAM maintains an index while a second WRITER
ingests into the source at the same time. The stream's refreshes ride
the OCC rebase loop (versioned.with_retry) and the manifest-log
tail wakes it per source commit, so the proof obligation is
convergence: after the writer finishes and the stream drains, the
index state must equal a from-scratch rebuild over the source head —
any lost refresh, double-applied interval, or torn cursor shows up as
a postings/bucket diff. Both index kinds run; the ANN one on the
bucketed at-rest layout so the concurrent refreshes exercise the
bucketed delete_and_append twin."""

import threading

import pytest
from pyspark.sql import functions as F

from rclip_server_spark import sql as S
from rclip_server_spark.sources import annindex as AI
from rclip_server_spark.sources import indexkind as IK
from rclip_server_spark.sources import textindex as TI
from rclip_server_spark.sources import versioned as V

QV = [0.125] * 32 + [-0.125] * 32
N_BATCHES = 6


@pytest.fixture()
def cat(tmp_path):
    return S.Catalog(str(tmp_path / "cat"))


def _ingest_with_retry(spark, src_path: str, batch, dels=None,
                       key: str = "doc_id") -> None:
    """One writer commit under the standard OCC rebase loop — appends
    are order-independent, delete_and_append re-reads the advanced
    head, so a plain re-run is the correct rebase."""
    for _ in range(50):
        try:
            if dels is not None:
                V.delete_and_append(spark, src_path, dels, key, batch)
            else:
                V.append(spark, src_path, batch)
            return
        except V.ConcurrentWriteError:
            continue
    raise RuntimeError("ingest rebase loop exhausted")


def _writer_thread(spark, src_path, mk_batch, key, errors):
    try:
        for j in range(N_BATCHES):
            batch, dels = mk_batch(j)
            _ingest_with_retry(spark, src_path, batch, dels, key)
    except Exception as e:  # pragma: no cover - failure reporting
        import traceback

        errors.append(f"{type(e).__name__}: {e}\n"
                      f"{traceback.format_exc()}")


def _run_concurrent(spark, cat, view_name, src_path, mk_batch, key):
    """START the refresh stream, ingest from a second thread while it
    runs, drain, stop — returns nothing; caller asserts parity."""
    S.execute(spark, f"START REFRESH STREAM ON VIEW {view_name}", cat)
    errors: list[str] = []
    try:
        q = S._STREAMS[S._stream_key(cat, view_name)]
        t = threading.Thread(
            target=_writer_thread,
            args=(spark, src_path, mk_batch, key, errors))
        t.start()
        # the stream processes micro-batches WHILE the writer commits
        q.processAllAvailable()
        t.join(timeout=300)
        assert not t.is_alive(), "writer thread hung"
        assert not errors, errors[0]
        # drain whatever the tail saw after the writer's last commit
        q.processAllAvailable()
    finally:
        S.execute(spark, f"STOP REFRESH STREAM ON VIEW {view_name}",
                  cat)


def test_text_index_stream_vs_concurrent_ingest(spark, documents,
                                                cat):
    docs = documents.select("doc_id", "text").where(
        F.col("doc_id") % 3 == 0).limit(300)
    docs.createOrReplaceTempView("seed_ci")
    S.execute(spark, "CREATE TABLE ci OPTIONS (key='doc_id') AS "
                     "SELECT * FROM seed_ci", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW ci_idx USING "
                     "text_index OPTIONS (source='ci', key='doc_id', "
                     "buckets=8)", cat)
    src = cat.get("ci")["path"]
    vp = cat.get("ci_idx")["path"]
    base = docs.persist()
    base.count()

    def mk_batch(j):
        ins = base.limit(30).select(
            (F.col("doc_id") + (j + 1) * 1_000_000).alias("doc_id"),
            "text")
        # every second batch also retracts the previous batch's docs
        dels = None
        if j % 2 == 1:
            dels = base.limit(30).select(
                (F.col("doc_id") + j * 1_000_000).alias("doc_id"))
        return ins, dels

    _run_concurrent(spark, cat, "ci_idx", src, mk_batch, "doc_id")
    # convergence: index == rebuild over the source head, cursor at
    # head, stats exact — zero lost refreshes
    cur = S.execute(spark, "SELECT doc_id, text FROM ci", cat)
    got = TI.read_text_index(spark, vp)
    want = TI._postings(cur, "doc_id", "text")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    spec = IK.spec_of("text_index", vp)
    assert int(spec["ti_source_version"]) == V.current_version(src)
    nd, tl = TI._corpus_stats(cur, "text")
    assert (spec["ti_ndocs"], spec["ti_total_len"]) == (nd, tl)
    base.unpersist()


def test_ann_index_stream_vs_concurrent_ingest(spark, embeddings,
                                               cat):
    from rclip_server_spark.operators.ann import (hyperplane_bucket_col,
                                                  hyperplanes)

    vecs = embeddings.select("vec_id", "embedding").where(
        F.col("vec_id") % 2 == 0).limit(300)
    vecs.createOrReplaceTempView("seed_cv")
    S.execute(spark, "CREATE TABLE cv OPTIONS (key='vec_id') AS "
                     "SELECT * FROM seed_cv", cat)
    S.execute(spark, "CREATE MATERIALIZED VIEW cv_idx USING "
                     "ann_index OPTIONS (source='cv', key='vec_id', "
                     "n_planes=4, buckets=8)", cat)
    src = cat.get("cv")["path"]
    vp = cat.get("cv_idx")["path"]
    base = vecs.persist()
    base.count()

    def mk_batch(j):
        ins = base.limit(30).select(
            (F.col("vec_id") + (j + 1) * 1_000_000).alias("vec_id"),
            "embedding")
        dels = None
        if j % 2 == 1:
            dels = base.limit(30).select(
                (F.col("vec_id") + j * 1_000_000).alias("vec_id"))
        return ins, dels

    _run_concurrent(spark, cat, "cv_idx", src, mk_batch, "vec_id")
    cur = S.execute(spark, "SELECT vec_id, embedding FROM cv", cat)
    planes = hyperplanes(4, 64, 42)
    want = cur.select(
        hyperplane_bucket_col(F.col("embedding"), planes)
        .alias("bucket"), "vec_id")
    got = AI.read_ann_index(spark, vp).select("bucket", "vec_id")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    spec = IK.spec_of("ann_index", vp)
    assert int(spec["ai_source_version"]) == V.current_version(src)
    # the maintained state still answers exactly (indexed == ad-hoc)
    from rclip_server_spark.operators import ann

    got_q = AI.query_ann_index(spark, vp, QV, k=10, n_probe_bits=1)
    want_q = ann.lsh_topk_multiprobe(cur, QV, k=10, n_planes=4,
                                     n_probe_bits=1, seed=42)
    assert [(r[0], round(r[1], 9)) for r in got_q.collect()] == \
        [(r[0], round(r[1], 9)) for r in want_q.collect()]
    base.unpersist()
