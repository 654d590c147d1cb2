"""Driver-contract smoke + distributed embedding parity (D1/D2)."""

import numpy as np
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from rclip_server_spark.operators import multimodal
from rclip_server_spark.plans.embedder import DeterministicEmbedder

E = DeterministicEmbedder(64)


def test_entry_returns_flagship_topk(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 12
    assert set(df.columns) == {"vec_id", "score"}
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_every_oracle_key_has_a_query():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 50
    assert len(oracles) >= 45


def test_embed_text_column_matches_driver_embedder(spark, documents):
    sample = documents.limit(8)
    got = {
        r.doc_id: np.array(r.embedding)
        for r in multimodal.embed_documents(sample).collect()
    }
    for r in sample.collect():
        np.testing.assert_allclose(got[r.doc_id], E.embed_text(r.text), atol=1e-12)


def test_embed_binary_column_deterministic(spark, documents):
    urls = documents.limit(6).select(
        F.concat(F.lit("http://x/"), F.col("doc_id")).alias("url")
    )
    fetched = multimodal.fetch_url_stub(urls)
    embedded = multimodal.embed_binary_column(fetched)
    a = {r.url: list(r.embedding) for r in embedded.collect()}
    b = {r.url: list(r.embedding) for r in embedded.collect()}
    assert a == b
    for v in a.values():
        assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-9


def test_video_frame_sampling_explodes_and_bounds(spark, documents):
    # filter, not limit: a global limit would add its own gather Exchange
    # and mask what this test pins (the operator itself is map-only)
    vids = documents.where(F.col("doc_id") < 6).select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    frames = multimodal.sample_video_frames(vids, max_frames=4, every_ms=500)
    rows = frames.collect()
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r.video_id, []).append(r)
    assert set(by_vid) == {r.doc_id for r in vids.collect()}
    for vid, fr in by_vid.items():
        assert 1 <= len(fr) <= 4  # bounded explosion
        idxs = sorted(f.frame_idx for f in fr)
        assert idxs == list(range(len(fr)))  # dense frame indices
        for f in fr:
            assert f.frame_ts_ms == f.frame_idx * 500
            assert isinstance(f.frame, (bytes, bytearray)) and len(f.frame) == 16
    # deterministic
    again = {(r.video_id, r.frame_idx): bytes(r.frame) for r in frames.collect()}
    assert {(r.video_id, r.frame_idx): bytes(r.frame) for r in rows} == again
    # map-only: no Exchange in the physical plan
    assert "Exchange" not in frames._jdf.queryExecution().executedPlan().toString()


def test_audio_features_fixed_width_and_deterministic(spark, documents):
    clips = documents.limit(5).select(
        "doc_id", F.col("text").cast("binary").alias("content")
    )
    out = multimodal.audio_features(clips, n_mels=12)
    rows = out.collect()
    assert all(len(r.audio_feats) == 12 for r in rows)
    assert all(all(0.0 <= x <= 2.0 for x in r.audio_feats) for r in rows)
    assert [r.audio_feats for r in out.collect()] == [r.audio_feats for r in rows]
