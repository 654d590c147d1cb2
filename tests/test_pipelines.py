"""End-to-end composite pipelines: the indexer as one DataFrame job (§3.3)
and the /search_api lifecycle over the indexed table (§3.1)."""

import json

import pytest

from rclip_server_spark import pipelines
from rclip_server_spark.plans.embedder import DeterministicEmbedder

E = DeterministicEmbedder(64)


def _live(spark, table):
    """The table's live (id, vector) rows, the frame search_api scans."""
    from rclip_server_spark.sources import writer

    return writer.live_rows(spark.read.parquet(table)).select("id", "vector")


@pytest.fixture()
def meta_ndjson(tmp_path):
    p = tmp_path / "quality_metadata.ndjson"
    with open(p, "w") as f:
        for i in range(30):
            ext = ["jpg", "png", "svg", "gif", "webm"][i % 5]
            f.write(
                json.dumps(
                    {
                        "url": f"http://img.example/commons/pic_{i}.{ext}",
                        "descriptionurl": f"http://img.example/wiki/pic_{i}",
                    }
                )
                + "\n"
            )
    return str(p)


def test_indexer_pipeline_and_incremental_skip(spark, tmp_path, meta_ndjson):
    table = str(tmp_path / "images")
    # 30 urls, 3 of 5 extensions allowed -> 18 indexed
    n1 = pipelines.index_images(spark, meta_ndjson, table)
    assert n1 == 18
    df = spark.read.parquet(table)
    assert df.count() == 18
    row = df.first()
    assert len(row.vector) == 64
    assert "/commons/thumb/" in row.wikimedia_thumb_url

    # second run: anti-join skips everything already indexed
    n2 = pipelines.index_images(spark, meta_ndjson, table)
    assert n2 == 0
    assert spark.read.parquet(table).count() == 18


def test_local_binary_ingest_end_to_end(spark, tmp_path):
    """B16's network-free branch over REAL local binary fixtures: the
    binaryFile source scans the directory distributed, pathGlobFilter
    drops non-images at planning time, the anti-join makes rerun/delta
    runs incremental, and the indexed table serves search_api."""
    d = tmp_path / "imgs"
    d.mkdir()
    for i in range(12):
        ext = ["jpg", "png", "gif", "txt"][i % 4]
        (d / f"pic_{i:03d}.{ext}").write_bytes(bytes([i]) * (100 + i))
    table = str(tmp_path / "images_local")
    n1 = pipelines.index_local_images(spark, str(d), table)
    assert n1 == 9  # the three .txt files never enter the scan
    df = spark.read.parquet(table)
    assert df.count() == 9
    row = df.where(df.filepath.endswith("pic_000.jpg")).first()
    assert row.size == 100 and len(row.vector) == 64
    # the stub embedder is deterministic on the file bytes
    again = pipelines.index_local_images(
        spark, str(d), str(tmp_path / "images_local2"))
    assert again == 9
    row2 = (spark.read.parquet(str(tmp_path / "images_local2"))
            .where("filepath like '%pic_000.jpg'").first())
    assert list(row2.vector) == list(row.vector)
    # incremental: second run over the same directory is a no-op
    assert pipelines.index_local_images(spark, str(d), table) == 0
    # delta: one new image → exactly one row upserted
    (d / "pic_new.png").write_bytes(b"\x7f" * 50)
    assert pipelines.index_local_images(spark, str(d), table) == 1
    assert spark.read.parquet(table).count() == 10
    # the indexed table is a live search target (§3.1 lifecycle)
    out = pipelines.search_api(_live(spark, table), "zebra", E, num=3)
    assert out.count() == 3


def test_search_api_over_indexed_table(spark, tmp_path, meta_ndjson):
    table = str(tmp_path / "images")
    pipelines.index_images(spark, meta_ndjson, table)

    out = pipelines.search_api(_live(spark, table), "zebra -stripes", E, num=5)
    rows = out.collect()
    assert len(rows) == 5
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)

    # empty query -> empty result (reference rclip_server.py:138-139, 389)
    assert pipelines.search_api(_live(spark, table), "", E).count() == 0

    # soft-deleted rows disappear from search
    from rclip_server_spark.sources import writer

    all_ids = [r.id for r in spark.read.parquet(table).select("id").collect()]
    writer.soft_delete(spark, table, all_ids[:10], id_col="id")
    assert pipelines.search_api(_live(spark, table), "zebra", E, num=100).count() == 8


def test_words_table_and_similar_words_from_corpus(spark, documents):
    from rclip_server_spark import pipelines

    words = pipelines.build_words_table(spark, documents.limit(50))
    assert words.count() > 0
    assert set(words.columns) == {"word", "vector"}
    out = pipelines.similar_words_from_corpus(
        spark, documents.limit(50), "zebra", E, k=10
    ).collect()
    assert 0 < len(out) <= 10
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)
    assert pipelines.similar_words_from_corpus(spark, documents, "", E).count() == 0


def test_curate_corpus_end_to_end(spark, documents):
    from pyspark.sql import functions as F

    from rclip_server_spark.operators import dedup
    from rclip_server_spark.pipelines import curate_corpus

    # inject near-dups so the dedup stage has work
    clones = documents.limit(3).withColumn("doc_id", F.col("doc_id") + 70_000)
    corpus = documents.unionByName(clones)
    out = curate_corpus(corpus, dedup_threshold=0.9).cache()
    n_in, n_out = corpus.count(), out.count()
    assert 0 < n_out < n_in
    rows = out.collect()
    # the pipeline's output contract
    assert set(out.columns) == {"doc_id", "text", "lang_pred", "quality", "n_tokens", "split"}
    assert all(r.split in ("train", "val", "test") for r in rows)
    assert all("@" not in r.text for r in rows)  # PII gone
    # dedup-then-split: no near-dup pair may survive into the output at all
    residual = dedup.minhash_near_dup(
        out.select("doc_id", "text"), threshold=0.9
    ).count()
    assert residual == 0
    # injected clones must have collapsed to one representative each
    for r in documents.limit(3).collect():
        kept = [x for x in rows if x.doc_id in (r.doc_id, r.doc_id + 70_000)]
        assert len(kept) <= 1
