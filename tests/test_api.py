"""Endpoint-parity layer (§2.E): every reference endpoint exercised over an
indexed table built by the real indexer pipeline."""

import json

import pytest
from pyspark.sql import functions as F

from rclip_server_spark import pipelines
from rclip_server_spark.api import RclipServerApi
from rclip_server_spark.plans.embedder import DeterministicEmbedder

E = DeterministicEmbedder(64)


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("api")
    meta = tmp / "meta.ndjson"
    with open(meta, "w") as f:
        for i in range(40):
            f.write(
                json.dumps({"url": f"http://img.example/commons/600px-pic_{i}.jpg"}) + "\n"
            )
    table = str(tmp / "images")
    pipelines.index_images(spark, str(meta), table)
    words = spark.createDataFrame(
        [(w, [float(x) for x in E.embed_text(w)]) for w in
         ["zebra", "stripes", "spots", "lion", "cat", "dog", "bird", "fish"]],
        "word string, vector array<double>",
    )
    api = RclipServerApi(spark, table, E, words_df=words, censorship_key="k3y")
    yield api
    api.close()


def test_search_api_shape_and_default_k(api):
    out = api.search_api("zebra -stripes")
    assert len(out) == 12
    assert all(len(pair) == 2 for pair in out)
    assert api.search_api("") == []  # empty query contract (RS:389)
    assert len(api.search_api("zebra", num=3)) == 3


def test_similar_words_and_phrases(api):
    out = api.similar_words("zebra")
    assert len(out["similar_words"]) == 8  # whole table < 50
    top_word, top_score = out["similar_words"][0]
    assert top_word == "zebra" and top_score == pytest.approx(1.0, abs=1e-9)
    # endpoint slice contract (RS:399-402 via api.py): best_phrases
    # returns the top-100 of 3000 sampled candidates; the endpoint
    # serves the first 50
    assert len(out["similar_phrases"]) == 50
    assert all(len(p.split()) in (2, 3, 4) for p, _ in out["similar_phrases"])


def test_clip_embedding_endpoints(api):
    e = api.clip_embedding("zebra")["clip_embedding"]
    assert len(e) == 64
    t = api.clip_text_embedding("zebra")["clip_embedding"]
    assert t == pytest.approx(list(E.embed_text("zebra")), abs=1e-12)
    html = api.visualize_clip_embedding("zebra")["clip_embedding"]
    assert html.count("<td") == 64


def test_censor_guard_and_soft_delete(api):
    before = api.reload()
    some_id = api.search_api("zebra", num=1)[0][0]
    with pytest.raises(PermissionError):
        api.censor(some_id, "wrong")
    assert api.censor(some_id, "k3y") == {"deleted": some_id}
    assert api.reload() == before - 1
    assert all(pair[0] != some_id for pair in api.search_api("zebra", num=100))


def test_redirects_and_info(api):
    some_id = api.search_api("zebra", num=1)[0][0]
    assert api.img_redirect(some_id).startswith("http://img.example/")
    assert "/250px-" in api.thm_redirect(some_id, size=250)
    assert api.thm_redirect(-1) == "placeholder.svg"
    info = api.info(some_id)
    assert info["id"] == some_id and info["filepath"].startswith("http://")
    with pytest.raises(KeyError):
        api.info(10**12)


def test_dedup_endpoint_works_unlike_reference(spark, api):
    # inject an exact duplicate vector under a new id, then dedup
    df = spark.read.parquet(api.table_path)
    dup = df.limit(1).withColumn("id", F.lit(999999).cast("long")).withColumn(
        "filepath", F.lit("http://img.example/commons/600px-dup.jpg")
    )
    from rclip_server_spark.sources import writer

    writer.upsert_parquet(spark, api.table_path, dup, key="filepath")
    assert api.dedup() == 1
    assert api.dedup() == 0  # idempotent


def test_copyright_branch(api):
    assert "owners" in api.copyright_message() or "wikimedia" in api.copyright_message()
