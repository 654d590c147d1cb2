"""Serving layer (A15), external sources (B11/B12),
TF-IDF, and exact-vs-approx phrase scoring (A13)."""

import json
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import SF_DIR, spark_jobs

from rclip_server_spark.operators import similarity, text_analysis
from rclip_server_spark.plans import serving
from rclip_server_spark.plans.embedder import DeterministicEmbedder
from rclip_server_spark.sources import external, project_dynamic

E = DeterministicEmbedder(64)


def test_visualize_embedding_html():
    html = serving.visualize_embedding([0.0, 0.5, 1.0])
    assert html.count("<td") == 3
    assert serving.colormap_hex(0.0) == "#3b4cc0"
    assert serving.colormap_hex(1.0) == "#b40426"
    assert serving.colormap_hex(0.5) == "#dddddd"


def test_copyright_branch():
    assert "wikimedia" in serving.copyright_message("wikimedia_images.sqlite3")
    assert "wikimedia" not in serving.copyright_message("my_photos.db")


def test_read_ndjson_seeded_shuffle(spark, tmp_path):
    p = tmp_path / "meta.ndjson"
    with open(p, "w") as f:
        for i in range(20):
            f.write(json.dumps({"url": f"u{i}", "descriptionurl": f"d{i}"}) + "\n")
    df = external.read_ndjson(spark, str(p))
    assert df.count() == 20 and set(df.columns) == {"url", "descriptionurl"}
    a = [r.url for r in external.read_ndjson(spark, str(p), shuffle_seed=1).collect()]
    b = [r.url for r in external.read_ndjson(spark, str(p), shuffle_seed=1).collect()]
    assert a == b  # seeded order is reproducible


def test_tfidf_matches_hand_computation(spark):
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a c")], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.token): (r.tf, r.df, r.tfidf)
        for r in text_analysis.tfidf(docs).collect()
    }
    # 'a' appears in both docs -> idf = ln(2/2) = 0
    assert got[(1, "a")] == (2, 2, 0.0)
    assert got[(2, "a")] == (1, 2, 0.0)
    # 'b' only in doc 1, tf 1 -> ln(2/1)
    assert abs(got[(1, "b")][2] - math.log(2.0)) < 1e-12
    assert abs(got[(2, "c")][2] - math.log(2.0)) < 1e-12


def test_top_terms_deterministic(spark, documents):
    out = text_analysis.top_terms_per_doc(documents.limit(20), k=3).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.rnk)
    for ranks in per_doc.values():
        assert ranks == sorted(ranks) and len(ranks) <= 3


def test_exact_vs_approx_phrase_scores(spark, embeddings):
    words = embeddings.select(
        F.col("vec_id").cast("string").alias("word"), F.col("embedding").alias("vector")
    )
    phrases = spark.createDataFrame(
        [("1 2", ["1", "2"])], "phrase_id string, words array<string>"
    )
    qv = E.embed_text("zebra")
    row = similarity.phrase_scores_exact_vs_approx(words, phrases, qv, E).collect()[0]
    # approx = dot with normalized sum of member vectors
    m = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in embeddings.limit(5).collect()}
    want = m[1] + m[2]
    want /= np.linalg.norm(want)
    assert abs(row.approx_score - float(want @ qv)) < 1e-9
    # exact = dot with the model-encoded phrase string
    assert abs(row.exact_score - float(E.embed_text("1 2") @ qv)) < 1e-12


def test_events_ts_loads_as_timestamp(spark, events):
    """Pin the loader's `ts` dtype on the installed Spark: the fixture stores
    TIMESTAMP(NANOS), and whichever way the engine surfaces it (long under
    nanosAsLong, TIMESTAMP_NTZ under Spark 4.1+), catalog.load_table must
    deliver a plain TIMESTAMP with micros precision and 2024-era values —
    so an engine upgrade can't silently re-break every event-time query."""
    from pyspark.sql import types as T

    assert isinstance(events.schema["ts"].dataType, T.TimestampType)
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    assert lo.year >= 2020 and hi.year <= 2030  # not 1970-shifted


def test_streaming_schema_ts_matches_batch(spark, events, tmp_path):
    """The streaming reader's declared schema must yield the same `ts`
    values as the batch loader (guards the bigint-vs-ntz drift)."""
    import shutil

    from rclip_server_spark.streaming import windows as SW

    d = str(tmp_path / "ev")
    os.makedirs(d)
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), d)
    stream = SW.read_events_stream(spark, d)
    assert isinstance(stream.schema["ts"].dataType, T.TimestampType)


def test_words_table_load_sniff_both_branches(spark, tmp_path):
    """RS:68-69 semantics: words table is loaded iff the file exists, else
    derived from the corpus."""
    from rclip_server_spark.sources import load_words_table

    # file-present branch: a staged words.parquet wins
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(
        [("zebra", [1.0, 0.0]), ("spots", [0.0, 1.0])], "word string, vector array<double>"
    ).write.parquet(os.path.join(d, "words.parquet"))
    got = load_words_table(spark, d)
    assert sorted(r.word for r in got.collect()) == ["spots", "zebra"]

    # file-absent branch: derived from the documents corpus (distributed
    # embed -> unit-norm vectors of the requested dim)
    derived = load_words_table(spark, SF_DIR, dim=8)
    row = derived.limit(1).collect()[0]
    assert len(row.vector) == 8
    assert abs(sum(x * x for x in row.vector) - 1.0) < 1e-6


def test_project_dynamic_branches(documents):
    both = project_dynamic(documents, ("doc_id",), ("lang", "missing_col"))
    assert both.columns == ["doc_id", "lang"]
    none = project_dynamic(documents, ("doc_id",), ("missing_col",))
    assert none.columns == ["doc_id"]


def test_python_datasource_partitioned_enumeration(spark):
    from rclip_server_spark.sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("external_enum")
        .option("total", 250)
        .option("page_size", 100)
        .load()
    )
    assert df.count() == 250
    assert df.rdd.getNumPartitions() == 3  # 100+100+50: pages parallelize
    rows = df.orderBy("page_index").limit(2).collect()
    assert rows[0].title.startswith("File:pic_0_")
    assert rows[0].url.startswith("http://img.example/commons/")
    # deterministic: same options -> same rows
    again = (
        spark.read.format("external_enum")
        .option("total", 250).option("page_size", 100).load()
    )
    assert sorted(r.url for r in again.collect()) == sorted(r.url for r in df.collect())


def test_versioned_cdc_stream_tails_appends(spark, tmp_path):
    """The read-side complement of the exactly-once versioned sink: a
    versioned_cdc readStream tails the manifest log — each micro-batch is
    exactly the segments the new commits added (O(delta), no pre-existing
    segment opened), offsets are version numbers in the checkpoint, and a
    history-rewriting commit (upsert) fails the stream loudly instead of
    emitting rows that were never changes."""
    from rclip_server_spark.sources import cdc_stream
    from rclip_server_spark.sources import versioned as V

    cdc_stream.register(spark)
    t = str(tmp_path / "v")
    mk = lambda rows: spark.createDataFrame(rows, "id long, val string")
    V.create(spark, t, mk([(1, "a"), (2, "b")]))
    V.append(spark, t, mk([(3, "c")]))

    # backfill from v1: the initial batch replays the full append history
    stream = (
        spark.readStream.format("versioned_cdc")
        .option("path", t).option("from_version", 1).load()
    )
    q = (
        stream.writeStream.format("memory").queryName("cdc_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {(r.id, r.val) for r in spark.sql("select * from cdc_tail").collect()}
        assert got == {(1, "a"), (2, "b"), (3, "c")}
        # live tail: two more append commits arrive as new micro-batches
        V.append(spark, t, mk([(4, "d")]))
        V.append_exactly_once(spark, t, mk([(5, "e")]), batch_id=9)
        q.processAllAvailable()
        got = {(r.id, r.val) for r in spark.sql("select * from cdc_tail").collect()}
        assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")}
        # exactly once across the pipeline: no duplicates
        assert spark.sql("select count(*) from cdc_tail").first()[0] == 5
    finally:
        q.stop()

    # schema evolution: a NEW column appended after the stream's segments —
    # a fresh stream declares the union schema (manifest col_types) and the
    # pre-evolution segments read the new column as typed NULLs
    V.append(spark, t, spark.createDataFrame(
        [(6, "f", 1.5)], "id long, val string, score double"))
    q3 = (
        spark.readStream.format("versioned_cdc")
        .option("path", t).option("from_version", 1).load()
        .writeStream.format("memory").queryName("cdc_evolved")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .outputMode("append").start()
    )
    try:
        q3.processAllAvailable()
        rows = {r.id: r.score for r in spark.sql(
            "select * from cdc_evolved").collect()}
        assert rows[6] == 1.5
        assert rows[1] is None and len(rows) == 6
    finally:
        q3.stop()

    # a rewrite breaks the append-only contract -> the stream fails loudly
    V.upsert(spark, t, mk([(1, "A")]), "id")
    q2 = (
        spark.readStream.format("versioned_cdc")
        .option("path", t).option("from_version", 1).load()
        .writeStream.format("memory").queryName("cdc_broken")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append").start()
    )
    try:
        with pytest.raises(Exception, match="append-only|STREAM_FAILED"):
            q2.processAllAvailable()
            q2.awaitTermination(30)
    finally:
        q2.stop()


def test_python_streaming_datasource_to_upsert_sink(spark, tmp_path):
    """The full streaming indexer spine on the Spark 4 Python datasource
    API: external_enum readStream (cursor-paginated micro-batches) ->
    foreachBatch upsert -> serving table. 250 rows over 3+
    micro-batches land exactly once, keyed by title."""
    from rclip_server_spark.sources import pydatasource, writer

    pydatasource.register(spark)
    table = str(tmp_path / "indexed")
    stream = (
        spark.readStream.format("external_enum")
        .option("total", 250)
        .option("page_size", 100)
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _: writer.upsert_parquet(spark, table, df, key="title"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(table)
    assert got.count() == 250
    assert got.select("title").distinct().count() == 250
    assert got.agg(F.min("page_index"), F.max("page_index")).first() == (0, 249)


def test_table_row_count_metadata_only(spark, tmp_path):
    """catalog.table_row_count answers from parquet footers — exact, zero
    Spark jobs (status-tracker-asserted) — for single files and
    multi-file directory trees."""
    from rclip_server_spark.sources.catalog import table_row_count

    d = str(tmp_path / "t")
    spark.range(1234).repartition(4).write.parquet(d)
    with spark_jobs(spark) as jobs:
        assert table_row_count(d) == 1234
    assert jobs == []
    assert table_row_count("/root/testdata/sf0.01/lineitem.parquet") == 60000
