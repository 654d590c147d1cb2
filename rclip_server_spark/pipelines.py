"""End-to-end composite pipelines (reference §3.3: index_wikimedia.py's whole
main loop as ONE DataFrame job).

The reference indexes sequentially — one image per HTTP round-trip, guarded
by a filelock, with a per-row existence re-check (IW:187-200). Expressed as a
DataFrame pipeline all of that dissolves: the anti-join does the incremental
skip (no driver-side set), the fetch/embed stages are batched map-only UDFs,
and the MERGE upsert replaces the filelock. Every stage before the sink is
lazy — one job, end to end.

    ndjson scan (B11)
      → anti-join against already-indexed (B8)
      → extension allowlist filter (B13)
      → thumb-URL rewrite (B14)
      → fetch (B16, stubbed) → embed (D2, stubbed model)
      → upsert on filepath (B6)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.localrel import values_df
from .operators import multimodal
from .sources import external, writer

ALLOWED_EXT_RE = r"\.(jpg|jpeg|png|gif)$"


def _count_and_upsert(spark: SparkSession, rows: DataFrame,
                      table_path: str) -> int:
    """Count + conditional upsert of an indexed-rows frame, persisted
    across the two actions: without the persist the whole
    scan→anti-join→embed pipeline executes twice, and the embed stage
    dominates once a real encoder replaces the stub."""
    rows = rows.persist()
    try:
        n = rows.count()
        if n:
            writer.upsert_parquet(spark, table_path, rows,
                                  key="filepath")
    finally:
        rows.unpersist()
    return n


def index_images(
    spark: SparkSession,
    metadata_ndjson: str,
    table_path: str,
    url_col: str = "url",
    dim: int = 64,
    shuffle_seed: int | None = 42,
) -> int:
    """Run the full indexing pipeline; returns rows upserted.

    Incremental: a second run over the same metadata upserts the same keys
    (count stable), and new metadata only processes the delta."""
    meta = external.read_ndjson(spark, metadata_ndjson, shuffle_seed=shuffle_seed)
    writer.create_images_table(spark, table_path)
    done = spark.read.parquet(table_path).select(F.col("filepath").alias(url_col))
    todo = writer.anti_join_skip(meta, done, url_col)

    todo = todo.where(F.regexp_extract(F.col(url_col), ALLOWED_EXT_RE, 1) != "")
    todo = todo.withColumn(
        "thumb_url",
        F.regexp_replace(F.col(url_col), "/commons/", "/commons/thumb/"),
    )

    fetched = multimodal.fetch_url_stub(todo, url_col=url_col, out_col="content")
    embedded = multimodal.embed_binary_column(fetched, bin_col="content", dim=dim)

    rows = embedded.select(
        F.abs(F.xxhash64(url_col)).alias("id"),
        F.lit(None).cast("boolean").alias("deleted"),
        F.col(url_col).alias("filepath"),
        F.current_timestamp().alias("modified_at"),
        F.length("content").cast("long").alias("size"),
        F.col("embedding").cast("array<float>").alias("vector"),
        F.col("thumb_url").alias("wikimedia_thumb_url"),
        F.lit(None).cast("string").alias("wikimedia_descr_url"),
    )
    return _count_and_upsert(spark, rows, table_path)


def index_local_images(
    spark: SparkSession,
    image_dir: str,
    table_path: str,
    dim: int = 64,
    pattern: str = "*.{jpg,jpeg,png,gif}",
) -> int:
    """B16's NETWORK-FREE branch: index a LOCAL image directory end to
    end. The reference serves local files too (rclip_server.py:440-446)
    and its indexer's fetch (index_wikimedia.py:136-143) is just "get
    the bytes" — for a local corpus Spark's ``binaryFile`` source does
    that as a DISTRIBUTED scan: files are partitioned across executors,
    each row carries (path, modificationTime, length, content), and the
    extension allowlist is a planning-time ``pathGlobFilter`` so
    non-image files are never even opened (the DataFrame twin of the
    B13 extension filter). Everything downstream — the B8 anti-join
    incremental skip, D2 embed, B6 upsert — is the same real pipeline
    the URL branch uses; only the image DECODE inside the embedder
    stays honestly stubbed (no codecs in this environment).

    Returns rows upserted; a second run over the same directory is
    incremental (returns 0)."""
    writer.create_images_table(spark, table_path)
    src = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(image_dir)
        .select("path", "modificationTime", "length", "content")
    )
    done = spark.read.parquet(table_path).select(
        F.col("filepath").alias("path"))
    todo = writer.anti_join_skip(src, done, "path")
    embedded = multimodal.embed_binary_column(
        todo, bin_col="content", dim=dim)
    rows = embedded.select(
        F.abs(F.xxhash64("path")).alias("id"),
        F.lit(None).cast("boolean").alias("deleted"),
        F.col("path").alias("filepath"),
        F.col("modificationTime").alias("modified_at"),
        F.col("length").cast("long").alias("size"),
        F.col("embedding").cast("array<float>").alias("vector"),
        F.lit(None).cast("string").alias("wikimedia_descr_url"),
        F.lit(None).cast("string").alias("wikimedia_thumb_url"),
    )
    return _count_and_upsert(spark, rows, table_path)


def resolve_live(live: DataFrame, q: str, embedder):
    """Resolve a grammar query against a table's live rows: text terms
    embed, ``{"image_id": N}`` terms look the row up and
    ``{"random_seed": s}`` terms draw a row, both over ``live``.
    Returns the unit query vector, or None (no terms, or terms that
    cancel)."""
    from .operators import similarity
    from .plans.combinator import resolve_query

    return resolve_query(
        q,
        embedder,
        image_lookup=lambda i: similarity.point_lookup_embedding(
            live, i, id_col="id", vec_col="vector"
        ),
        random_image=lambda: similarity.random_row_embedding(live, vec_col="vector"),
    )


def search_api(live: DataFrame, q: str, embedder,
               num: int | None = None) -> DataFrame:
    """The /search_api lifecycle (reference §3.1) over a table's live
    ``(id, vector)`` rows: parse → combinator → cosine top-k → (id,
    score). Resolution and the scan share ``live``; api.RclipServerApi
    passes its pinned frame."""
    from .operators import similarity

    qv = resolve_live(live, q, embedder)
    if qv is None:
        return values_df(live.sparkSession, [], "id long, score double")
    return similarity.topk_similar(live, qv, k=num or 12, id_col="id", vec_col="vector")


def build_words_table(
    spark: SparkSession, documents: DataFrame, dim: int = 64, min_count: int = 2
) -> DataFrame:
    """Derive the words table (reference words.sqlite3 role, RS:292-308) from
    a document corpus: tokenize → lowercase-only predicate (B3) → frequency
    floor → distributed embed (D1). One shuffle (the distinct+count), then a
    map-only embed pass."""
    from .functions import text as TXT

    words = (
        documents.select(F.explode(TXT.tokens(F.col("text"))).alias("word"))
        .where(F.lower(F.col("word")) == F.col("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .select("word")
    )
    return multimodal.embed_text_column(words, "word", "vector", dim).select(
        "word", "vector"
    )


def similar_words_from_corpus(
    spark: SparkSession, documents: DataFrame, q: str, embedder, k: int = 50
) -> DataFrame:
    """End-to-end /similar_words over a REAL text corpus: build the words
    table from the documents, resolve the query, reverse-lookup top-k
    (reference §3.2 lifecycle with the words table derived, not given)."""
    from .operators import similarity
    from .plans.combinator import resolve_query

    qv = resolve_query(q, embedder)
    if qv is None:
        return values_df(spark, [], "word string, score double")
    words = build_words_table(spark, documents, dim=embedder.dim)
    return similarity.best_words(words, qv, k=k)


def embedding_near_dup_documents(
    spark: SparkSession,
    documents: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
) -> DataFrame:
    """End-to-end embedding-cosine near-dup over raw TEXT: distributed embed
    (D1) → multi-set hyperplane LSH → exact-cosine verification. The
    embedding-space twin of minhash_near_dup for semantic (not lexical)
    duplicates."""
    from .operators import ann, multimodal

    embedded = multimodal.embed_documents(documents, dim=dim)
    return ann.hyperplane_lsh_near_dup_multiset(
        embedded, threshold=threshold, dim=dim, id_col="doc_id"
    )


def curate_corpus(
    df: DataFrame,
    min_tokens: int = 5,
    max_punct_ratio: float = 0.2,
    min_quality: float = 0.3,
    langs: tuple[str, ...] | None = None,
    length_band: tuple[float, float] = (0.05, 0.95),
    max_repetition: float = 0.5,
    dedup_threshold: float = 0.7,
    split_weights: dict[str, float] | None = None,
) -> DataFrame:
    """The end-to-end training-corpus curation pipeline — the 100 TB job this
    engine exists for — as ONE lazy DataFrame composition:

        quality/language gate (clean_corpus, map-only)
          → length-outlier trim (two collected percentiles → literal range)
          → repetition (template-spam) filter (map-only)
          → PII redaction (map-only regexp chain)
          → fuzzy dedup, keep cluster representative (MinHash-LSH +
            connected components — the only multi-shuffle stage)
          → deterministic train/val/test assignment (map-only hash ranges)

    Stage ORDER is the cost story: every row-local filter runs before the
    dedup shuffle so the expensive stage sees the smallest corpus; the split
    is assigned last so eval membership is decided on the post-dedup id (a
    near-dup pair split across train/test is exactly the leak the pipeline
    must prevent — dedup-then-split makes it structurally impossible).

    Returns (doc_id, text [redacted], lang_pred, quality, n_tokens, split).
    """
    from .operators import dedup, text_analysis

    cleaned = text_analysis.clean_corpus(
        df,
        min_tokens=min_tokens,
        max_punct_ratio=max_punct_ratio,
        min_quality=min_quality,
        langs=langs,
    )
    # re-attach n_chars for the length trim (clean_corpus projects it away)
    cleaned = cleaned.join(df.select("doc_id", "n_chars"), "doc_id")
    trimmed = text_analysis.length_outlier_filter(
        cleaned, "n_chars", length_band[0], length_band[1]
    )
    no_spam = text_analysis.repetition_filter(
        trimmed, max_repetition=max_repetition
    )
    redacted = no_spam.join(
        text_analysis.redact_pii(no_spam.select("doc_id", "text")), "doc_id"
    )
    clusters = dedup.duplicate_clusters(
        redacted.select("doc_id", "text"), threshold=dedup_threshold
    )
    deduped = (
        redacted.join(clusters, "doc_id")
        .where(F.col("doc_id") == F.col("cluster_id"))
        .drop("cluster_id")
    )
    from .operators import sampling

    out = sampling.split_assign(
        deduped, "doc_id", split_weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return out.select(
        "doc_id",
        F.col("redacted").alias("text"),
        "lang_pred",
        "quality",
        "n_tokens",
        "split",
    )
