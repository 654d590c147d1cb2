"""Lexical retrieval (BM25) and hybrid rank fusion (RRF) — the text half of
a hybrid search stack next to the vector top-k in operators/similarity.py.

The reference has no lexical scoring at all (its word search embeds the
word and ranks by cosine, rclip_server.py:320-342); BM25 + RRF is the §F /
north-star extension that makes the engine a complete retrieval layer for a
training-data pipeline (e.g. quality-filtering by query relevance, or
hybrid near-dup candidate generation).

Scale shape and determinism:

* Per-doc term frequencies are computed ROW-LOCALLY with
  ``size(filter(tokens, ...))`` — no explode, no shuffle; a document with
  zero tokens keeps its row (explode would drop it and corrupt avgdl).
* Corpus stats (N, df per term, Σdl) are ONE tiny aggregation (a handful
  of BIGINTs) broadcast back via crossJoin — the plan touches the corpus
  once and shuffles nothing but the stats row.
* All corpus stats are exact integers; the float score is a fixed
  left-associative expression over them, so the DuckDB twin matches
  bit-for-bit (same libm ln over the same doubles).
* ``rrf_fusion`` ranks only the two bounded top-``pool`` sides
  (TakeOrderedAndProject — no global sort shuffle), so the single-partition
  rank windows see ≤pool rows each. At 100 TB the expensive part is the
  scoring scans; fusion cost is O(pool).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.hashing import single_partition_key
from .similarity import top_k

RRF_K = 60


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, dl, tf_<i>..., bm25) for every document (score 0.0 when no term
    hits). Lucene-style BM25: idf = ln(1 + (N − df + ½)/(df + ½)).
    """
    # two-step select: alias the token array ONCE so Catalyst doesn't
    # re-evaluate the split per term (CollapseProject keeps non-cheap
    # multi-referenced aliases). Built as parsed SQL text — same tree,
    # ~10x cheaper driver-side (see functions/hashing.py's r14 note).
    from ..functions.vector import sql_ref
    from .dedup import _spread

    # _spread: the tokenize pass is CPU-dense and a small corpus arrives as
    # ONE file split (serial); round-robin only when narrower than the
    # cluster — every downstream stat is an integer sum, so the result is
    # partition-order independent (same rule as the dedup family).
    toked = _spread(df).selectExpr(
        f"{sql_ref(id_col)} AS id",
        f"{TXT.tokens_spark_sql(sql_ref(text_col))} AS toks",
    )

    def _term_lit(term: str) -> str:
        return "'" + term.replace("\\", "\\\\").replace("'", "\\'") + "'"

    per_doc = toked.selectExpr(
        "id",
        "CAST(size(toks) AS BIGINT) AS dl",
        *[
            f"CAST(size(filter(toks, t -> t = {_term_lit(term)})) AS BIGINT)"
            f" AS tf_{i}"
            for i, term in enumerate(terms)
        ],
    )
    # The corpus-level stats agg below and the final per-row projection both
    # consume per_doc; left as one lazy plan, the tokenize pass would run
    # TWICE (once under the broadcast stats subtree, once on the main side —
    # and the topk variant's pushed-down isnotnull filters re-evaluate the
    # split again at the scan). Checkpointing the tokenized per-doc stats —
    # a handful of integers per document, the guide-§8 'decide with small
    # rows' proxy table — makes the expensive tokenize a single pass. All
    # downstream stats are integer sums, so results are partition-order
    # independent and bit-identical either way.
    per_doc = per_doc.localCheckpoint(eager=False)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )

    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n

    def contrib(i: int) -> Column:
        tf = F.col(f"tf_{i}").cast("double")
        dfq = F.col(f"df_{i}").cast("double")
        idf = F.log((n - dfq + F.lit(0.5)) / (dfq + F.lit(0.5)) + F.lit(1.0))
        denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
        return idf * ((tf * F.lit(k1 + 1.0)) / denom)

    score = reduce(lambda acc, i: acc + contrib(i), range(len(terms)), F.lit(0.0))
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            F.col("id").alias(id_col),
            "dl",
            *[f"tf_{i}" for i in range(len(terms))],
            score.alias("bm25"),
        )
    )


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k by BM25, deterministic tie-break on id; zero-score docs are
    excluded (a doc with no query term is not a hit)."""
    scored = bm25_scores(df, terms, k1, b, id_col, text_col)
    return top_k(scored.where(F.col("bm25") > 0.0), k, id_col,
                 "bm25").select(id_col, "bm25")


def rrf_fusion(
    text_side: DataFrame,
    vec_side: DataFrame,
    id_col: str = "doc_id",
    text_score: str = "bm25",
    vec_score: str = "score",
    k: int = 10,
    pool: int = 100,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a vector ranking:
    rrf = Σ 1/(rrf_k + rank_side), missing side contributes 0.

    Both sides are cut to their top-``pool`` first (TakeOrderedAndProject),
    so the rank windows never see more than ``pool`` rows.
    """
    t = (
        top_k(text_side, pool, id_col, text_score)
        .withColumn(
            # constant-zero partition key: input is `pool` rows by
            # construction (keeps WindowExec's no-partition warning log
            # clean so genuinely unbounded windows stand out)
            "t_rank",
            F.row_number().over(
                Window.partitionBy(single_partition_key(F.col(id_col)))
                .orderBy(F.desc(text_score), F.asc(id_col))
            ).cast("long"),
        )
        .select(F.col(id_col).alias("id"), "t_rank")
    )
    v = (
        top_k(vec_side, pool, id_col, vec_score)
        .withColumn(
            "v_rank",
            F.row_number().over(
                Window.partitionBy(single_partition_key(F.col(id_col)))
                .orderBy(F.desc(vec_score), F.asc(id_col))
            ).cast("long"),
        )
        .select(F.col(id_col).alias("id"), "v_rank")
    )

    def recip(rank: Column) -> Column:
        return F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + rank.cast("double")), F.lit(0.0)
        )

    fused = t.join(v, "id", "full_outer").select(
        F.col("id").alias(id_col),
        "t_rank",
        "v_rank",
        (recip(F.col("t_rank")) + recip(F.col("v_rank"))).alias("rrf"),
    )
    return top_k(fused, k, id_col, "rrf")


def more_like_this(
    df: DataFrame,
    query_id,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lexical "more documents like this one": TF-IDF cosine similarity to
    the query document, computed as a sparse dot product over an
    inverted-index join — the classic search-engine recommendation op, with
    no embeddings required.

    Plan: the query doc's term vector is a handful of rows, so it
    BROADCASTS onto the corpus-wide term table; the sparse dot is then one
    partial-agg groupBy over only the postings that share a term with the
    query. Nothing ever materializes a dense vector or an all-pairs
    compare, and docs sharing no term never leave the map side — at 100 TB
    the cost is proportional to the query terms' posting lists, exactly
    like an inverted index.

    Determinism: per-term products and squared norms are rounded to 1e-6
    units and summed as BIGINT (order-free); the cosine is then computed
    from those exact integers, so the ranking is bit-identical in the
    DuckDB oracle.
    """
    from .text_analysis import tfidf

    t = tfidf(df, id_col, text_col).select(
        F.col(id_col).alias("id"), "token", "tfidf"
    )
    norms = t.groupBy("id").agg(
        F.sum(F.round(F.col("tfidf") * F.col("tfidf") * 1e6).cast("long")).alias("n_u")
    )
    qvec = t.where(F.col("id") == query_id).select(
        "token", F.col("tfidf").alias("q_tfidf")
    )
    qnorm = norms.where(F.col("id") == query_id).select(F.col("n_u").alias("qn_u"))
    dots = (
        t.where(F.col("id") != query_id)
        .join(F.broadcast(qvec), "token")
        .groupBy("id")
        .agg(
            F.sum(
                F.round(F.col("tfidf") * F.col("q_tfidf") * 1e6).cast("long")
            ).alias("dot_u")
        )
    )
    scored = (
        dots.join(norms, "id")
        .crossJoin(F.broadcast(qnorm))
        .select(
            F.col("id").alias(id_col),
            (
                F.col("dot_u").cast("double")
                / (F.sqrt(F.col("n_u").cast("double")) * F.sqrt(F.col("qn_u").cast("double")))
            ).alias("cosine"),
        )
    )
    return top_k(scored, k, id_col, "cosine")
