"""Corpus-level text analysis: TF-IDF (SURVEY.md §F 'text analysis over
documents'). Token-level functions live in functions/text.py; this module
holds the operators that need aggregation across the corpus.

Scale shape: two hash aggregations (term frequency per doc, document
frequency per term) + one broadcast of the per-term idf — no all-pairs, no
driver collect. The doc count joins in as a 1-row cross join so the whole
plan stays lazy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from .similarity import top_k_per


def tfidf(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, token, tf, df, tfidf) with tfidf = tf * ln(N / df).

    tf = occurrences of token in the doc; df = docs containing the token;
    N = corpus size. Plain (non-smoothed) idf — matches the DuckDB twin in
    the contract exactly (same ln over the same integers)."""
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(TXT.tokens(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy("id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("id").alias(id_col),
            "token",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ).alias("tfidf"),
        )
    )


def ngram_contamination(
    df: DataFrame,
    bench_pred,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination check: for each NON-benchmark document, the
    fraction of its distinct word n-grams that also occur anywhere in the
    benchmark split (``bench_pred`` selects the benchmark rows). The classic
    train/test-overlap filter for LLM training data (no reference analogue —
    pure north-star surface).

    Returns (id, n_grams, n_hit, contamination). Scale shape: the benchmark
    gram set is aggregated once and broadcast into the probe join (benchmark
    splits are small by definition); per-doc totals are row-local
    ``size(array_distinct(...))`` so zero-gram docs survive; the only wide
    shuffle is the per-doc hit count.
    """
    grams = df.select(
        F.col(id_col).alias("id"),
        bench_pred.alias("is_bench"),
        F.array_distinct(TXT.word_ngrams(F.col(text_col), n)).alias("grams"),
    )
    bench_grams = (
        grams.where("is_bench")
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    candidates = grams.where(~F.col("is_bench"))
    hits = (
        candidates.select("id", F.explode("grams").alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        candidates.join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.size("grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
            F.when(F.size("grams") == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).cast("double")
                / F.size("grams").cast("double")
            )
            .alias("contamination"),
        )
    )


def top_terms_per_doc(df: DataFrame, k: int = 5, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Top-k TF-IDF terms per document (rank ties broken on token for
    determinism)."""
    return top_k_per(tfidf(df, id_col, text_col), k, id_col, "token",
                     "tfidf", "rnk").select(
        id_col, "token", "tfidf", F.col("rnk").cast("long").alias("rnk"))


def clean_corpus(
    df: DataFrame,
    min_tokens: int = 5,
    max_punct_ratio: float = 0.2,
    min_quality: float = 0.3,
    langs: tuple[str, ...] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style corpus cleaning in one map-only pass: keep documents with
    enough tokens, bounded punctuation, a minimum composite quality score,
    and (optionally) a predicted language in ``langs``. Returns the
    surviving rows plus the metrics that justified them — the audit trail a
    training-data pipeline keeps next to every filter decision.

    All four predicates are row-local column math (functions/text.py), so
    the plan is scan → filter with zero shuffles at any corpus size; the
    filter itself can't push into parquet (computed columns) but rides the
    scan's whole-stage codegen."""
    t = F.col(text_col)
    out = df.select(
        F.col(id_col),
        t.alias(text_col),
        TXT.token_count(t).cast("long").alias("n_tokens"),
        TXT.punct_ratio(t).alias("punct_ratio"),
        TXT.quality_score(t).alias("quality"),
        TXT.lang_id(t).alias("lang_pred"),
    ).where(
        (F.col("n_tokens") >= F.lit(min_tokens))
        & (F.col("punct_ratio") <= F.lit(float(max_punct_ratio)))
        & (F.col("quality") >= F.lit(float(min_quality)))
    )
    if langs is not None:
        out = out.where(F.col("lang_pred").isin(*langs))
    return out


def length_outlier_filter(
    df: DataFrame,
    col: str = "n_chars",
    lo_p: float = 0.05,
    hi_p: float = 0.95,
) -> DataFrame:
    """Trim length outliers: keep rows with ``col`` inside the exact
    [lo_p, hi_p] quantile band — the boilerplate-and-garbage trim stage of a
    corpus pipeline (too-short docs are navigation fragments, too-long ones
    are concatenation accidents).

    Same zero-shuffle discipline as stats.minmax_normalize: the exact
    percentiles reduce to TWO values collected once, then re-enter as
    literals — so the big-table pass is a plain pushdown-able range
    predicate on a stored column (reaches the parquet scan's row-group
    min/max skipping, unlike any computed-column filter). Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` interpolate identically,
    so the oracle matches bit-for-bit."""
    row = df.agg(
        F.expr(f"percentile({col}, {lo_p})").alias("lo"),
        F.expr(f"percentile({col}, {hi_p})").alias("hi"),
    ).first()
    if row is None or row["lo"] is None:
        return df.limit(0)
    return df.where(F.col(col).between(F.lit(row["lo"]), F.lit(row["hi"])))


# PII patterns restricted to the Java∩RE2 regex subset (both engines support
# \b, \d, bounded repetition; no lookarounds used) so redaction is
# oracle-exact. Order matters: emails first (their local part can look like
# a phone run), IPs before phones would also work but phones are greedier.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrubbing — the compliance stage every training-data pipeline
    runs before anything else sees the text: emails, phone-like digit runs,
    and IPv4 literals are replaced by typed placeholder tokens, with
    per-type match counts kept as the audit columns. Chained
    ``regexp_replace`` — row-local, JVM-side, zero shuffles; the counts are
    computed BEFORE redaction so they report what was found, not what
    remains."""
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = t
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return df.select(F.col(id_col), red.alias("redacted"), *counts)


def token_repetition_ratio(text_col) -> F.Column:
    """1 - distinct/total tokens (type-token redundancy): ~0 for natural
    prose, →1 for template spam and keyword stuffing. Row-local."""
    toks = TXT.tokens(text_col)
    return (
        F.lit(1.0)
        - F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double")
    )


def repetition_filter(
    df: DataFrame,
    max_repetition: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop template-spam documents: keep rows whose token repetition ratio
    is at most ``max_repetition``. Map-only."""
    return df.withColumn(
        "repetition", token_repetition_ratio(F.col(text_col))
    ).where(F.col("repetition") <= F.lit(float(max_repetition)))


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size token windows — the unit-of-training
    transform of every LLM pipeline (long docs become multiple sequences;
    ``stride`` < ``chunk_tokens`` gives sliding overlap so no boundary
    context is lost).

    Pure column math: tokenize once, explode a chunk-index sequence, slice
    the token array per index, rejoin with spaces. The only row
    amplification is the actual chunk count (ceil((n - overlap) /
    stride)); no shuffle — chunking is map-only at any corpus size. Empty
    docs produce zero chunks; a final partial window is emitted iff it
    adds new tokens (it starts before n)."""
    stride = chunk_tokens if stride is None else stride
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = TXT.tokens(F.col(text_col))
    n = F.size(toks)
    # chunk starts: 0, stride, 2*stride, ... while start < n
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor((n - 1) / F.lit(stride)) + 1
    )
    out = (
        df.select(F.col(id_col), toks.alias("_toks"), n_chunks.alias("_nc"))
        .where(F.col("_nc") > 0)
        .select(
            F.col(id_col),
            "_toks",
            F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_idx"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.slice(
                "_toks", F.col("chunk_idx") * stride + 1, F.lit(chunk_tokens)
            ).alias("_chunk"),
        )
        .select(
            F.col(id_col),
            "chunk_idx",
            F.concat_ws(" ", "_chunk").alias("chunk_text"),
            F.size("_chunk").cast("long").alias("n_chunk_tokens"),
        )
    )
    return out


def pack_sequences(
    chunks: DataFrame,
    budget_tokens: int = 512,
    buckets: int = 1,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    tokens_col: str = "n_chunk_tokens",
) -> DataFrame:
    """Pack chunks into fixed-budget training sequences (the step after
    chunk_documents: short pieces are concatenated so no sequence slot is
    wasted on padding). Greedy in (doc_id, chunk_idx) order: a chunk joins
    the sequence its cumulative-token prefix falls in —
    ``seq_id = floor(cum_before / budget)`` — deterministic, one pass, and
    keeps each document's chunks adjacent.

    Scale: a single global cumulative sum would serialize on one reducer,
    so packing runs WITHIN ``buckets`` deterministic hash-buckets of
    documents (sequences never cross buckets; at 100 TB pick buckets ≈
    cores so each holds a few GB). One window shuffle total. Output:
    (bucket, seq_id, n_chunks, n_tokens, doc_ids) — the manifest a training
    loader consumes."""
    from ..functions.hashing import portable_hash32

    b = (portable_hash32(F.col(id_col).cast("string")) % buckets).alias("bucket")
    w = Window.partitionBy("bucket").orderBy(F.asc(id_col), F.asc(idx_col))
    cum_before = F.coalesce(
        F.sum(tokens_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    packed = chunks.select(b, F.col(id_col), F.col(idx_col), F.col(tokens_col)).withColumn(
        "seq_id", F.floor(cum_before / F.lit(budget_tokens)).cast("long")
    )
    return (
        packed.groupBy("bucket", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(tokens_col).cast("long").alias("n_tokens"),
            F.array_sort(F.collect_set(id_col)).alias("doc_ids"),
        )
    )


def ngram_repetition_ratio(text_col, n: int = 3):
    """Within-document duplicated-n-gram fraction (a Gopher repetition
    signal): 1 - distinct/total word n-grams. 0.0 for docs with fewer than
    n tokens. Row-local column math — pairs with ``repetition_filter``'s
    unigram ratio for the template-spam family.
    DuckDB twin: 1 - len(list_distinct(g)) / len(g) over word_ngrams_sql."""
    g = TXT.word_ngrams(text_col, n)
    return F.when(F.size(g) == 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(g)).cast("double") / F.size(g).cast("double")
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering (linear classifier with literal weights)
# ---------------------------------------------------------------------------

QUALITY_CLF_WEIGHTS = {
    "log_tokens": 0.35,       # longer docs are likelier to be prose
    "mean_token_len": 0.08,   # penalizes char-soup / code dumps indirectly
    "stopword_ratio": 1.2,    # natural language has function words
    "punct_ratio": -2.5,      # symbol walls are boilerplate/markup
}
QUALITY_CLF_BIAS = -1.0


def classifier_quality_score(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    bias: float = QUALITY_CLF_BIAS,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Linear quality-classifier scoring — the distributed shape of
    fastText/logreg model-based filtering (the CCNet/GPT-3 recipe: score
    every document with a small model, keep above a threshold).

    The model is a literal weight vector folded into codegen, so the whole
    operator is one map-only projection over the scan — zero shuffles, and
    at 100 TB it runs at I/O speed. Swapping in real trained weights is a
    parameter change, not a plan change.

    Determinism: the weighted sum is built left-associatively in a fixed
    feature order, the score is emitted as micro-units (round 1e6 →
    BIGINT), and the keep flag compares INTEGER micros — so the decision
    boundary is bit-identical across engines and partitionings.
    """
    w = dict(QUALITY_CLF_WEIGHTS if weights is None else weights)
    t = F.col(text_col)
    feats = {
        "log_tokens": F.log(F.lit(1.0) + TXT.token_count(t).cast("double")),
        "mean_token_len": TXT.mean_token_len(t),
        "stopword_ratio": TXT.stopword_ratio(t),
        "punct_ratio": TXT.punct_ratio(t),
    }
    score = F.lit(float(bias))
    for name in ("log_tokens", "mean_token_len", "stopword_ratio", "punct_ratio"):
        score = score + F.lit(float(w[name])) * feats[name]
    micros = F.round(score * F.lit(1000000.0)).cast("long")
    thr = int(round(threshold * 1e6))
    return df.select(
        id_col,
        micros.alias("score_micros"),
        (micros > F.lit(thr)).alias("keep"),
    )
