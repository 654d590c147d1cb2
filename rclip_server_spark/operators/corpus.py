"""Corpus-level curation operators for LLM training-data pipelines.

The reference curates its corpus with ad-hoc single-process passes
(index_wikimedia.py:117-134 filters by extension, rclip_server.py:399-400
builds word pools); at 100 TB the same intents become distributed corpus
statistics, frequency analysis, language-model familiarity scoring,
corpus-wide duplicate-span removal (the C4/Gopher recipe), and deterministic
mixture weighting. Everything here is expressed as DataFrame ops whose only
shuffles are the semantically required aggregations:

* ``token_topk`` — one partial-agg shuffle + TakeOrderedAndProject (no
  global sort materialization).
* ``source_stats`` — one hash-agg shuffle, integer-exact sums.
* ``bigram_lm_score`` — count tables are vocab-sized, so both count joins
  broadcast; the only full-data shuffles are the two count aggregations and
  the final per-doc rollup. Frequency arithmetic is integer until the final
  per-pair log, which is summed in fixed-point micro-nats (BIGINT) so the
  result is partition-order independent.
* ``strip_duplicate_spans`` — the blocklist (spans seen >= min_count times)
  is tiny relative to the corpus and broadcast for the anti-join; exploding
  and reassembly are map-side around one groupBy.
* ``weighted_mixture`` — pure map-side row-local math (hash threshold +
  explode), zero shuffles, reproducible under reruns and appends.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.hashing import portable_hash32
from .similarity import top_k, top_k_per

_HASH_SPACE = 1 << 32


def token_topk(df: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """Global heavy hitters: the k most frequent tokens corpus-wide with a
    deterministic (count desc, token asc) total order, so LIMIT is stable
    across engines and partitionings. Plan: explode is map-side, the count
    is one partial-agg shuffle over the (small) vocab, and the top-k is
    TakeOrderedAndProject — no full sort is ever materialized."""
    counts = (
        df.select(F.explode(TXT.tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return top_k(counts, k, "token", "cnt")


def source_stats(
    df: DataFrame, class_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source corpus profile: doc count, total tokens, and summed quality
    score in integer micro-units (float SUM order is nondeterministic across
    partitions; per-row rounding to 1e-6 then BIGINT summation is exact and
    order-free). This is the crawl-curation dashboard row — pair with
    ``sampling.per_class_cap(df, class_col, n, id_col)`` to enforce a
    per-domain document cap from the same statistics."""
    return df.groupBy(class_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TXT.token_count(F.col(text_col)).cast("long")).alias("total_tokens"),
        F.sum(
            F.round(TXT.quality_score(F.col(text_col)) * F.lit(1000000.0)).cast("long")
        ).alias("quality_micros"),
    )


def doc_bigrams(text_col) -> F.Column:
    """array<string> of space-joined adjacent token pairs, row-local.
    zip_with over two shifted slices — no posexplode self-join, no shuffle.
    DuckDB twin: list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
    (range(a, b) is empty when b <= a, matching the n < 2 guard)."""
    t = TXT.tokens(text_col)
    n = F.size(t)
    pairs = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(pairs)


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """Corpus-trained bigram language-model familiarity score per document —
    the distributed form of a perplexity filter (CCNet-style: drop documents
    the corpus LM finds surprising). Self-trained: bigram and unigram counts
    come from the same corpus, so the operator is one job with no external
    model.

    Per bigram (w1, w2): lp = ln((c(w1 w2) + alpha) / (c(w1) + alpha * V))
    with V = unigram vocabulary size (add-alpha smoothing). The score is
    SUM(round(lp * 1e6)) as BIGINT — fixed-point micro-nats, so the per-doc
    sum is independent of join/partition order and the 1-ulp ln() divergence
    between engines cannot flip a rounding except within 1e-9 of a tie.

    Documents with fewer than two tokens have no bigrams and are absent from
    the result (inner aggregation semantics).

    Scale: the two count tables are vocab-sized (<< corpus), so both joins
    are broadcast — the full-data shuffles are the two count aggregations
    and the final per-document rollup, all partial-agg combined map-side.
    """
    bi = df.select(
        F.col(id_col), F.explode(doc_bigrams(F.col(text_col))).alias("bigram")
    )
    uni = df.select(F.explode(TXT.tokens(F.col(text_col))).alias("w"))
    bc = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("cb"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    vocab = uc.agg(F.count(F.lit(1)).alias("vs"))

    scored = (
        bi.withColumn("w1", F.substring_index(F.col("bigram"), " ", 1))
        .join(F.broadcast(bc), "bigram")
        .join(F.broadcast(uc), F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "lp_micronats",
            F.round(
                F.log(
                    (F.col("cb") + F.lit(float(alpha)))
                    / (F.col("cu") + F.lit(float(alpha)) * F.col("vs"))
                )
                * F.lit(1000000.0)
            ).cast("long"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp_micronats").alias("lm_micronats"),
    )


def _span_chunks(text_col, span: int) -> F.Column:
    """Non-overlapping ``span``-token windows as space-joined strings.
    Fixed-width windows give C4-style line dedup well-defined removal and
    reassembly semantics on text without natural line boundaries."""
    t = TXT.tokens(text_col)
    n_chunks = F.floor((F.size(t) + F.lit(span - 1)) / F.lit(span)).cast("int")
    # sequence(0, -1) would produce a DESCENDING [0, -1] — guard empty docs
    return F.when(F.size(t) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(t, i * span + 1, span), " "),
        )
    )


def strip_duplicate_spans(
    df: DataFrame,
    span: int = 10,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4/Gopher-style corpus-wide duplicate-span removal: chunk every
    document into non-overlapping ``span``-token windows, count each window
    across the WHOLE corpus, drop windows occurring >= ``min_count`` times
    (boilerplate, licenses, navigation chrome), and reassemble the surviving
    windows in document order. Output: (id, clean_text) for every input row
    — fully-boilerplate documents come back with clean_text = ''.

    The output text is token-normalized (lowercased, single-spaced): the
    operator sits in the curation pipeline after normalization, like the
    reference's lowercase word table (rclip_server.py:292-308).

    Scale: the blocklist is only the spans with count >= min_count —
    broadcast for the LEFT ANTI join, so the heavy path is explode (map) →
    one count shuffle over spans → map-side anti join → one reassembly
    shuffle keyed on the document id.
    """
    chunks = df.select(
        F.col(id_col),
        F.posexplode(_span_chunks(F.col(text_col), span)).alias("pos", "chunk"),
    )
    blocklist = (
        chunks.groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .select("chunk")
    )
    kept = chunks.join(F.broadcast(blocklist), "chunk", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text")
    )
    return df.select(id_col).join(reassembled, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text")
    )


def mixture_copies(
    class_col, factors: dict[str, float], default: float = 1.0
) -> F.Column:
    """Per-row copy count for deterministic fractional mixture weighting:
    floor(factor) guaranteed copies plus one more iff the salted row hash
    falls under the fractional part — so a factor of 2.5 yields exactly 2 or
    3 copies per row, reproducibly, with the expected corpus-level rate."""
    expr = None
    items = list(factors.items())
    for cls, fac in items:
        base, frac = int(math.floor(float(fac))), float(fac) - math.floor(float(fac))
        thr = int(frac * _HASH_SPACE)
        branch = (F.lit(base), F.lit(thr))
        cond = class_col == F.lit(cls)
        expr = (
            F.when(cond, F.struct(branch[0].alias("b"), branch[1].alias("t")))
            if expr is None
            else expr.when(cond, F.struct(branch[0].alias("b"), branch[1].alias("t")))
        )
    dbase = int(math.floor(float(default)))
    dthr = int((float(default) - dbase) * _HASH_SPACE)
    packed = (
        expr.otherwise(F.struct(F.lit(dbase).alias("b"), F.lit(dthr).alias("t")))
        if expr is not None
        else F.struct(F.lit(dbase).alias("b"), F.lit(dthr).alias("t"))
    )
    return packed


def weighted_mixture(
    df: DataFrame,
    id_col: str,
    class_col: str,
    factors: dict[str, float],
    default: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic corpus mixture weighting: replicate each row
    ``factors[class]`` times in expectation — the epoch-weighting step of a
    training-data pipeline ("see the high-quality subset 2.5x per epoch,
    downsample the crawl to 0.3x"). Integer part = unconditional copies;
    fractional part = one extra copy iff the salted id-hash clears the
    threshold (same append-stable md5 recipe as operators/sampling.py, so
    membership never changes as the corpus grows). Output adds a ``copy``
    ordinal; (id, copy) is the new unique key.

    Pure map-side: hash, threshold compare, sequence, explode — no shuffle,
    no rand(), identical output on any cluster size or run.
    """
    h = portable_hash32(
        F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))
    )
    packed = mixture_copies(F.col(class_col), factors, default)
    n = packed["b"] + F.when(h < packed["t"], F.lit(1)).otherwise(F.lit(0))
    copies = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), n.cast("int") - 1)
    )
    return df.withColumn("copy", F.explode(copies))


# ---------------------------------------------------------------------------
# Distributed BPE vocabulary training (Sennrich-style byte-pair encoding)
# ---------------------------------------------------------------------------

_PAIR_SCHEMA = "array<struct<a:string,b:string>>"


def _char_syms(word) -> F.Column:
    """Split a pre-token into single-character symbols. Java's dot-all '.'
    matches one UTF-16 code unit, DuckDB's one code point — identical for
    everything in the BMP (astral plane chars would differ; fixture text is
    BMP)."""
    return F.regexp_extract_all(word, F.lit(r"(?s)."), F.lit(0))


def _adjacent_pairs(syms) -> F.Column:
    """All adjacent symbol pairs, overlapping included — the counting rule
    of the original BPE algorithm (Sennrich et al. 2016, learn_bpe)."""
    n = F.size(syms)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("a"),
                F.element_at(syms, i + F.lit(1)).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast(_PAIR_SCHEMA))


def _apply_merge(syms, a: str, b: str) -> F.Column:
    """Replace every non-overlapping left-to-right occurrence of (a, b) in
    the symbol array with the merged symbol a+b — as a pure column fold
    (no Python in the loop). The accumulator carries the rebuilt prefix
    plus one pending symbol of lookahead."""
    merged = a + b
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pending"),
    )

    def step(acc, s):
        return F.when(
            (acc["pending"] == F.lit(a)) & (s == F.lit(b)),
            F.struct(
                F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                F.lit(None).cast("string").alias("pending"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["pending"].isNull(), acc["out"])
                .otherwise(F.concat(acc["out"], F.array(acc["pending"])))
                .alias("out"),
                s.alias("pending"),
            )
        )

    def finish(acc):
        return F.when(acc["pending"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pending"]))
        )

    return F.aggregate(syms, acc0, step, finish)


def bpe_word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, syms): the distinct pre-token table that BPE training
    iterates on. This is the ONLY pass over the corpus — at 100 TB the
    explode+count is one partial-agg shuffle keyed on the pre-token, and
    everything after operates on the vocab-sized result (~1e6-1e8 distinct
    pre-tokens, independent of corpus size)."""
    return (
        df.select(F.explode(TXT.bpe_pretokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .withColumn("syms", _char_syms(F.col("word")))
    )


def bpe_pair_counts(word_freqs: DataFrame) -> DataFrame:
    """(a, b, pair_freq): corpus-weighted adjacent-pair frequencies — one
    BPE training step's statistics. Map-side explode of the vocab table
    plus one small hash-agg shuffle on the pair key."""
    return (
        word_freqs.select(
            F.col("freq"), F.explode(_adjacent_pairs(F.col("syms"))).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("pair_freq"))
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 32,
    text_col: str = "text",
    min_pair_freq: int = 2,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn a BPE merge list from a text column, distributed.

    Algorithm (Sennrich et al. 2016): start from characters, repeatedly
    merge the globally most frequent adjacent symbol pair. Ties break
    deterministically (count desc, then pair lexicographic asc) so the
    merge list is reproducible across partitionings and engines.

    Scale shape: the corpus is read ONCE (``bpe_word_freqs``); each of the
    ``n_merges`` iterations runs one vocab-sized pair-count shuffle and one
    map-only merge rewrite. ``localCheckpoint`` truncates the growing
    column-fold lineage each step (on a cluster, a reliable checkpoint dir
    serves the same role). The driver only ever sees the single argmax row
    per iteration — vocab and corpus stay distributed.

    Returns (merges, final word table with merged ``syms``).
    """
    wf = bpe_word_freqs(df, text_col).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            bpe_pair_counts(wf)
            .orderBy(F.desc("pair_freq"), F.asc("a"), F.asc("b"))
            .first()
        )
        if top is None or top["pair_freq"] < min_pair_freq:
            break
        merges.append((top["a"], top["b"]))
        wf = wf.withColumn(
            "syms", _apply_merge(F.col("syms"), top["a"], top["b"])
        ).localCheckpoint(eager=True)
    return merges, wf


# ---------------------------------------------------------------------------
# Cluster-then-describe: k-means cells labeled by their dominant terms
# ---------------------------------------------------------------------------


def cluster_topic_terms(
    docs: DataFrame,
    emb: DataFrame,
    centroids,
    k_terms: int = 5,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
) -> DataFrame:
    """Topic sketch per embedding cluster: assign every vector to its
    nearest literal centroid (map-only greatest-of-structs, same plan as
    the IVF index), join the text by id, and rank each cell's
    non-stopword tokens by frequency — (ivf_cell, rank, token, cnt).

    The corpus-curation use: eyeball what each semantic cluster IS before
    deciding per-cluster sampling rates or drops. Scale shape: the id
    join is the standard co-partitioned equi-join (bucket both tables by
    id to make it shuffle-free); the token count is one partial-agg
    shuffle keyed (cell, token); the per-cell top-k is a window over
    cell-partitioned counts — cells are few, counts are vocab-sized.
    Deterministic order: count desc, token asc."""
    from .ann import ivf_assign

    assigned = ivf_assign(emb, centroids, id_col=vec_id_col).select(
        F.col(vec_id_col).alias(id_col), "ivf_cell"
    )
    toks = (
        docs.join(assigned, id_col)
        .select("ivf_cell", F.explode(TXT.tokens(F.col(text_col))).alias("token"))
        .where(~F.col("token").isin(*sorted(TXT.STOPWORDS)))
    )
    counts = toks.groupBy("ivf_cell", "token").agg(F.count(F.lit(1)).alias("cnt"))
    return top_k_per(counts, k_terms, "ivf_cell", "token", "cnt").select(
        "ivf_cell", "rank", "token", "cnt")


def contrastive_triplets(
    df: DataFrame,
    positive_pairs: DataFrame,
    id_col: str = "doc_id",
    salt: str = "neg",
    n_buckets_bits: int = 8,
) -> DataFrame:
    """(anchor, positive, negative) triplets for contrastive training:
    positives come from a near-dup pair table (minhash / containment /
    semantic — any (id_a, id_b) source), negatives are HASH-ADJACENT
    documents — for each anchor, the doc with the next-larger salted hash
    inside the anchor's hash bucket. Hash adjacency is equivalent to a
    uniform random draw (the hash order is pseudorandom in content) but
    deterministic, rerun-stable, and engine-portable, with none of rand()'s
    partition-order dependence.

    Scale shape: negatives need a lead() window, and windows need a
    partition — bucketing the hash space into 2^n_buckets_bits slices
    bounds every window partition at ~N/2^bits rows (no single-reducer
    global sort); the positive join is an equi-join on the anchor id.
    Anchors whose hash is the bucket maximum draw no negative and are
    dropped (a ~2^bits/N fraction)."""
    from pyspark.sql import Window

    from ..operators.sampling import _row_hash

    h = _row_hash(id_col, salt)
    hashed = df.select(F.col(id_col).alias("anchor"), h.alias("__h")).withColumn(
        "__bucket", F.shiftright("__h", 32 - int(n_buckets_bits))
    )
    w = Window.partitionBy("__bucket").orderBy(F.asc("__h"), F.asc("anchor"))
    negs = hashed.withColumn("negative", F.lead("anchor").over(w)).where(
        F.col("negative").isNotNull()
    )
    pos = positive_pairs.select(
        F.col("id_a").alias("anchor"), F.col("id_b").alias("positive")
    )
    return (
        pos.join(negs.select("anchor", "negative"), "anchor")
        .where(F.col("negative") != F.col("positive"))
        .select("anchor", "positive", "negative")
    )
