"""Maintained FULL-TEXT (BM25) index view: an inverted postings table
``(term, <key>, tf, dl)`` over a source table's text column, kept in
sync with the source through the CDC log — the lexical twin of the
near-dup pair views, and the one secondary-index kind the engine's
lakehouse lacked (bloomindex answers point lookups; this answers
ranked text queries).

Reference parity: the reference has no lexical index at all — its word
search embeds the word and ranks by cosine (rclip_server.py:320-342);
this is the §F / training-pipeline extension that makes retrieval-
quality filtering and hybrid search maintainable at corpus scale.

Why an INDEX and not just operators/retrieval.bm25_scores: the batch
scorer tokenizes the WHOLE corpus per query (one full scan — right for
ad-hoc use, wrong for a query-serving loop). The maintained postings
table moves tokenization to WRITE time: a refresh costs O(changed
docs) (retract by doc-key delete vector + append the new docs'
postings, ONE delete_and_append commit), and a query reads only the
query terms' postings — O(matching postings), never O(corpus).

Exactness: query_text_index reproduces bm25_scores' Lucene formula
from the postings + two maintained integer corpus stats (doc count,
total token count — updated exactly per interval from the CDC pre/post
images), so the indexed score equals the batch scorer's for every
matching document (oracle rows pin both the postings and the scores
against DuckDB twins; scores rounded to 6 dp per the repo's
transcendental-float rule).

Scale: postings build is one explode + one (key, term) aggregation;
the per-interval stats delta is one tiny aggregation over the change
frame; queries broadcast a ≤|terms|-row df map. The view joins the
matview graph through the standard marker registry (``ti_source``), so
REFRESH / CASCADE / DESCRIBE / cursor-safe VACUUM / refresh STREAMS
all work on it with no extra wiring. The lifecycle it shares with the
other index kinds is one descriptor in indexkind.py; this module holds
tokenization and BM25.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.localrel import values_df
from ..operators import similarity
from . import indexkind as IK
from . import matview as M
from .indexkind import convert_index_to_bucketed  # noqa: F401  (public)
from .matview import _INSERTING, _RETRACTING  # canonical CDC classes


def _postings(df: DataFrame, key: str, text_col: str,
              positions: bool = False,
              include_cols: tuple[str, ...] = ()) -> DataFrame:
    """(key, term, tf, dl) for every (document, distinct token) pair —
    one explode + one aggregation; dl travels through the explode so
    no second corpus pass or join is needed. With ``positions`` the
    posting also carries the term's sorted 0-based token offsets
    (posexplode instead of explode — same single pass), enabling
    exact-phrase / proximity queries at serving latency.
    ``include_cols`` ride the explode as per-posting payload (the
    doc-values-in-postings layout: duplicated per (doc, term) —
    ~|distinct terms| copies per doc — in exchange for filtered
    queries that never join back to the source)."""
    inc = list(include_cols)
    toked = df.select(F.col(key), *[F.col(c) for c in inc],
                      TXT.tokens(F.col(text_col)).alias("toks"))
    if positions:
        return (toked
                .select(key, *inc,
                        F.size("toks").cast("long").alias("dl"),
                        F.posexplode("toks").alias("pos", "term"))
                .groupBy(key, "dl", "term", *inc)
                .agg(F.count(F.lit(1)).cast("long").alias("tf"),
                     F.sort_array(F.collect_list(
                         F.col("pos").cast("int"))).alias("positions"))
                .select("term", key, "tf", "dl", "positions", *inc))
    return (toked
            .select(key, *inc,
                    F.size("toks").cast("long").alias("dl"),
                    F.explode("toks").alias("term"))
            .groupBy(key, "dl", "term", *inc)
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select("term", key, "tf", "dl", *inc))


def _corpus_stats(df: DataFrame, text_col: str) -> tuple[int, int]:
    """(n_docs, total_tokens) — exact integers, one tiny agg."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(TXT.tokens(F.col(text_col))).cast("long"))
        .alias("s")).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


def create_text_index(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    text_col: str = "text", k1: float = 1.2, b: float = 0.75,
    positions: bool = False, include_cols: list[str] | None = None,
) -> int:
    """Materialize the postings table over the source's head and
    record the spec + cursor + exact corpus stats. ``key`` must be a
    unique non-null row identity (the maintained-view contract).
    ``positions=True`` stores each term's token offsets in the posting
    (same build pass, ~+dl ints per doc at rest), unlocking
    query_phrase_index; BM25 queries are unchanged. ``include_cols``
    copies the listed source columns onto every posting row as
    FILTERABLE PAYLOAD (query ``where=``): filtered lexical search
    without a join back to the source, at the standard doc-values
    cost of one payload copy per (doc, distinct term)."""
    return M._create(spark, "text_index", view_path, {
        "ti_source": source_path, "ti_key": key,
        "ti_text_col": text_col, "ti_k1": float(k1), "ti_b": float(b),
        "ti_positions": bool(positions),
    }, prepare=lambda df: {"ti_include_cols": IK.check_include_cols(
        df, key, text_col, include_cols,
        reserved=("term", "tf", "dl", "positions"))})


def _rows_of(spec: dict, df: DataFrame) -> DataFrame:
    return _postings(
        df, spec["ti_key"], spec["ti_text_col"],
        positions=bool(spec.get("ti_positions")),
        include_cols=tuple(spec.get("ti_include_cols", [])))


def _app_on_recompute(spark, spec, head):
    n_docs, total_len = _corpus_stats(head, spec["ti_text_col"])
    return {"ti_ndocs": n_docs, "ti_total_len": total_len}


def _app_on_delta(spark, spec, ch, new_rows):
    # exact integer stats delta from the interval's pre/post images —
    # one tiny aggregation over the (persisted) change frame, O(delta)
    dl_expr = F.size(TXT.tokens(F.col(spec["ti_text_col"]))).cast("long")
    agg = ch.agg(
        F.sum(F.col("_change_type").isin(*_INSERTING)
              .cast("long")).alias("n_ins"),
        F.sum(F.col("_change_type").isin(*_RETRACTING)
              .cast("long")).alias("n_del"),
        F.sum(F.when(F.col("_change_type").isin(*_INSERTING),
                     dl_expr).otherwise(F.lit(0))).alias("l_ins"),
        F.sum(F.when(F.col("_change_type").isin(*_RETRACTING),
                     dl_expr).otherwise(F.lit(0))).alias("l_del"),
    ).collect()[0]
    return {
        "ti_ndocs": int(spec["ti_ndocs"])
        + int(agg["n_ins"] or 0) - int(agg["n_del"] or 0),
        "ti_total_len": int(spec["ti_total_len"])
        + int(agg["l_ins"] or 0) - int(agg["l_del"] or 0),
    }


def read_text_index(spark: SparkSession, view_path: str,
                    version: int | None = None) -> DataFrame:
    """The postings table at a version (default head), in the
    canonical (term, key, tf, dl[, positions][, payload…]) column
    order."""
    return IK.read(spark, "text_index", view_path, version)


def refresh_text_index(
    spark: SparkSession, view_path: str,
    recompute_fraction: float | None = M._RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Advance the postings to the source head: retract changed docs'
    postings (doc-key delete vector), append the new docs' postings,
    and roll the exact integer corpus stats forward from the interval
    — ONE delete_and_append commit. A vacuumed/rolled-back source
    heals by full recompute (one overwrite, identical rows). All
    structure lives in the shared lifecycle (matview._refresh_once over
    indexkind's state/delta); this kind contributes tokenization and
    the corpus-stat hooks."""
    return M._refresh_once(spark, "text_index", view_path,
                           recompute_fraction)


def query_text_index(
    spark: SparkSession, view_path: str, terms: list[str] | str,
    k: int = 10, version: int | None = None,
    where: str | None = None,
) -> DataFrame:
    """Top-k documents by BM25, scored FROM the maintained postings:
    reads only the query terms' posting rows, df per term comes from a
    ≤|terms|-row aggregation over those same rows (broadcast-joined
    back in-plan — the whole query is ONE lazy plan, zero Spark jobs
    before execution), and N/avgdl come from the spec's exact integer
    stats — O(matching postings), never a corpus scan. Returns
    (<key>, bm25), the same formula (idf in the same JVM F.log),
    filter (score > 0), ordering, and tie-break as
    retrieval.bm25_topk, so the indexed answer is checkable against
    the batch scorer.

    ``where`` is a SQL predicate over the index's payload columns
    (``include_cols`` at CREATE) and key — FILTERED lexical search.
    Search-engine semantics (the Elasticsearch filtered-query rule):
    the filter selects WHICH docs are eligible, idf stays GLOBAL —
    so the predicate applies after the per-term df window, pruning
    candidates before the doc-aggregation shuffle (the scan itself
    is already term-pruned; the filter never joins back to the
    source)."""
    mult = _multiplicities(terms)
    if not mult:
        raise ValueError("query_text_index needs at least one term")
    terms = list(mult)
    v, spec = IK.spec_at("text_index", view_path, version)
    key = spec["ti_key"]
    idf, tfp = _bm25_parts(spec, view_path)
    # bucketed at-rest state: only the query terms' hash buckets'
    # files enter the plan (driver-side term→bucket resolution)
    hits = IK.probed(spark, "text_index", view_path, v, terms)
    mult_map = F.create_map(*[x for t in terms
                              for x in (F.lit(t),
                                        F.lit(float(mult[t])))])
    cand = IK.apply_where(
        hits.withColumn("_c", mult_map[F.col("term")] * idf * tfp), where)
    scored = cand.groupBy(key).agg(F.sum("_c").alias("bm25"))
    return similarity.top_k(scored.where(F.col("bm25") > 0.0), k, key,
                            "bm25").select(key, "bm25")


def _multiplicities(terms: list[str] | str) -> dict:
    """Query terms (a string splits on whitespace, lowercased) collapsed
    to {unique term: multiplicity} in first-occurrence order:
    create_map rejects duplicate keys (mapKeyDedupPolicy=EXCEPTION),
    and the batch scorer sums one contribution PER OCCURRENCE — contrib
    is linear in idf, so weighting idf by the multiplicity reproduces
    it exactly."""
    if isinstance(terms, str):
        terms = [t for t in terms.lower().split() if t]
    mult: dict = {}
    for t in terms:
        mult[t] = mult.get(t, 0) + 1
    return mult


def _bm25_parts(spec: dict, view_path: str):
    """(idf, tf part) Columns over probed posting rows; a term's
    contribution is mult * idf * tf part, left-assoc, in every plan.
    df per term is a COUNT window over the term partition (postings
    carry tf > 0 rows only, so count(rows) IS df): the whole query
    stays ONE lazy plan (zero plan-time jobs) over a SINGLE scan of the
    probed postings, with idf in the SAME JVM F.log the batch scorer
    uses, and the term shuffle is O(matching postings). N/avgdl come
    from the spec's exact integer stats."""
    from pyspark.sql import Window

    k1, b = float(spec["ti_k1"]), float(spec["ti_b"])
    n = float(int(spec["ti_ndocs"]))
    if n <= 0:
        raise ValueError(f"{view_path} indexes an empty corpus")
    avgdl = float(int(spec["ti_total_len"])) / n
    dfq = (F.count(F.lit(1)).over(Window.partitionBy("term"))
           .cast("double"))
    idf = F.log((F.lit(n) - dfq + F.lit(0.5))
                / (dfq + F.lit(0.5)) + F.lit(1.0))
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(k1) * (F.lit(1.0 - b)
                              + F.lit(b) * (F.col("dl").cast("double")
                                            / F.lit(avgdl)))
    return idf, (tf * F.lit(k1 + 1.0)) / denom


def query_text_index_batch(
    spark: SparkSession, view_path: str, queries, k: int = 10,
    version: int | None = None, qid_col: str = "qid",
    where: str | None = None,
) -> DataFrame:
    """M BM25 queries against the maintained postings in ONE plan —
    the amortized serving form (a retrieval-quality filter or hybrid
    rerank loop issues thousands of lookups; per-call plan cost
    dominates even at zero Spark jobs per plan). ``queries`` is a
    driver-side list of ``(qid, terms)`` pairs (string or token list).
    ``qid_col`` names the output's query-id column and must not name
    an index column or contain a backtick.

    Plan shape: the UNION of all queries' terms drives ONE
    file-pruned postings scan; per-term df comes from a COUNT window
    over the term partition of that scan (df counts ALL of a term's
    postings, so the union scan leaves it unchanged — same value the
    single-query plan computes); a broadcast (qid, term, mult) frame
    fans each posting out to the queries that asked for its term; the
    same fold-order contribution sums per (qid, doc) and a per-qid
    window takes top-k. Shuffles: the term window + the (qid, key)
    aggregation over MATCHING postings only — never the corpus. Per
    query, rows are IDENTICAL to query_text_index (same formula,
    same multiplicity fold, same (bm25 DESC, key ASC) order).

    Returns (qid, <key>, bm25) ordered (qid, bm25 DESC, key)."""
    v, spec = IK.spec_at("text_index", view_path, version)
    key = spec["ti_key"]
    qids = IK.check_batch("text_index", spec, queries, qid_col, "bm25",
                          "terms")
    pairs = []
    for qid, terms in queries:
        mult = _multiplicities(terms)
        if not mult:
            raise ValueError(f"query {qid!r} has no terms")
        pairs += [(qid, t, float(m)) for t, m in mult.items()]
    idf, tfp = _bm25_parts(spec, view_path)
    hits = IK.probed(spark, "text_index", view_path, v,
                     sorted({t for _, t, _ in pairs}))
    # shared payload filter across the batch: applied AFTER the
    # global-df window (filters select docs, never reshape idf — the
    # single-query rule), before the query fan-out join
    base = IK.apply_where(
        hits.withColumn("_idf", idf).withColumn("_tfp", tfp), where)
    qid_t = "string" if isinstance(qids[0], str) else "bigint"
    pdf = values_df(
        spark, pairs, f"{qid_col} {qid_t}, term string, _mult double")
    scored = (base.join(F.broadcast(pdf), "term")
              .withColumn("_c", F.col("_mult") * F.col("_idf")
                          * F.col("_tfp"))
              .groupBy(qid_col, key).agg(F.sum("_c").alias("bm25")))
    return (similarity.top_k_per(scored.where(F.col("bm25") > 0.0), k,
                                 qid_col, key, "bm25", "_rn")
            .select(qid_col, key, "bm25")
            .orderBy(qid_col, F.desc("bm25"), F.asc(key)))


def query_phrase_index(
    spark: SparkSession, view_path: str, phrase: str, k: int = 10,
    version: int | None = None, where: str | None = None,
) -> DataFrame:
    """Exact-PHRASE top-k FROM a positional text index (create with
    ``positions=True``): reads only the phrase terms' posting rows
    (term IN-list pushed to the scan), pivots each candidate doc's
    per-term position arrays into one map, and counts adjacency chains
    — position p holds term[0] and p+i holds term[i] for every i —
    entirely in JVM higher-order array functions (F.filter /
    array_contains over the sorted offset arrays). O(matching
    postings), never a corpus re-tokenization: the serving-latency
    form of the n-gram contamination check. Returns (<key>,
    phrase_tf) for docs containing the phrase at least once, ranked
    (phrase_tf DESC, key ASC) — deterministic integer scores, so the
    row is oracle-hash-exact against a DuckDB recomputation."""
    from functools import reduce

    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("query_phrase_index needs a non-empty phrase")
    v, spec = IK.spec_at("text_index", view_path, version)
    if not spec.get("ti_positions"):
        raise ValueError(
            f"{view_path} was built without positions — recreate the "
            f"index with positions=True for phrase queries")
    key = spec["ti_key"]
    uniq = list(dict.fromkeys(terms))
    # phrase matching has no global stats, so the payload filter
    # applies BEFORE the pivot — pushed into the term-pruned scan
    hits = IK.apply_where(
        IK.probed(spark, "text_index", view_path, v, uniq), where,
    ).select(key, "term", "positions")
    # one row per candidate doc: term -> sorted offsets (postings hold
    # one row per (doc, term), so the map build is collision-free);
    # docs missing any phrase term can't match — drop them before the
    # chain scan
    per_doc = (hits.groupBy(key)
               .agg(F.map_from_entries(F.collect_list(
                   F.struct("term", "positions"))).alias("pm"))
               .where(F.size(F.map_keys("pm")) == len(uniq)))
    pm = F.col("pm")
    chain = F.filter(
        pm[F.lit(terms[0])],
        lambda p: reduce(
            lambda a, b: a & b,
            [F.array_contains(pm[F.lit(t)], p + F.lit(i))
             for i, t in enumerate(terms[1:], start=1)],
            F.lit(True)))
    out = (per_doc
           .select(key, F.size(chain).cast("long").alias("phrase_tf"))
           .where(F.col("phrase_tf") > 0))
    return similarity.top_k(out, k, key, "phrase_tf")
