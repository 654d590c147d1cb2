"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

The reference only sketches EXACT dedup — and its version is dead code
(rclip_server.py:237-245: the GROUP BY vector HAVING count>1 SQL string is
built but never executed). Implemented correctly here, plus the near-dup
family a 100 TB training-data pipeline needs (SURVEY.md §F).

Scale notes (the design constraint for every operator in this file):
  * exact dedup shuffles on a 32-bit content hash, not the full payload —
    the wide column rides along but the partitioner key is small;
  * MinHash/LSH turns all-pairs O(N²) into per-bucket pairs: candidates are
    generated by an equi-join on (band, band_hash), which Spark executes as a
    plain shuffle join — no cross join ever materializes;
  * exact all-pairs variants (ngram_jaccard_pairs, embedding cosine pairs)
    are *verification-grade* operators for small-to-medium N and for the
    DuckDB oracle; their docstrings point at the LSH path as the scale tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.hashing import (
    hash32_from_md5_sql,
    hash60_from_md5_sql,
    minhash_params,
    minhash_signature_over_hashed_sql,
    portable_hash32,
    simhash32_sql,
)
from ..functions.vector import sql_ref

# The shingle→hash→signature builders below construct their projections as
# parsed SQL text (selectExpr / the *_sql twins) rather than python-lambda
# higher-order functions: the parsed trees are identical (bit-parity pinned
# by the oracle gate), but text construction is one py4j round-trip per
# projection instead of ~10 ms per lambda — profiling showed DataFrame
# construction was ~30-60% of these rows' bench wall time (r14 opt round).


def _banded_explode_sql(sig_ref: str, bands: int, rows_per_band: int) -> str:
    """explode(array(struct(band, slice(sig, ...)))) as SQL text."""
    structs = ", ".join(
        f"named_struct('band', {i}, 'bh', "
        f"slice({sig_ref}, {i * rows_per_band + 1}, {rows_per_band}))"
        for i in range(bands)
    )
    return f"explode(array({structs})) AS bk"


class ScaleGuardError(RuntimeError):
    """Raised when a verification-grade (quadratic) operator is invoked on an
    input too large for its all-pairs plan; callers should use the LSH tier."""


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input is narrower than the
    cluster: the shingle→md5→signature pass is CPU-dense, and a small parquet
    file arrives as a single partition that would serialize it. A wide input
    (the 100 TB case: thousands of file splits) is left untouched — never
    shrink an already-parallel scan."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _first_band_only(a_sig, b_sig, band, rows_per_band: int):
    """True iff ``band`` is the LOWEST band where the two signatures' slices
    agree — the shuffle-free pair dedupe: a pair that collides in k bands is
    emitted exactly once (by its first matching band) instead of k times +
    a distinct() exchange. Band 0 is special-cased because Spark's
    sequence(0, -1) is the *descending* sequence [0, -1], not empty."""
    return F.when(band == 0, F.lit(True)).otherwise(
        F.forall(
            F.sequence(F.lit(0), band - 1),
            lambda j: F.slice(a_sig, j * rows_per_band + 1, rows_per_band)
            != F.slice(b_sig, j * rows_per_band + 1, rows_per_band),
        )
    )


def _min_matches(num_hashes: int, threshold: float) -> int:
    """The signature-agreement prefilter cut: est-jaccard = matching
    signature components / num_hashes, kept when est >= threshold - 4*sd
    (the binomial sd at the threshold; miss probability < 1e-4 per true
    pair)."""
    sd = (threshold * (1.0 - threshold) / num_hashes) ** 0.5
    return max(0, int(num_hashes * (threshold - 4.0 * sd)))


def _sig_agreement(num_hashes: int, threshold: float):
    """The prefilter predicate over a band join's ``a``/``b`` sides: the
    count of matching signature components reaches _min_matches."""
    matches = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return matches >= F.lit(_min_matches(num_hashes, threshold))


def _jaccard_verified(cands: DataFrame, grams_a: DataFrame, grams_b: DataFrame,
                      threshold: float, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Exact Jaccard verification of candidate (a, b) pairs: join each
    side's (id, gs) 60-bit shingle set, keep jaccard >= threshold."""
    joined = (
        cands.join(grams_a.withColumnRenamed("id", a).withColumnRenamed("gs", "gs_a"), a)
        .join(grams_b.withColumnRenamed("id", b).withColumnRenamed("gs", "gs_b"), b)
    )
    inter = F.size(F.array_intersect("gs_a", "gs_b")).cast("double")
    union = (F.size("gs_a") + F.size("gs_b")).cast("double") - inter
    return (
        joined.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def _guard_rows(df: DataFrame, max_rows: int | None, op: str, alternative: str) -> None:
    if max_rows is not None and df.limit(max_rows + 1).count() > max_rows:
        raise ScaleGuardError(
            f"{op} is verification-grade (all-pairs, O(N^2)) and limited to "
            f"{max_rows} rows; use {alternative} for the scale path, or pass "
            f"max_rows=None to override deliberately."
        )


def exact_dedup_mark(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Mark every row whose ``key_col`` value appeared before (keep-min-id),
    the corrected B4: duplicate ⇔ an earlier-id row with identical content.

    Shuffle economy: rows are routed by a 32-bit hash of the content, so a
    512-float embedding or a long document never becomes the exchange key; the
    raw content rides along only for collision verification (sorting within
    the bucket resolves on the cheap hash first). ``lag(key) == key`` within
    (hash) ordered by (key, id) marks everything but the first row of each
    identical-content run."""
    h = portable_hash32(F.col(key_col).cast("string"))
    w = Window.partitionBy(h).orderBy(F.asc(key_col), F.asc(id_col))
    return df.withColumn(
        "is_duplicate",
        F.coalesce(F.lag(F.col(key_col)).over(w) == F.col(key_col), F.lit(False)),
    )


def exact_dup_groups(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """GROUP BY content HAVING count(*)>1 with the surviving min id — the
    reference's intended dedup_sqlite output (rclip_server.py:239-241)."""
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_dups") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact all-pairs word-n-gram Jaccard similarity ≥ threshold.

    Plan: distinct (id, shingle) → self-equi-join on shingle → count
    intersections per pair → |A|+|B|-∩ union. The join is on the shingle
    string, so only pairs sharing ≥1 shingle are ever formed. At 100 TB this
    is still quadratic in hot shingles — use minhash_lsh_candidates as the
    scale tier and this as its verifier. Guarded by ``max_rows`` so the
    quadratic plan cannot be reached by accident on large inputs.
    """
    _guard_rows(df, max_rows, "ngram_jaccard_pairs", "minhash_near_dup")
    grams = (
        df.select(F.col(id_col).alias("id"), F.explode(TXT.word_ngrams(F.col(text_col), n)).alias("g"))
        .distinct()
    )
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """MinHash + banded LSH candidate pairs (id_a < id_b, distinct).

    shingle → 32 portable minhashes → 8 bands × 4 rows → explode band keys →
    self-equi-join on (band, band-slice). Signature computation is row-local
    column math (no UDF); the only shuffle is the band-key join. The join key
    is the slice itself (a 4-element bigint array — Spark hash-partitions it
    like any key): exact, engine-portable, and collision-free, unlike
    re-hashing the slice with an engine-native hash. The full signature rides
    along (256 B/row) so a pair colliding in k bands is deduped by the
    first-matching-band predicate instead of a distinct() exchange.
    """
    rows_per_band = num_hashes // bands
    params = minhash_params(num_hashes, seed)
    # two-step select: hash each shingle ONCE into a named column, then fold
    # the affine family over it — embedding the md5 transform inside each of
    # the 32 array_min expressions would re-run it 32x (14x slower measured)
    hashed = _spread(df).selectExpr(
        f"{sql_ref(id_col)} AS id",
        f"transform({TXT.char_shingles_spark_sql(sql_ref(text_col), shingle_n)}, "
        f"s -> {hash32_from_md5_sql('md5(s)')}) AS hs",
    )
    sig = hashed.selectExpr(
        "id", f"{minhash_signature_over_hashed_sql('hs', params)} AS sig"
    )
    banded = sig.selectExpr(
        "id", "sig", _banded_explode_sql("sig", bands, rows_per_band)
    ).select("id", "sig", "bk.band", "bk.bh")
    # both sides of the self-join read this; persist so the md5+signature
    # pass runs once, not once per alias (signatures are small: N x bands
    # rows of (id, sig, band, r-element slice))
    banded = banded.persist()
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(_first_band_only(F.col("a.sig"), F.col("b.sig"), F.col("a.band"), rows_per_band))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def minhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → signature-agreement prefilter
    → exact shingle-set Jaccard verification ≥ threshold. The standard 100 TB
    recipe: candidate count is ~linear, verification touches only candidate
    pairs, and the cheap prefilter (count matching components of the two
    32-int signatures, an unbiased Jaccard estimator) keeps the expensive
    set intersection away from the low-similarity bulk. The prefilter cut is
    set 4+ binomial standard deviations below the threshold (miss probability
    < 1e-4 per true pair); the DuckDB oracle mirrors it, so cross-engine
    parity is exact.

    Verification compares 60-bit-hashed shingle sets rather than the raw
    strings: identical Jaccard up to a ~1e-13 per-doc collision probability,
    at a fraction of the shuffle weight (8-byte ints vs 5-char strings riding
    to every candidate pair) and with integer set-intersection instead of
    string hashing. The DuckDB oracle mirrors the same hash, so parity is
    exact."""
    rows_per_band = num_hashes // bands
    # ONE md5 pass feeds both hash widths and materializes ONCE as
    # (id, sig, gs) — the only per-row state every downstream consumer
    # needs (_minhash_banded_sigs).
    #
    # The full 32-int signature rides through the band join: it pays for
    # itself twice, deduping multi-band collisions via the first-matching-
    # band predicate (no distinct() exchange) and feeding the agreement
    # prefilter inline (no re-join of signatures onto pairs). Both were
    # re-derived this round (r15, guide §2.3): a slimmed band join carrying
    # only (id, band, bh) forces the prefilter onto ATTACHED signatures
    # after a per-side join — and with this corpus's collision density
    # (~bands x N raw collisions) the pair-side shuffles then outweigh the
    # signature's ride by 2x measured (505 vs 255 MB app shuffle with
    # broadcast disabled). Keeping the predicates inline keeps the
    # collision stream row-local until it has been cut to verified
    # candidates.
    grams, banded = _minhash_banded_sigs(
        df, id_col, text_col, shingle_n, minhash_params(num_hashes, seed),
        bands, rows_per_band
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(_first_band_only(F.col("a.sig"), F.col("b.sig"), F.col("a.band"), rows_per_band))
    )
    cands = cands.where(_sig_agreement(num_hashes, threshold))
    cands = cands.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    return _jaccard_verified(cands, grams, grams, threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.8,
    max_df: int = 20,
    min_shared: int = 2,
) -> DataFrame:
    """Asymmetric near-dup: pairs where the SMALLER document's shingle set
    is mostly inside the larger's — containment = |A∩B| / min(|A|,|B|) —
    catching quotes, excerpts, and boilerplate-wrapped copies that Jaccard
    misses (a 10:1 size ratio caps Jaccard at 0.1 while containment can be
    1.0; MinHash bands tuned for Jaccard share that blindness).

    Scale shape: candidates come from the RARE-shingle inverted index —
    explode shingles, keep those appearing in <= ``max_df`` docs, and
    equi-join doc ids per rare shingle, keeping pairs sharing >=
    ``min_shared`` of them. Pair count is bounded by sum df^2 over rare
    shingles (each shingle contributes at most max_df^2 pairs) — linear-ish
    in corpus size with a df cap, never all-pairs. Exact set verification
    touches candidates only. All counts are integers, the division is one
    exact double op — cross-engine deterministic."""
    grams = _spread(df).selectExpr(
        f"{sql_ref(id_col)} AS id",
        f"array_distinct(transform("
        f"{TXT.char_shingles_spark_sql(sql_ref(text_col), shingle_n)}, "
        f"s -> {hash60_from_md5_sql('md5(s)')})) AS gs",
        # localCheckpoint (not persist): grams is read three times below but
        # a bare persist leaks cached blocks into long-lived sessions;
        # checkpoint materializes once and frees with the RDD's GC
    ).localCheckpoint(eager=True)
    e = grams.select("id", F.explode("gs").alias("gram"))
    rare = (
        e.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= F.lit(int(max_df)))
        .select("gram")
    )
    er = e.join(rare, "gram")
    # the two sides share lineage; distinct column names keep Spark from
    # emitting its "Constructing trivially true equals predicate" warning
    a = er.select(F.col("gram"), F.col("id").alias("id_a"))
    b = er.select(F.col("gram").alias("gram_b"), F.col("id").alias("id_b"))
    cand = (
        a.join(b, F.col("gram") == F.col("gram_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= F.lit(int(min_shared)))
        .select("id_a", "id_b")
    )
    ga = grams.select(F.col("id").alias("id_a"), F.col("gs").alias("gs_a"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("gs").alias("gs_b"))
    inter = F.size(F.array_intersect("gs_a", "gs_b")).cast("double")
    denom = F.least(F.size("gs_a"), F.size("gs_b")).cast("double")
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("containment", inter / denom)
        .where(F.col("containment") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "containment")
    )


def simhash_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SimHash fingerprint per document + duplicate marking on identical
    fingerprints. Hamming-radius search at scale: band the 32 bits into k
    chunks and equi-join per chunk (same LSH shape as minhash)."""
    hashed_sql = (
        f"transform({TXT.tokens_spark_sql(sql_ref(text_col))}, "
        f"t -> {hash32_from_md5_sql('md5(t)')})"
    )
    fp = df.selectExpr(
        sql_ref(id_col), f"{simhash32_sql(hashed_sql)} AS simhash"
    )
    w = Window.partitionBy("simhash").orderBy(F.asc(id_col))
    return fp.withColumn("is_duplicate", F.row_number().over(w) > 1)


def simhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup at scale: band the 32-bit fingerprint into ``chunks``
    byte-chunks and equi-join per chunk — by pigeonhole, any pair within
    Hamming distance < chunks shares at least one identical chunk, so recall
    is EXACT for max_hamming < chunks. Verification is one xor+popcount per
    candidate pair. Same banded-LSH shape as minhash: no all-pairs anywhere.
    """
    bits_per = 32 // chunks
    hashed_sql = (
        f"transform({TXT.tokens_spark_sql(sql_ref(text_col))}, "
        f"t -> {hash32_from_md5_sql('md5(t)')})"
    )
    fp = df.selectExpr(
        f"{sql_ref(id_col)} AS id", f"{simhash32_sql(hashed_sql)} AS sh"
    ).persist()  # both sides of the self-join
    chunk_structs = ", ".join(
        f"named_struct('chunk', {i}, 'ck', "
        f"(shiftright(sh, {i * bits_per}) & {(1 << bits_per) - 1}))"
        for i in range(chunks)
    )
    banded = fp.selectExpr(
        "id", "sh", f"explode(array({chunk_structs})) AS bk"
    ).select("id", "sh", "bk.chunk", "bk.ck")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_rows: int | None = 20_000,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold over unit-norm embeddings.

    Verification-grade (O(N²) join); the scale tier is
    ann.hyperplane_lsh_near_dup which buckets by random-hyperplane signs
    first. Kept exact here because it is the DuckDB-oracle-checkable
    semantics definition. Guarded by ``max_rows`` so the quadratic plan
    cannot be the default path at scale."""
    from ..functions import vector as V

    _guard_rows(df, max_rows, "embedding_near_dup_pairs", "ann.hyperplane_lsh_near_dup")

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", V.dot("va", "vb"))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.col("cos").alias("cosine"))
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list → (id, label) with
    ``label`` = the component's minimum vertex id.

    The last stage of fuzzy dedup at scale: near-dup PAIRS (from the LSH
    tiers) must become duplicate CLUSTERS before a keep-one policy can run,
    and transitive closure is exactly connected components.

    Algorithm: min-label propagation with pointer jumping. Each round
    (1) every vertex adopts the minimum label among itself and its
    neighbors (one shuffle join + one agg), then (2) labels are compressed
    one pointer-jump — label := label's current label — which halves chain
    depth and gives O(log diameter) rounds instead of O(diameter). Rounds
    run to an exact fixed point (converged ⇔ no label changed), so the
    result is exact, not approximate. Scale hygiene for iterative
    DataFrames: each round's labels are localCheckpoint-ed to truncate the
    lineage (otherwise the plan doubles every round and Catalyst planning
    time explodes), and the previous round's cache is released."""
    und = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    e = (
        und.union(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        e.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        nbr_min = (
            e.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr_min"))
            .withColumnRenamed("src", "id")
        )
        updated = labels.join(nbr_min, "id", "left").select(
            "id", F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("label")
        )
        parents = updated.select(F.col("id").alias("label"), F.col("label").alias("ll"))
        jumped = (
            updated.join(parents, "label", "left")
            .select("id", F.coalesce("ll", F.col("label")).alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            e.unpersist()
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds; "
        "with pointer jumping this needs ~log2(diameter) rounds — raise "
        "max_iterations for pathologically deep graphs."
    )


def duplicate_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    **minhash_kwargs,
) -> DataFrame:
    """Full fuzzy-dedup cluster assignment: every row gets a ``cluster_id``
    (the minimum doc id of its near-dup component; singletons map to
    themselves). minhash_near_dup pairs → connected_components → left join
    back onto the corpus. Downstream keep-one dedup is then
    ``WHERE doc_id = cluster_id``."""
    pairs = minhash_near_dup(
        df, id_col=id_col, text_col=text_col, threshold=threshold, **minhash_kwargs
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("label", F.col("id")).alias("cluster_id"),
        )
    )


def doc_fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document rolling-hash fingerprint (functions.text.fingerprint)."""
    return df.select(
        F.col(id_col), TXT.fingerprint(F.col(text_col)).alias("fingerprint")
    )


def semantic_dedup(
    df: DataFrame,
    centroids,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "gemm",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then drop every row
    that has a LOWER-id near-duplicate (cosine >= threshold) **within its own
    cluster** — the kept row of each near-dup set is its minimum id, matching
    the keep-min convention of exact_dedup_mark.

    Why clustering first: the quadratic compare is confined to a cluster, so
    with k clusters the compare cost drops from O(N^2) to O(sum n_c^2) ~
    O(N^2/k), and k scales with the corpus. The reference has no
    semantic-dedup surface; this is §F north-star territory.

    ``method='gemm'`` (default, the paper's shape): one shuffle groups each
    cluster, then a per-cluster applyInPandas computes the pairwise cosine
    block as a single BLAS GEMM (mat @ mat.T) and emits only the candidate
    pairs above ``threshold - 1e-6``. Candidates then pass an EXACT
    left-assoc column-fold verification, so results are bit-identical to
    the pairwise SQL path (and its DuckDB oracle): the GEMM is a prefilter
    whose float64 summation-order error (« 1e-6) cannot drop a qualifying
    pair. Measured 2.7x faster than the join path at sf0.1 — and the gap
    widens with cluster size, because O(n_c^2) work runs at BLAS speed
    instead of per-pair expression folds. The SemDeDup contract is that a
    cluster fits an executor (k scales with N) — the same contract the
    paper's per-cluster in-memory pairwise step has.

    ``method='pairs'``: the pure-plan variant — self equi-join on the
    cluster id with the dot as a column fold. No Python workers, but every
    pair pays interpreted array-expression cost.

    Centroids arrive as literals (trained via ann.ivf_train_kmeans /
    ivf_init_maximin or externally), so assignment is map-side
    greatest-of-structs — no driver round-trip in either method.
    """
    from . import ann

    assigned = ann.ivf_assign(df, centroids, id_col, vec_col)
    from ..functions import vector as V

    if method == "gemm":
        import numpy as np

        thr = float(threshold)

        def _cell_candidates(pdf):
            # closure-self-contained (executors lack the repo on sys.path);
            # applyInPandas hands each cluster over WHOLE (a mapInPandas
            # variant could split a cluster across Arrow batches and miss
            # the cross-batch pairs)
            import numpy as np
            import pandas as pd

            if len(pdf) > 100_000:
                # the SemDeDup memory contract is that a cluster fits an
                # executor; a 100k+ cell means k was not scaled with N —
                # fail loudly rather than OOM or run a 10^10-sim GEMM
                raise RuntimeError(
                    f"semantic_dedup cell has {len(pdf)} rows; raise the "
                    "centroid count so clusters stay executor-sized"
                )
            if len(pdf) < 2:
                return pd.DataFrame({"id_a": [], "id_b": []})
            pdf = pdf.sort_values("__id")
            ids = pdf["__id"].to_numpy()
            mat = np.stack(pdf["__vec"].to_numpy()).astype(np.float64, copy=False)
            sims = mat @ mat.T
            ii, jj = np.nonzero(np.triu(sims >= thr - 1e-6, k=1))
            return pd.DataFrame({"id_a": ids[ii], "id_b": ids[jj]})

        id_t = df.schema[id_col].dataType.simpleString()
        cells = assigned.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
            "ivf_cell",
        )
        cand = cells.groupBy("ivf_cell").applyInPandas(
            _cell_candidates, f"id_a {id_t}, id_b {id_t}"
        )
        va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        dupes = (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .where(V.dot("va", "vb") >= F.lit(thr))  # exact fold on candidates
            .select(F.col("id_b").alias("dup_id"))
            .distinct()
        )
    else:
        a = assigned.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
            F.col("ivf_cell").alias("ca"),
        )
        b = assigned.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
            F.col("ivf_cell").alias("cb"),
        )
        dupes = (
            a.join(b, (F.col("ca") == F.col("cb")) & (F.col("id_a") < F.col("id_b")))
            .where(V.dot("va", "vb") >= F.lit(float(threshold)))
            .select(F.col("id_b").alias("dup_id"))
            .distinct()
        )
    return assigned.join(
        dupes, F.col(id_col) == F.col("dup_id"), "left_anti"
    ).select(id_col, vec_col, "ivf_cell")


def _minhash_banded_sigs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    params,
    bands: int,
    rows_per_band: int,
):
    """Shared signature pipeline: one md5 pass per row feeds the 32-bit
    minhash base AND the 60-bit verification sets; returns (verification
    sets, banded signatures). ONE persisted (id, sig, gs) table backs both:
    the band frame re-derives from it with a cheap slice/explode instead of
    being cached a second time (r15 — each band frame is read by one join
    side, so its r14 persist was a pure extra materialization; the
    expensive md5 + signature transforms are what the cache must hold)."""
    vs = (
        _spread(df)
        .selectExpr(
            f"{sql_ref(id_col)} AS id",
            f"transform({TXT.char_shingles_spark_sql(sql_ref(text_col), shingle_n)}, "
            "s -> md5(s)) AS m5",
        )
        .selectExpr(
            "id",
            f"transform(m5, m -> {hash32_from_md5_sql('m')}) AS hs",
            f"array_distinct(transform(m5, m -> {hash60_from_md5_sql('m')})) AS gs",
        )
        .selectExpr(
            "id",
            f"{minhash_signature_over_hashed_sql('hs', params)} AS sig",
            "gs",
        )
        .persist()
    )
    banded = vs.selectExpr(
        "id", "sig", _banded_explode_sql("sig", bands, rows_per_band)
    ).select("id", "sig", "bk.band", "bk.bh")
    grams = vs.select("id", "gs")
    return grams, banded


def minhash_near_dup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Incremental ingestion dedup: near-dup pairs BETWEEN an incoming
    ``batch`` and the existing ``corpus`` (never corpus x corpus) — the
    realistic crawl-ingest shape, where each new batch is checked against
    everything already indexed and only batch-side rows get dropped.
    Output: (corpus_id, batch_id, jaccard) with jaccard >= threshold.

    Same scale design as ``minhash_near_dup`` (banded LSH equi-join,
    signature-agreement prefilter, exact verification on candidates only),
    but the band join is corpus x batch: its cost scales with the BATCH
    size, not the corpus — at 100 TB the corpus side's banded signatures
    are a precomputable table (8 ints + 32-int signature per row), so
    ingesting a batch reads the signature index, not the corpus text. The
    first-matching-band predicate dedupes multi-band collisions with no
    distinct() exchange, exactly as in the self-join path.
    """
    rows_per_band = num_hashes // bands
    params = minhash_params(num_hashes, seed)
    gc_, bc_ = _minhash_banded_sigs(
        corpus, id_col, text_col, shingle_n, params, bands, rows_per_band
    )
    gb_, bb_ = _minhash_banded_sigs(
        batch, id_col, text_col, shingle_n, params, bands, rows_per_band
    )
    a, b = bc_.alias("a"), bb_.alias("b")
    cands = a.join(
        b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
    ).where(_first_band_only(F.col("a.sig"), F.col("b.sig"), F.col("a.band"), rows_per_band))
    cands = cands.where(_sig_agreement(num_hashes, threshold))
    cands = cands.select(F.col("a.id").alias("corpus_id"), F.col("b.id").alias("batch_id"))
    return _jaccard_verified(cands, gc_, gb_, threshold, "corpus_id", "batch_id")
