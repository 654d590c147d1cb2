"""Similarity search over embedding columns: exact brute-force top-k (the
semantics baseline, reference A1/A2) and approximate scale tiers
(random-hyperplane LSH buckets; IVF-style coarse quantization; PCA,
binary and product-quantized shortlists).

Scale shape: brute force is map-side score + TakeOrderedAndProject — it
*works* at 100 TB but reads everything. The LSH/IVF tiers cut the scan to a
bucket subset; both are built from deterministic literal projections so
results are reproducible and oracle-checkable.

Each approximate tier is exact over its probed candidates only while every
place that probes means the same thing, so each vector-search rule is
written once, here, and the maintained indexes (sources/annindex.py,
sources/ivfindex.py) call the same code:

* ``flip_masks`` — the Hamming-ball probe masks (every XOR mask of at most
  n bit flips);
* ``lsh_probe_rule`` — the query's sign-bit bucket XOR those masks, the
  LSH probe set (``lsh_topk_multiprobe`` and the ANN index queries);
* ``ivf_probe_rule`` — the n_probe nearest cells (``ivf_topk``,
  ``ivf_pq_topk`` and the IVF index queries);
* ``infer_dim`` — the one empty-input dim probe;
* the exact tail of every tier is ``similarity.topk_similar`` (exact dot
  against the query literal, (score DESC, id ASC) top-k) over the
  candidates the tier kept, and every per-query top-k is
  ``similarity.top_k_per``;
* ``_knn_join`` — the k-NN join body: candidate-volume scale guard,
  left-side bucket + probe explode, bucket equi-join, per-left-row window
  (``lsh_knn_join`` and ``annindex.knn_join_via_index``);
* the PQ tail — ``_pq_argmin`` (per-subspace GEMM argmin), ``_adc`` (the
  lookup table and its gathers), ``_ivf_adc_topk`` (IVFADC over probed
  candidates, also IVF's ``method='adc'`` index tier) and ``_rerank``
  (shortlist, broadcast the ids back, exact re-score, top-k).
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from . import similarity


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    h = rng.standard_normal((n_planes, dim))
    return h / np.linalg.norm(h, axis=1, keepdims=True)


def hyperplane_bucket_sql(vec_ref: str, planes: np.ndarray) -> V.SqlExpr:
    """SQL text of ``hyperplane_bucket_col`` (same parsed tree; zero
    per-plane py4j calls — the bucket expression is n_planes x dim literal
    nodes and was a measured driver-side construction hotspot)."""
    ref = vec_ref if isinstance(vec_ref, V.SqlExpr) else V.SqlExpr(vec_ref)
    terms = ["CAST(0 AS BIGINT)"]
    for i, p in enumerate(planes):
        d = V.dot_sql(ref, V.vec_lit_sql(list(p)))
        terms.append(f"(CASE WHEN ({d}) >= 0 THEN CAST({1 << i} AS BIGINT) "
                     "ELSE CAST(0 AS BIGINT) END)")
    return V.SqlExpr("(" + " + ".join(terms) + ")")


def hyperplane_bucket_col(vec_col, planes: np.ndarray):
    """Sign-bit bucket id: bit_i = dot(v, plane_i) >= 0. Pure column math over
    literal planes — deterministic, identical in the DuckDB oracle. Pass a
    column NAME to get the cheap SQL-text construction path."""
    if isinstance(vec_col, str):
        return F.expr(hyperplane_bucket_sql(V.sql_ref(vec_col), planes))
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(V.dot(vec_col, V.vec_lit(list(p))) >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


def flip_masks(n_planes: int, n_probe_bits: int) -> list[int]:
    """The Hamming-ball probe masks: every XOR mask of at most
    ``n_probe_bits`` flips of ``n_planes`` sign bits — the identity first,
    then by width, each width in ``itertools.combinations`` order
    (1 + C(p,1) + ... + C(p,n) masks; a width past ``n_planes`` adds
    none). A negative width raises ValueError."""
    if n_probe_bits < 0:
        raise ValueError(f"n_probe_bits must be >= 0, got {n_probe_bits}")
    return [sum(1 << i for i in flips)
            for w in range(min(int(n_probe_bits), n_planes) + 1)
            for flips in itertools.combinations(range(n_planes), w)]


def lsh_probe_rule(planes: np.ndarray, n_probe_bits: int):
    """The LSH probe rule: query vector -> the sorted buckets within
    ``n_probe_bits`` flips of the query's sign-bit bucket (bit i set when
    the query lies on the non-negative side of plane i — the driver-side
    twin of hyperplane_bucket_col)."""
    masks = flip_masks(len(planes), n_probe_bits)

    def rule(q: np.ndarray) -> list[int]:
        qbucket = sum((1 << i) for i, p in enumerate(planes)
                      if float(p @ q) >= 0)
        return sorted({qbucket ^ m for m in masks})

    return rule


def ivf_probe_rule(centroids: np.ndarray, n_probe: int):
    """The IVF probe rule: query vector -> the ``n_probe`` cells whose
    centroids score highest against it (max dot, np.argsort order). An
    ``n_probe`` below 1 raises ValueError."""
    if int(n_probe) < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    C = np.asarray(centroids, dtype=np.float64)
    return lambda q: [int(i) for i in np.argsort(-(C @ q))[:int(n_probe)]]


def infer_dim(df: DataFrame, vec_col: str, dim: int | None = None) -> int:
    """``dim`` when given (plan construction stays lazy), else the length
    of one row's ``vec_col`` — one probe job; an empty input raises
    ValueError."""
    if dim is not None:
        return int(dim)
    probe = df.select(F.size(vec_col)).first()
    if probe is None or probe[0] is None:
        raise ValueError(f"cannot infer the {vec_col} dim from an empty "
                         f"input; pass dim=")
    return int(probe[0])


def brute_force_topk_multi(
    df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact top-k per query for a (small) batch of query vectors.

    Broadcast the query side and cross-score map-side, then take top-k in
    two tiers: a per-partition partial top-k (mapInPandas — each of the P
    input partitions emits at most M*k candidate rows) followed by the
    per-query window over the surviving <= P*M*k rows. The naive
    single-tier window would hash ALL N scored rows of a query onto one
    reducer — a straight scale-killer when M is small; here the reducer
    sees only partition winners. Both tiers order by (score DESC, id ASC),
    and partial top-k under the total order is exact, so results are
    identical to the single-tier plan."""
    joined = df.crossJoin(F.broadcast(queries_df))
    scored = joined.select(
        F.col(query_id),
        F.col(id_col),
        V.dot(vec_col, query_vec).alias("score"),
    )
    partial = partition_partial_topk(scored, k, query_id=query_id, id_col=id_col)
    return similarity.top_k_per(partial, k, query_id, id_col).select(
        query_id, id_col, "score", "rank")


def partition_partial_topk(
    scored: DataFrame,
    k: int,
    query_id: str = "query_id",
    id_col: str = "vec_id",
    score_col: str = "score",
) -> DataFrame:
    """Per-PARTITION top-k per query over a (query_id, id, score) frame:
    each of the P input partitions emits at most M*k rows (M = distinct
    queries), so the downstream per-query consolidation never receives
    more than P*M*k rows — this is the bound that keeps multi-query top-k
    off a single reducer. Ordering is (score DESC, id ASC), under which
    partial top-k is exact. Exposed for the boundedness test."""
    out_schema = scored.schema
    kk = int(k)
    qid_name, id_name, sc_name = query_id, id_col, score_col

    def _partial_topk(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # closure-self-contained (executors don't have the repo on sys.path)
        def consolidate(frames):
            allc = pd.concat(frames, ignore_index=True)
            allc = allc.sort_values(
                [qid_name, sc_name, id_name], ascending=[True, False, True]
            )
            return allc.groupby(qid_name, sort=False).head(kk)

        buf, n = [], 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            buf.append(pdf)
            n += len(pdf)
            if n > 65536:  # bound the in-memory candidate pool
                buf = [consolidate(buf)]
                n = len(buf[0])
        if buf:
            yield consolidate(buf)

    return scored.mapInPandas(_partial_topk, out_schema)


def brute_force_topk_multi_gemm(
    df: DataFrame,
    query_vecs,
    query_ids: list[str],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k for M queries in ONE data pass: each Arrow batch becomes a
    NumPy matrix and one GEMM (`batch @ Q.T`) scores all M queries at once.

    The per-query SQL plan reads the data M times; this reads it once —
    measured 13x faster at M=50, n=50k, dim=512 on local[16]. Output matches
    brute_force_topk_multi (same scores up to GEMM summation order). Note:
    for SINGLE queries the codegen'd SQL fold matches Arrow-GEMV wall-time
    (measured at dim 512); batching queries is where the matrix path pays.

    Scale shape: the same mapInPandas pass that runs the GEMM also keeps a
    per-partition partial top-k, so each partition ships at most M*k rows —
    the old explode-then-window plan shuffled all N*M scored rows onto M
    reducers. The final window consolidates <= P*M*k partition winners;
    partial top-k under (score DESC, id ASC) is exact."""
    from pyspark.sql import types as T

    Q = np.asarray(query_vecs, dtype=np.float64)
    if Q.ndim != 2 or Q.shape[0] != len(query_ids):
        raise ValueError("query_vecs must be M x dim matching query_ids")
    qids = list(query_ids)
    kk = int(k)
    vec_name, id_name = vec_col, id_col

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.StringType(), False),
            id_field,
            T.StructField("score", T.DoubleType(), True),
        ]
    )

    def _gemm_partial_topk(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # closure-self-contained (executors don't have the repo on sys.path)
        ids_buf: list = []
        scores_buf: list = []

        def compact():
            # keep, per query, the k best (score desc, id asc) row indices
            ids_cat = np.concatenate(ids_buf)
            sc_cat = np.vstack(scores_buf)  # C x M
            order_ids = np.argsort(ids_cat, kind="stable")
            keep = np.zeros(len(ids_cat), dtype=bool)
            for j in range(sc_cat.shape[1]):
                # sort by id asc (stable) then score desc => ties broken by id
                col = sc_cat[order_ids, j]
                by_score = np.argsort(-col, kind="stable")[:kk]
                keep[order_ids[by_score]] = True
            ids_buf[:] = [ids_cat[keep]]
            scores_buf[:] = [sc_cat[keep]]

        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_name].to_numpy()).astype(np.float64, copy=False)
            ids_buf.append(pdf[id_name].to_numpy())
            scores_buf.append(mat @ Q.T)
            if sum(len(a) for a in ids_buf) > max(4 * kk * len(qids), 65536):
                compact()
        if not ids_buf:
            return
        compact()
        ids_cat = ids_buf[0]
        sc_cat = scores_buf[0]
        order_ids = np.argsort(ids_cat, kind="stable")
        frames = []
        for j, qid in enumerate(qids):
            col = sc_cat[order_ids, j]
            best = order_ids[np.argsort(-col, kind="stable")[:kk]]
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": qid,
                        id_name: ids_cat[best],
                        "score": sc_cat[best, j],
                    }
                )
            )
        yield pd.concat(frames, ignore_index=True)

    partial = df.select(id_col, vec_col).mapInPandas(_gemm_partial_topk, out_schema)
    return similarity.top_k_per(partial, k, "query_id", id_col).select(
        "query_id", id_col, "score", F.col("rank").cast("long").alias("rank"))


def lsh_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    n_planes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: only rows in the query's hyperplane bucket are
    scored — ``lsh_topk_multiprobe`` with ``n_probe_bits=0``. At scale the
    table is written partitioned by bucket so the scan prunes to
    1/2^n_planes of the data before any scoring happens."""
    return lsh_topk_multiprobe(df, query_vec, k, n_planes, n_probe_bits=0,
                               seed=seed, id_col=id_col, vec_col=vec_col)


def hyperplane_lsh_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup at scale: bucket by hyperplane signs, exact-verify
    cosine only within buckets (near-identical vectors share all sign bits
    with high probability) — ``hyperplane_lsh_near_dup_multiset`` with one
    plane set; more sets raise recall.

    Pass ``dim`` explicitly to keep plan construction lazy; when absent one
    probe row is read to infer it (errors clearly on an empty input)."""
    return hyperplane_lsh_near_dup_multiset(
        df, threshold, n_planes, n_sets=1, seed=seed, id_col=id_col,
        vec_col=vec_col, dim=dim)


def lsh_topk_multiprobe(
    df: DataFrame,
    query_vec,
    k: int = 10,
    n_planes: int = 4,
    n_probe_bits: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH top-k: scan the query's bucket plus every bucket within
    Hamming distance ``n_probe_bits`` of it (``lsh_probe_rule``). The
    standard recall lever — the scan fraction grows from 1/2^p to
    (1 + C(p,1) + ...)/2^p while staying partition-prunable when the table
    is written bucketed."""
    qv = np.asarray(query_vec, dtype=np.float64)
    planes = hyperplanes(n_planes, len(qv), seed)
    probes = lsh_probe_rule(planes, n_probe_bits)(qv)
    bucketed = df.withColumn("bucket", hyperplane_bucket_col(vec_col, planes))
    return similarity.topk_similar(bucketed.where(F.col("bucket").isin(probes)),
                                   qv, k, id_col, vec_col)


def lsh_similarity_join(
    df_a: DataFrame,
    df_b: DataFrame,
    threshold: float = 0.5,
    n_planes: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Similarity JOIN between two tables (§F: all-pairs A×B, not 1×N):
    bucket BOTH sides by the same hyperplane signs, equi-join on the bucket,
    verify cosine ≥ threshold only within buckets. The A×B generalization of
    hyperplane_lsh_near_dup — at 100 TB both sides write bucketed and the
    join is partition-pruned per bucket."""
    planes = hyperplanes(n_planes, infer_dim(df_a, vec_col, dim), seed)
    a = df_a.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        hyperplane_bucket_col(vec_col, planes).alias("bucket"),
    )
    b = df_b.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        hyperplane_bucket_col(vec_col, planes).alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .withColumn("cosine", V.dot("va", "vb"))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def hyperplane_lsh_near_dup_multiset(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 6,
    n_sets: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Recall-boosted embedding near-dup: union candidates from ``n_sets``
    independently seeded plane sets before the exact-cosine verification.

    One plane set misses a near-pair that straddles any plane; with s
    independent sets the miss probability decays exponentially (for cosine
    θ, P(miss) = (1-(1-θ/π)^p)^s). Cost is s bucketing passes, still zero
    all-pairs anywhere."""
    dim = infer_dim(df, vec_col, dim)
    cands = None
    for s in range(n_sets):
        planes = hyperplanes(n_planes, dim, seed + s)
        bucketed = df.select(
            F.col(id_col).alias("id"),
            hyperplane_bucket_col(vec_col, planes).alias("bucket"),
        )
        a, b = bucketed.alias("a"), bucketed.alias("b")
        pairs = a.join(
            b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
        ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        cands = pairs if cands is None else cands.unionByName(pairs)
    cands = cands.distinct()
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    joined = (
        cands.join(vecs.withColumnRenamed("id", "id_a").withColumnRenamed("v", "va"), "id_a")
        .join(vecs.withColumnRenamed("id", "id_b").withColumnRenamed("v", "vb"), "id_b")
    )
    return (
        joined.withColumn("cosine", V.dot("va", "vb"))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ivf_init_maximin(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic farthest-first (maximin) centroid init — the
    derandomized k-means++ : start from the min-id row, then repeatedly take
    the point with the LARGEST distance to its nearest chosen centroid
    (ties broken by smallest id). Spreads seeds like k-means++ without
    rand() (reproducible across runs/engines/partitionings, like everything
    in this repo keyed on content not chance).

    Scale shape: k-1 passes, each map-only — distances to the chosen
    centroids are literal-array expressions, the arg-max is a
    TakeOrderedAndProject (per-partition top-1 + P-row merge, no global
    sort). At 100 TB run it on a deterministic sample first
    (sampling.hash_mod_sample) — maximin is robust to subsampling."""
    from ..functions import vector as V

    if df.limit(k).count() < k:
        raise ValueError(f"need at least k={k} rows to init centroids")
    first = df.orderBy(F.asc(id_col)).limit(1).select(vec_col).collect()
    cents: list[np.ndarray] = [np.asarray(first[0][0], dtype=np.float64)]
    xsq = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    for _ in range(k - 1):
        dists = [
            xsq - 2.0 * V.dot(vec_col, V.vec_lit_sql(c)) + float(c @ c)
            for c in cents
        ]
        dmin = dists[0] if len(dists) == 1 else F.least(*dists)
        row = similarity.top_k(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), dmin.alias("d")),
            1, "id", "d").collect()
        cents.append(np.asarray(row[0]["v"], dtype=np.float64))
    return np.stack(cents)


def ivf_train_kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "first_k",
) -> np.ndarray:
    """Train IVF centroids with a deterministic DataFrame-native k-means.

    Init: ``"first_k"`` (default: the k min-id rows — one pass, and on
    near-uniform corpora it converges as well as anything) or ``"maximin"``
    (farthest-first, the derandomized k-means++ — measurably better INIT
    spread, worth its k-1 extra passes when the corpus is clustered). Each
    iteration: assign (map-only, centroids are literals) → per-(cell, dim)
    mean (one hash agg on a posexploded long form) → collect the k×dim
    centroid matrix (tiny) back to the driver. Only the k·dim stats ever
    cross the wire; empty cells keep their previous centroid.
    Unit-normalized at the end so IVF probing stays a max-dot-product
    search."""
    if init == "maximin":
        centroids = ivf_init_maximin(df, k, id_col, vec_col)
    elif init == "first_k":
        init_rows = df.orderBy(F.asc(id_col)).limit(k).select(vec_col).collect()
        if len(init_rows) < k:
            raise ValueError(f"need at least k={k} rows to train, got {len(init_rows)}")
        centroids = np.array([r[0] for r in init_rows], dtype=np.float64)
    else:
        raise ValueError(f"unknown init {init!r}; use 'maximin' or 'first_k'")
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, id_col, vec_col)
        means = (
            assigned.select("ivf_cell", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("ivf_cell", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new = centroids.copy()
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["ivf_cell"], {})[r["dim"]] = r["m"]
        for cell, dims in by_cell.items():
            for d, m in dims.items():
                new[cell, d] = m
        centroids = new
    return centroids / np.linalg.norm(centroids, axis=1, keepdims=True)


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """IVF coarse assignment: nearest centroid (max dot on unit vectors) per
    row, as a greatest-of-structs over literal centroids.
    ``keep_cols`` ride along unchanged (payload columns)."""
    cells = ", ".join(
        f"named_struct('s', {V.dot_sql(vec_col, V.vec_lit_sql(c))}, 'c', {i})"
        for i, c in enumerate(centroids)
    )
    return df.select(
        F.col(id_col), F.col(vec_col),
        F.expr(f"greatest({cells}).c").alias("ivf_cell"),
        *[F.col(c) for c in (keep_cols or [])]
    )


def ivf_topk(
    df: DataFrame,
    query_vec,
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: score only rows assigned to the n_probe centroids nearest
    the query (``ivf_probe_rule``)."""
    qv = np.asarray(query_vec, dtype=np.float64)
    cells = ivf_probe_rule(centroids, n_probe)(qv)
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    return similarity.topk_similar(assigned.where(F.col("ivf_cell").isin(cells)),
                                   qv, k, id_col, vec_col)


def pca_coarse_topk(
    index_df: DataFrame,
    query_vec,
    components: np.ndarray,
    mean: np.ndarray | None = None,
    k: int = 12,
    shortlist: int = 200,
    full_df: DataFrame | None = None,
    id_col: str = "vec_id",
    pca_col: str = "pca",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-to-fine ANN: shortlist by dot product in the PCA-reduced space
    (precomputed ``pca_col`` — an index-time artifact of stats.pca_project),
    then exact re-rank the shortlist in full dimension.

    The 100 TB shape this enables: the coarse pass scans a NARROW index
    table (id + n_components doubles — at 512→32 dims that is 16x less I/O
    and compute per row than exact scoring), both passes are
    TakeOrderedAndProject (per-partition heaps, no global sort), and the
    full-dimension table is touched only for the ≤``shortlist`` survivor
    ids, which re-enter as a broadcast semi-join (a point-lookup read, id
    pushdown prunes row groups). Pass ``full_df`` as the wide table; when
    omitted, ``index_df`` must carry ``vec_col`` too (single-table mode —
    correct, but the coarse scan then reads the wide column's file splits).

    Ranking note: the reduced-space order approximates the (mean-centered)
    cosine order — recall is what shortlist size buys; the FINAL order and
    scores are exact because the last stage rescores in full space."""
    q = np.asarray(query_vec, dtype=np.float64)
    if mean is not None and np.any(mean):
        q = q - np.asarray(mean, dtype=np.float64)
    q_red = np.asarray(components, dtype=np.float64) @ q

    scored = index_df.select(id_col, pca_col).withColumn(
        "score_red", V.dot(pca_col, V.vec_lit_sql(q_red)))
    return _rerank(scored, "score_red", shortlist, index_df, full_df,
                   query_vec, k, id_col, vec_col)


def binary_hamming_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Binary-quantization ANN tier: shortlist by Hamming distance on packed
    sign bits (8 bytes/vector at dim 64 — a 32x I/O cut when the packed
    words are precomputed at rest via vector.binarize_words), then exact
    dot-product re-rank of only the ``shortlist`` survivors. Sign-bit
    Hamming approximates angular distance (each agreeing sign bit is one
    hyperplane the pair does not straddle), so recall is bought purely by
    shortlist size — final scores are EXACT.

    Plan shape: both stages are map-side score + TakeOrderedAndProject —
    no shuffle beyond the two k·P-row merges; ties broken by id so the
    shortlist boundary is deterministic cross-engine.
    """
    qv = np.asarray(query_vec, dtype=np.float64)
    d = dim or int(qv.shape[0])
    qwords = []
    for w in range(0, d, 32):
        word = 0
        for i in range(min(32, d - w)):
            if qv[w + i] >= 0:
                word |= 1 << i
        qwords.append(word)
    qlit = F.array(*[F.lit(int(x)).cast("long") for x in qwords])
    short = (
        df.withColumn(
            "hamming", V.hamming_packed(V.binarize_words(F.col(vec_col), d), qlit)
        )
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(shortlist)
    )
    return similarity.topk_similar(short, qv, k, id_col, vec_col)


def ivf_outliers(
    df: DataFrame,
    centroids,
    z: float = 3.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space outlier detection: rows unusually FAR from their own
    cluster's centroid (cosine-to-centroid more than ``z`` standard
    deviations below the cell mean) — mislabeled/corrupt/off-distribution
    vectors surface here before they poison training.

    Determinism discipline (the ev_zscore recipe): the per-cell moments
    come from ORDER-FREE integer sums of nano-cosines (round(cos * 1e9) as
    BIGINT — exact at any partitioning), the z-test runs in double once
    per row. Map-side assignment (literal centroids) + one small groupBy +
    a broadcast join of k moment rows: no shuffle of the corpus."""
    import numpy as np

    from ..functions import vector as V

    assigned = ivf_assign(df, centroids, id_col, vec_col)
    cents = np.asarray(centroids, dtype=np.float64)
    # cosine to the ASSIGNED centroid, as a CASE over literal centroids
    score = F.lit(None).cast("double")
    for i, c in enumerate(cents):
        score = F.when(
            F.col("ivf_cell") == i, V.dot(vec_col, V.vec_lit_sql(c))
        ).otherwise(score)
    nanocos = F.round(score * F.lit(1e9)).cast("long")
    scored = assigned.withColumn("nanocos", nanocos)
    m = scored.groupBy("ivf_cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nanocos").alias("s1"),
        F.sum(F.col("nanocos") * F.col("nanocos")).alias("s2"),
    )
    j = scored.join(F.broadcast(m), "ivf_cell")
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = F.col("s2").cast("double") / F.col("n").cast("double") - mean * mean
    dev = mean - F.col("nanocos").cast("double")  # low cosine = outlying
    return j.where((dev > 0) & (dev * dev > F.lit(float(z) * float(z)) * var)).select(
        id_col, "ivf_cell", "nanocos"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------
# The remaining classic of the quantization ladder (float32 -> int8 ->
# binary -> PQ): split each vector into m_sub subvectors, k-means each
# subspace to k_cent centroids (Jegou, Douze & Schmid, "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011), and store ONE BYTE-ish code per
# subvector. At dim 64 / m_sub 8 / k_cent 256 that is 8 codes vs 256 bytes
# of float32 — a 32x I/O cut on the scan, finer-grained than binary signs.
# Scoring is ADC: the query precomputes a (m_sub x k_cent) lookup table of
# sub-dot-products, so each stored vector's approximate score is m_sub table
# gathers + adds, no float math per dimension. Exactness discipline matches
# the other tiers: PQ buys the SHORTLIST; the final order and scores come
# from an exact full-precision re-rank of the survivors.


def pq_train(
    vectors: np.ndarray, m_sub: int = 8, k_cent: int = 256,
    iters: int = 10, seed: int = 42,
) -> np.ndarray:
    """(m_sub, k_cent, dsub) codebooks via seeded Lloyd k-means per
    subspace, trained driver-side on a sample (the standard recipe: PQ
    codebooks need ~100k sample rows, not the corpus — train once, ship as
    literals/closure like the IVF centroids). Deterministic: seeded init,
    numpy argmin ties to the first index, empty cells keep their previous
    centroid."""
    X = np.asarray(vectors, dtype=np.float64)
    n, d = X.shape
    if d % m_sub != 0:
        raise ValueError(f"dim {d} not divisible by m_sub {m_sub}")
    dsub = d // m_sub
    kc = min(int(k_cent), n)
    rng = np.random.default_rng(seed)
    books = np.empty((m_sub, kc, dsub))
    for m in range(m_sub):
        S = X[:, m * dsub:(m + 1) * dsub]
        C = S[rng.choice(n, size=kc, replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(kc):
                mask = a == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        books[m] = C
    return books


def _pq_argmin(books: np.ndarray):
    """The PQ encode rule, as an executor-side closure: (n, dim) float64
    rows -> (n, m_sub) int32 codes, per subspace the nearest codebook
    centroid by one GEMM. Built driver-side so Spark pickles it by value
    (executors don't have the repo on sys.path)."""
    m_sub, _, dsub = books.shape

    def encode(X: np.ndarray) -> np.ndarray:
        codes = np.empty((X.shape[0], m_sub), dtype=np.int32)
        for m in range(m_sub):
            S = X[:, m * dsub:(m + 1) * dsub]
            # ||s - c||^2 = ||s||^2 - 2 s.c + ||c||^2; ||s||^2 is constant
            # per row, so argmin over (-2 s.c + ||c||^2) suffices (GEMM form)
            d2 = -2.0 * (S @ books[m].T) + (books[m] ** 2).sum(axis=1)[None, :]
            codes[:, m] = d2.argmin(axis=1)
        return codes

    return encode


def _adc(books: np.ndarray, q: np.ndarray):
    """ADC for one query, as an executor-side closure: the (m_sub x
    k_cent) lookup table of q's sub-dot-products against each subspace's
    codebook, and a pandas Series of code arrays -> their approximate
    dots (m_sub table gathers + adds per row, vectorized over the batch).
    Built driver-side so Spark pickles it by value."""
    m_sub, _, dsub = books.shape
    lut = np.vstack([
        books[m] @ q[m * dsub:(m + 1) * dsub] for m in range(m_sub)
    ])  # (m_sub, k_cent)

    def score(codes: pd.Series) -> np.ndarray:
        if len(codes) == 0:
            return np.zeros(0)
        C = np.vstack(codes.to_numpy()).astype(np.int64)  # (n, m_sub)
        return lut[np.arange(m_sub)[None, :], C].sum(axis=1)

    return score


def _rerank(scored: DataFrame, score_col: str, shortlist: int,
            index_df: DataFrame, full_df: DataFrame | None, q, k: int,
            id_col: str, vec_col: str) -> DataFrame:
    """The ladder's exact tail: the ``shortlist`` best ids by the
    approximate ``score_col`` (score DESC, id ASC) re-enter the
    full-precision table (``full_df``, else ``index_df``) as a broadcast
    semi-join point read, and their exact dots give the final top-k.
    The full-precision table must carry ``vec_col``."""
    wide = full_df if full_df is not None else index_df
    if vec_col not in wide.columns:
        raise ValueError(
            f"exact re-rank needs full-precision vectors — pass full_df, "
            f"or include {vec_col!r} in the scanned frame (an encode "
            f"output alone holds only codes)")
    short = similarity.top_k(scored, shortlist, id_col, score_col).select(id_col)
    return similarity.topk_similar(wide.join(F.broadcast(short), id_col), q, k,
                                   id_col, vec_col)


def pq_encode(
    df: DataFrame, codebooks: np.ndarray,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, pq_codes array<int>): the index-time artifact. One Arrow-batched
    pass; per batch the encode is m_sub vectorized argmin's over the
    (k_cent, dsub) codebook (``_pq_argmin``) — no per-row Python. Store
    this table at rest (optionally alongside the int8/binary columns) and
    scan IT instead of the float column."""
    encode = _pq_argmin(np.ascontiguousarray(codebooks, dtype=np.float64))

    @F.pandas_udf("array<int>")
    def enc(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(encode(np.vstack(vs.to_numpy()).astype(np.float64))))

    return df.select(F.col(id_col), enc(F.col(vec_col)).alias("pq_codes"))


def pq_adc_topk(
    codes_df: DataFrame,
    query_vec,
    codebooks: np.ndarray,
    k: int = 10,
    shortlist: int = 200,
    full_df: DataFrame | None = None,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC top-k: approximate inner-product scores from the code table
    (per query: one (m_sub x k_cent) LUT of sub-dot-products; per stored
    vector: m_sub gathers + adds, vectorized in numpy over Arrow batches),
    shortlist by that score, then EXACT re-rank of the survivors against
    the full-precision table — identical two-stage discipline (and plan
    shape: two TakeOrderedAndProject passes + a broadcast semi-join point
    read) as pca_coarse_topk/binary_hamming_topk. Recall is bought by
    shortlist size; final scores are exact.

    The re-rank needs full-precision vectors: pass ``full_df`` (the
    vectors table, joined on ``id_col``), or ``codes_df`` must itself
    carry ``vec_col`` alongside the codes (pq_encode output alone holds
    only (id, codes) — join the embeddings back first)."""
    q = np.asarray(query_vec, dtype=np.float64)
    score = _adc(np.ascontiguousarray(codebooks, dtype=np.float64), q)

    @F.pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        return pd.Series(score(codes))

    scored = codes_df.select(id_col, codes_col).withColumn(
        "score_adc", adc(F.col(codes_col)))
    return _rerank(scored, "score_adc", shortlist, codes_df, full_df, q, k,
                   id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells + residual product quantization (the faiss workhorse)
# ---------------------------------------------------------------------------
# Composition of the two index tiers above: IVF prunes the SCAN (probe only
# the cells nearest the query; sources/ivfindex.py stores the cell per row
# so the probe prunes segments), PQ shrinks the BYTES per scanned row (codes
# of the residual x - centroid, which has far less variance than x, so the
# same codebook budget quantizes it finer). Score ≈ q·centroid (per-cell
# constant) + ADC over the residual codes — then the ladder's standard exact
# full-precision re-rank of the shortlist. This is the published IVFADC
# pipeline (Jegou, Douze & Schmid 2011, §IV).


def ivf_pq_train(
    sample: np.ndarray, centroids: np.ndarray,
    m_sub: int = 8, k_cent: int = 64, iters: int = 10, seed: int = 42,
) -> np.ndarray:
    """Residual codebooks: assign the sample to its nearest centroid (max
    dot — the ivf_assign rule), subtract, and pq_train on the residuals.
    One shared codebook set across cells (the standard memory/quality
    trade; per-cell books are the 'IMI' upgrade)."""
    X = np.asarray(sample, dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    cells = (X @ C.T).argmax(axis=1)
    return pq_train(X - C[cells], m_sub=m_sub, k_cent=k_cent,
                    iters=iters, seed=seed)


def ivf_pq_encode(
    df: DataFrame, centroids: np.ndarray, codebooks: np.ndarray,
    id_col: str = "vec_id", vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(id, ivf_cell, pq_codes[, *keep_cols]): the at-rest IVF-PQ index
    — 1 small int + m_sub codes per vector. One Arrow pass: cell
    assignment (GEMM argmax), residual subtraction, per-subspace
    GEMM-form argmin (``_pq_argmin``). Write partitioned by ivf_cell so
    probes prune at planning time. ``keep_cols`` carries extra columns
    (e.g. the full-precision vector for the exact re-rank tier) through
    the same single pass — no join-back needed."""
    C = np.ascontiguousarray(centroids, dtype=np.float64)
    encode = _pq_argmin(np.ascontiguousarray(codebooks, dtype=np.float64))

    @F.pandas_udf("struct<ivf_cell: int, pq_codes: array<int>>")
    def enc(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"ivf_cell": [], "pq_codes": []})
        X = np.vstack(vs.to_numpy()).astype(np.float64)
        cells = (X @ C.T).argmax(axis=1)
        return pd.DataFrame(
            {"ivf_cell": cells.astype(np.int32),
             "pq_codes": list(encode(X - C[cells]))}
        )

    extra = [c for c in (keep_cols or []) if c != id_col]
    out = df.select(F.col(id_col), *[F.col(c) for c in extra],
                    enc(F.col(vec_col)).alias("s"))
    return out.select(id_col, F.col("s.ivf_cell").alias("ivf_cell"),
                      F.col("s.pq_codes").alias("pq_codes"),
                      *[F.col(c) for c in extra])


def ivf_pq_topk(
    index_df: DataFrame,
    query_vec,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    n_probe: int = 2,
    shortlist: int = 200,
    full_df: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC top-k: probe the n_probe max-dot cells (``ivf_probe_rule``;
    a cell-id filter — partition pruning on an ivf_cell-partitioned
    table), approximate each candidate as q·centroid[cell] + ADC(residual
    codes) with ONE shared (m_sub x k_cent) LUT, shortlist, exact
    re-rank (``_ivf_adc_topk``). Non-probed cells are never read; scanned
    bytes per candidate are the code row, not the vector.

    As with pq_adc_topk, the exact re-rank needs full-precision vectors:
    pass ``full_df``, or ``index_df`` must carry ``vec_col`` alongside the
    (ivf_cell, pq_codes) columns."""
    q = np.asarray(query_vec, dtype=np.float64)
    cand = index_df.where(
        F.col("ivf_cell").isin(ivf_probe_rule(centroids, n_probe)(q)))
    return _ivf_adc_topk(cand, index_df, full_df, q, centroids, codebooks,
                         k, shortlist, id_col, vec_col)


def _ivf_adc_topk(cand: DataFrame, index_df: DataFrame,
                  full_df: DataFrame | None, q: np.ndarray, centroids,
                  codebooks, k: int, shortlist: int, id_col: str,
                  vec_col: str) -> DataFrame:
    """IVFADC over already-probed candidates (ivf_cell, pq_codes): score
    q·centroid[cell] + ADC(codes), then ``_rerank``. ivf_pq_topk probes
    first; the maintained IVF index hands over its probed state scan."""
    cell_dots = np.ascontiguousarray(centroids, dtype=np.float64) @ q
    score = _adc(np.ascontiguousarray(codebooks, dtype=np.float64), q)

    @F.pandas_udf("double")
    def adc(cell: pd.Series, codes: pd.Series) -> pd.Series:
        return pd.Series(cell_dots[cell.to_numpy(dtype=np.int64)]
                         + score(codes))

    scored = cand.withColumn("score_adc", adc(F.col("ivf_cell"),
                                              F.col("pq_codes")))
    return _rerank(scored, "score_adc", shortlist, index_df, full_df, q, k,
                   id_col, vec_col)


def lsh_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_probe_bits: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_expected_candidates: int | None = 50_000_000,
    n_left: int | None = None,
    n_right: int | None = None,
    skew_prepass: bool = False,
) -> DataFrame:
    """Approximate k-NN JOIN when NEITHER side broadcasts: for every left
    row, its k highest-cosine right rows among LSH candidates. Completes
    the similarity-join matrix — ``brute_force_topk_multi`` is exact for a
    broadcastable query side, ``lsh_similarity_join`` finds threshold
    PAIRS; this is per-left-row TOP-K at two-large-tables scale (align a
    query corpus with a document corpus, mine bitext, attach nearest
    neighbors for contrastive batches).

    Plan: both sides bucket by the same literal hyperplanes; the LEFT side
    explodes its multiprobe set (own bucket + every bucket within
    ``n_probe_bits`` bit-flips — the same recall lever as
    lsh_topk_multiprobe, and a right row occupies exactly ONE bucket, so a
    pair can match only once: no dedup exchange); one equi-join on the
    bucket; a per-left-row window takes top-k of the candidates. Shuffles:
    the bucket join + the id_a window — candidate volume per left row is
    (probes/2^n_planes)·|right| in expectation, and at rest both sides
    write bucketed so the join is partition-co-located. Deterministic:
    literal planes, total order (cosine DESC, id_b ASC) — and therefore
    oracle-checkable.

    ``skew_prepass=True`` inserts a per-partition partial top-k
    (partition_partial_topk, keyed by id_a) between the join and the
    window: each partition then ships at most (left rows in it)·k
    candidate rows to the id_a exchange instead of ALL its candidates —
    the guard for extreme right-side skew, where one hot bucket would
    otherwise hash a data-sized candidate list onto one reducer. Partial
    top-k under the total order is exact, so the result is bit-identical
    with the flag on or off; it costs one extra Arrow pass, so it is off
    by default.

    Scale guard: expected candidates ≈ |L|·|R|·probes/2^n_planes — size
    ``n_planes`` to the RIGHT side (2^n_planes ∝ |right| / desired bucket
    occupancy) or the join degenerates toward all-pairs. The guard
    estimates that product and raises loudly past
    ``max_expected_candidates`` (pass None to override deliberately).

    Laziness: pass ``n_left``/``n_right`` (and ``dim``) when the caller
    already knows them — e.g. from catalog/file statistics
    (``sources.catalog.table_row_count`` answers from parquet footers
    with zero Spark jobs) or a persisted upstream — and plan construction
    triggers ZERO Spark jobs. When absent, the guard falls back to
    ``count()`` (and a ``first()`` for dim), which RE-EXECUTES both
    upstream plans — persist the inputs first if they are expensive."""
    planes = hyperplanes(n_planes, infer_dim(left, vec_col, dim), seed)
    return _knn_join(
        left, lambda: right.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            hyperplane_bucket_col(vec_col, planes).alias("bucket"),
        ), k, planes, n_probe_bits, id_col, vec_col, max_expected_candidates,
        n_left, n_right, skew_prepass)


def _knn_join(left: DataFrame, right_of, k: int, planes: np.ndarray,
              n_probe_bits: int, id_col: str, vec_col: str,
              max_expected_candidates: int | None, n_left: int | None,
              n_right: int | None, skew_prepass: bool = False) -> DataFrame:
    """The one LSH k-NN join body: lsh_knn_join buckets its right table
    per call, annindex.knn_join_via_index reads the index's probed state.
    The candidate-volume guard (``n_left``/``n_right`` when known, else a
    ``count()``), the left side's once-computed bucket XOR every probe
    mask, one equi-join on the bucketed right side ``right_of()`` builds
    (columns bucket, id_b, vb; built once the guard has passed, after the
    left side), exact dots, and the per-left-row window (cosine DESC,
    id_b ASC). Returns (id_a, id_b, cosine, rnk)."""
    n_planes = len(planes)
    masks = flip_masks(n_planes, n_probe_bits)
    if max_expected_candidates is not None:
        from .dedup import ScaleGuardError

        nl = int(n_left) if n_left is not None else left.count()
        nr = int(n_right) if n_right is not None else right_of().count()
        expected = nl * nr * len(masks) / (1 << n_planes)
        if expected > max_expected_candidates:
            raise ScaleGuardError(
                f"the k-NN join expects ~{expected:.2e} candidate pairs "
                f"(|L|*|R|*{len(masks)}/2^{n_planes}) > "
                f"{max_expected_candidates:.0e}; raise n_planes so "
                f"2^n_planes tracks |right| (an index is rebuilt with "
                f"more planes), lower n_probe_bits, or pass "
                f"max_expected_candidates=None to override deliberately."
            )
    # compute the bucket ONCE per left row, then XOR the probe masks against
    # the materialized column — inlining the n_planes-dot bucket expression
    # into every one of the probes' array slots multiplies the Catalyst
    # expression tree by the probe count (measured: seconds of pure
    # planning/codegen time at 16 planes x 17 probes, independent of data)
    l = left.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        hyperplane_bucket_col(vec_col, planes).alias("b0"),
    ).select(
        "id_a",
        "va",
        F.explode(
            F.array(*[F.col("b0").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    scored = (
        l.join(right_of(), "bucket")
        .withColumn("cosine", V.dot("va", "vb"))
        .select("id_a", "id_b", "cosine")
    )
    if skew_prepass:
        scored = partition_partial_topk(
            scored, k, query_id="id_a", id_col="id_b", score_col="cosine"
        )
    return similarity.top_k_per(scored, k, "id_a", "id_b", "cosine", "rnk").select(
        "id_a", "id_b", "cosine", F.col("rnk").cast("long").alias("rnk"))
