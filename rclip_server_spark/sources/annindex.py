"""Maintained ANN (hyperplane-LSH) index view: the source's embedding
rows stored WITH their precomputed sign-bit bucket, kept in sync
through the CDC log — the vector twin of the full-text postings index
(textindex.py), completing the maintained-index trio: Bloom sidecars
answer point lookups, text_index answers ranked lexical queries, this
answers approximate nearest-neighbor queries.

Reference parity: the reference scores every row per query
(rclip_server.py:150-166, the brute-force GEMV); the engine's ad-hoc
LSH tiers (operators/ann.py) already prune that scan per query, but
they re-derive the bucket column per CALL — one full corpus pass each
time. The maintained index moves bucketing to WRITE time: a refresh
costs O(changed rows) (key delete-vector retraction + bucketed rows
append, ONE delete_and_append commit), and a query reads only the
probed buckets' rows — O(probe fraction), never O(corpus).

Exactness: planes derive deterministically from (n_planes, dim, seed)
in the spec — the same ``ann.hyperplanes`` every ad-hoc tier uses — so
``query_ann_index`` returns row-identically what
``ann.lsh_topk_multiprobe`` computes over the current source (pinned
by an oracle row against the DuckDB bucket+dot twin).

Scale: the index build is one map pass (bucket column is a row-local
sign fold); queries filter to the 1 + C(p,1) + ... + C(p,n) buckets
within n probe bits of the query's and score only those rows. At rest the state can additionally
be laid out by versioned.convert_to_bucketed on the bucket for
physical pruning. Joins the matview graph through the standard marker
registry (``ai_source``), so REFRESH / CASCADE / DESCRIBE / cursor-
safe VACUUM / refresh streams all work with no extra wiring. The
lifecycle it shares with the other index kinds (spec and state reads,
refresh, bucketed layout) is one descriptor in indexkind.py, and both
query forms run indexkind's shared path (query_vector, and
query_vector_batch for M queries). The vector-search rules themselves
live once in operators/ann.py and are shared with the ad-hoc tiers:
the probe masks and the query's sign-bit bucket (``ann.flip_masks``,
``ann.lsh_probe_rule``, bound to the spec's planes by ``_probe_rule``
for both query forms), the dim probe (``ann.infer_dim``) and the k-NN
join body (``ann._knn_join``, which knn_join_via_index feeds with the
index's probed state). This module holds the bucketed rows and the
spec binding.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ann import (_knn_join, hyperplane_bucket_col, hyperplanes,
                             infer_dim, lsh_probe_rule)
from . import indexkind as IK
from . import matview as M
from . import versioned as V
from .indexkind import convert_index_to_bucketed  # noqa: F401  (public)


def create_ann_index(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    vec_col: str = "embedding", n_planes: int = 6, seed: int = 42,
    dim: int | None = None, include_cols: list[str] | None = None,
) -> int:
    """Materialize the bucketed embedding rows over the source's head
    and record the spec + cursor. ``dim`` is probed from one row when
    absent (errors clearly on an empty source — pass it explicitly to
    stay lazy). ``include_cols`` copies the listed source columns into
    the index rows as FILTERABLE PAYLOAD: a predicate over them
    evaluates inside the probed scan (parquet-pushed), so filtered
    vector search never joins back to the source — the vector-DB
    "metadata filter" feature at lakehouse scale."""
    def prepare(df):
        return {"ai_dim": infer_dim(df, vec_col, dim),
                "ai_include_cols": IK.check_include_cols(
                    df, key, vec_col, include_cols, reserved=("bucket",))}

    return M._create(spark, "ann_index", view_path, {
        "ai_source": source_path, "ai_key": key,
        "ai_vec_col": vec_col, "ai_n_planes": int(n_planes),
        "ai_seed": int(seed),
    }, prepare=prepare)


def _rows_of(spec: dict, df: DataFrame) -> DataFrame:
    """(bucket, key, vec, payload…) of source rows: the bucket is the
    row's sign-bit fold under the spec's frozen planes."""
    return df.select(
        hyperplane_bucket_col(spec["ai_vec_col"], _planes(spec))
        .alias("bucket"),
        F.col(spec["ai_key"]), F.col(spec["ai_vec_col"]),
        *[F.col(c) for c in spec.get("ai_include_cols", [])])


def read_ann_index(spark: SparkSession, view_path: str,
                   version: int | None = None) -> DataFrame:
    """The bucketed rows at a version, canonical column order."""
    return IK.read(spark, "ann_index", view_path, version)


def refresh_ann_index(
    spark: SparkSession, view_path: str,
    recompute_fraction: float | None = M._RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Advance the index to the source head: retract changed keys'
    rows (key delete vector), append the new rows WITH their buckets —
    ONE delete_and_append commit, O(changed rows). Rollback/vacuumed-
    past-cursor heals by full recompute. All structure lives in the
    shared lifecycle (matview._refresh_once over indexkind's
    state/delta); this kind contributes only the bucket derivation
    under the spec's frozen planes."""
    return M._refresh_once(spark, "ann_index", view_path,
                           recompute_fraction)


def query_ann_index(
    spark: SparkSession, view_path: str, query_vec, k: int = 10,
    n_probe_bits: int = 1, version: int | None = None,
    where: str | None = None,
) -> DataFrame:
    """Approximate top-k FROM the maintained index: the query's bucket
    and its ≤``n_probe_bits``-Hamming neighbors (``_probe_rule``) are
    computed driver-side from the spec's deterministic planes, the
    state is filtered to those buckets (O(probe fraction) rows; on a
    bucketed layout only their segment files enter the plan), and only
    they are scored by exact dot product — the shared single-query
    path, indexkind.query_vector. Returns (<key>, score) — the same
    probe set, scoring, ordering, and tie-break as
    ann.lsh_topk_multiprobe over the current source.

    ``where`` is a SQL predicate over the index's payload columns
    (``include_cols`` at CREATE) and key — FILTERED vector search.
    The predicate evaluates inside the probed scan (parquet-pushed:
    at 100 TB non-matching row groups never decode), so the semantics
    are "top-k among probed candidates matching the filter"; a
    selective filter can leave fewer than k probed survivors."""
    return IK.query_vector(spark, "ann_index", view_path, query_vec, k,
                           version, where,
                           lambda spec: _probe_rule(spec, n_probe_bits))


def _planes(spec: dict) -> np.ndarray:
    return hyperplanes(int(spec["ai_n_planes"]), int(spec["ai_dim"]),
                       int(spec["ai_seed"]))


def _probe_rule(spec: dict, n_probe_bits: int):
    """The probe rule query_ann_index and its batch share: the one LSH
    rule (ann.lsh_probe_rule) under the spec's frozen planes."""
    return lsh_probe_rule(_planes(spec), n_probe_bits)


def query_ann_index_batch(
    spark: SparkSession, view_path: str, queries, k: int = 10,
    n_probe_bits: int = 1, version: int | None = None,
    qid_col: str = "qid", where: str | None = None,
) -> DataFrame:
    """M queries against the maintained index in ONE plan — the
    amortized serving tier a training-data pipeline needs (per-call
    plan-build cost dominates even at zero Spark jobs per plan).
    ``queries`` is a driver-side list of ``(qid, vector)`` pairs; the
    measured batch size is M=32 (one plan, 4 Spark jobs per
    execution). ``qid_col`` names the output's query-id column and
    must not name an index column or contain a backtick.

    Every query's probe set resolves driver-side (spec planes, pure
    numpy) and the shared literal-map fan-out
    (indexkind.query_vector_batch) scores the union of probed buckets
    in one scan. Per query, rows returned are IDENTICAL to
    query_ann_index (same probe rule, same fold-order dot over
    bit-identical literals, same (score DESC, key ASC) total order).

    Returns (qid, <key>, score) ordered (qid, score DESC, key)."""
    return IK.query_vector_batch(
        spark, "ann_index", view_path, queries, k, version, qid_col,
        where, lambda spec: _probe_rule(spec, n_probe_bits), "BIGINT")


def knn_join_via_index(
    spark: SparkSession, left: DataFrame, view_path: str, k: int = 5,
    n_probe_bits: int = 1, id_col: str = "vec_id",
    vec_col: str = "embedding", version: int | None = None,
    max_expected_candidates: int | None = 50_000_000,
    n_left: int | None = None, where: str | None = None,
) -> DataFrame:
    """Approximate k-NN JOIN against the MAINTAINED index — the
    two-large-tables alignment primitive (ann.lsh_knn_join) with the
    corpus side served from the index instead of re-derived per call:

    * the right side's bucket column is precomputed at WRITE time and
      kept in sync through the CDC refresh — the ad-hoc join's
      full-corpus bucketing pass disappears from every call;
    * the right row count for the candidate-volume scale guard comes
      from the MANIFEST (versioned.table_row_count — parquet footers,
      zero Spark jobs), so guard planning stays lazy;
    * planes/seed/dim come from the spec, so the result is
      row-identical to ``ann.lsh_knn_join(left, source_head)`` with
      the same parameters (same probe masks, same exact dot scoring,
      same (cosine DESC, id_b ASC) total order).

    The join body is ann.lsh_knn_join's own (ann._knn_join): the left
    side buckets ONCE (n_planes dots) and explodes its probe masks; one
    equi-join on the bucket; per-left-row top-k window; this function
    supplies only the right side and its manifest row count.
    ``where`` is a payload predicate over the index's include_cols
    (+ key) applied to the CORPUS side before the join — parquet-pushed
    into the state scan, so a filtered k-NN join ("nearest in-license
    corpus rows for every candidate doc") shrinks the candidate volume
    instead of post-filtering ranked rows. Returns (id_a, id_b, cosine,
    rnk)."""
    v, spec = IK.spec_at("ann_index", view_path, version)
    return _knn_join(
        left, lambda: IK.apply_where(
            IK.probed(spark, "ann_index", view_path, v), where).select(
            "bucket", F.col(spec["ai_key"]).alias("id_b"),
            F.col(spec["ai_vec_col"]).alias("vb")),
        k, _planes(spec), n_probe_bits, id_col, vec_col,
        max_expected_candidates, n_left,
        V.table_row_count(view_path, v))  # manifest, zero jobs
