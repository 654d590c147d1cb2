"""Auto-split registry module — see contract/__init__.py."""
from __future__ import annotations

from ._base import *  # noqa: F401,F403
from ..functions.localrel import values_df
from ._base import _register, _t, _f  # noqa: F401
from ._dedup_text import _HASHED_SHINGLES, _SIG_LIST  # noqa: F401
from ._breadth1 import BM25_TERMS, _bm25_sql  # noqa: F401
from ._breadth1 import _MP_PROBES as _AI_MP_PROBES  # noqa: F401

# ===========================================================================
# Versioned-table READ-side rows through the driver (sources/versioned.py):
# delete-vector reads and snapshot-diff CDC, flattened to scalar columns.
# The versioned table is BUILT deterministically from the events fixture
# inside the query callable (cached per sf_dir within the process), so the
# oracle stays plain SQL over `events` — what the oracle checks is the READ
# path: delete-vector scoping (keys deleted before an append of the same
# residue class stay deleted; later-appended rows are untouched) and the
# null-safe snapshot-diff payload comparison (a value moving between
# columns, or to NULL, must classify as update_post).
# Reference parity: B5 soft delete (RS:206-213) completed at manifest
# altitude; CDC has no reference analogue (scale-path addition).
# ===========================================================================

_VT_CACHE: dict = {}


def _vt_build(spark: SparkSession, sf: str, name: str, builder) -> str:
    """Build-once-per-(sf, name) versioned fixture table in a temp dir.
    Deterministic content (modular predicates over event_id), so a cached
    table from an earlier call in the same process is identical."""
    import os as _os
    import tempfile as _tempfile

    key = (_os.path.abspath(sf), name)
    path = _VT_CACHE.get(key)
    if path is None or not _os.path.exists(path):
        path = _tempfile.mkdtemp(prefix=f"rclip_vt_{name}_")
        _os.rmdir(path)  # create() owns the directory tree
        builder(spark, sf, path)
        _VT_CACHE[key] = path
    return path


def _vt_dv_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import versioned as VT

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))
    base = ev.where(F.col("event_id") % 4 != 3)
    VT.create(spark, path, base)
    # delete vector: O(keys) commit, zero data-segment rewrite
    VT.delete_rows(
        spark, path,
        base.where(F.col("event_id") % 7 == 0).select("event_id"),
        "event_id")
    # later append includes event_ids in the deleted residue class
    # (%7==0): the vector is SCOPED to pre-delete segments, so these
    # appended rows are visible (Delta delete-then-insert semantics)
    VT.append(spark, path, ev.where(F.col("event_id") % 4 == 3))


def _vt_delete_vector_read(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources import versioned as VT

    path = _vt_build(spark, sf, "dv", _vt_dv_builder)
    return VT.read(spark, path).select("event_id", "user_id", "value_cents")


_register(
    "vt_delete_vector_read",
    _vt_delete_vector_read,
    """
    SELECT event_id, user_id,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    WHERE (event_id % 4 <> 3 AND event_id % 7 <> 0) OR event_id % 4 = 3
    """,
)


def _vt_cdc_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import versioned as VT

    ev = _t(spark, sf, "events")
    snap_a = ev.where(F.col("event_id") % 10 < 6).select(
        "event_id", "user_id", "event_type")
    snap_b = ev.where(
        (F.col("event_id") % 10 >= 2) & (F.col("event_id") % 10 <= 7)
    ).select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.col("user_id") + 1000000)
         .otherwise(F.col("user_id")).alias("user_id"),
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("string"))
         .otherwise(F.col("event_type")).alias("event_type"))
    VT.create(spark, path, snap_a)
    VT.overwrite(spark, path, snap_b)


def _vt_snapshot_diff_cdc(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources import versioned as VT

    path = _vt_build(spark, sf, "cdc", _vt_cdc_builder)
    ch = VT.table_changes(spark, path, from_version=1, key="event_id")
    return ch.select("event_id", "user_id", "event_type",
                     F.col("_change_type").alias("change_type"))


_register(
    "vt_snapshot_diff_cdc",
    _vt_snapshot_diff_cdc,
    """
    WITH a AS (SELECT event_id, user_id, event_type
               FROM events WHERE event_id % 10 < 6),
         b AS (SELECT event_id,
                      CASE WHEN event_id % 5 = 0 THEN user_id + 1000000
                           ELSE user_id END AS user_id,
                      CASE WHEN event_id % 11 = 0 THEN NULL
                           ELSE event_type END AS event_type
               FROM events WHERE event_id % 10 BETWEEN 2 AND 7)
    SELECT COALESCE(b.event_id, a.event_id) AS event_id,
           CASE WHEN b.event_id IS NULL THEN a.user_id
                ELSE b.user_id END AS user_id,
           CASE WHEN b.event_id IS NULL THEN a.event_type
                ELSE b.event_type END AS event_type,
           CASE WHEN a.event_id IS NULL THEN 'insert'
                WHEN b.event_id IS NULL THEN 'delete'
                ELSE 'update_post' END AS change_type
    FROM a FULL OUTER JOIN b ON a.event_id = b.event_id
    WHERE a.event_id IS NULL OR b.event_id IS NULL
       OR (a.user_id IS DISTINCT FROM b.user_id)
       OR (a.event_type IS DISTINCT FROM b.event_type)
    """,
)


def _vt_mv_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import matview as MV
    from ..sources import versioned as VT

    view = path + "_view"
    ev = _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))
    VT.create(spark, path, ev.where(F.col("event_id") % 3 != 2))
    MV.create_agg_view(spark, path, view, key="event_id",
                       group_cols=["event_type"], sum_cols=["value_cents"])
    # append-only refresh (O(new segments) CDC fast path) ...
    VT.append(spark, path, ev.where(F.col("event_id") % 3 == 2))
    MV.refresh_agg_view(spark, view, recompute_fraction=None)
    # ... then a delete-vector retraction (snapshot-diff CDC path with
    # pre-images): the view must land exactly on the post-delete groupBy
    VT.delete_rows(
        spark, path,
        ev.where(F.col("event_id") % 11 == 0).select("event_id"),
        "event_id")
    MV.refresh_agg_view(spark, view, recompute_fraction=None)


def _vt_agg_view_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized agg view (sources/matview.py): created at
    one source version, advanced by two refreshes (append fast path +
    delete-vector retraction via update/delete pre-images), then read —
    the oracle checks it equals the direct groupBy of the FINAL source
    state, which is the whole point of retraction-exact maintenance."""
    from ..sources import matview as MV

    path = _vt_build(spark, sf, "mv", _vt_mv_builder)
    return MV.read_agg_view(spark, path + "_view").select(
        "event_type", F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_value_cents").cast("long").alias("sum_value_cents"))


_register(
    "vt_agg_view_refresh",
    _vt_agg_view_refresh,
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_cents
    FROM events
    WHERE event_id % 11 <> 0
    GROUP BY event_type
    """,
)


def _vt_mv_minmax_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import matview as MV
    from ..sources import versioned as VT

    view = path + "_view"
    ev = _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))
    VT.create(spark, path, ev.where(F.col("event_id") % 3 != 2))
    MV.create_agg_view(spark, path, view, key="event_id",
                       group_cols=["event_type"], sum_cols=["value_cents"],
                       minmax_cols=["value_cents"])
    VT.append(spark, path, ev.where(F.col("event_id") % 3 == 2))
    MV.refresh_agg_view(spark, view, recompute_fraction=None)  # insert-only: monotone min/max merge
    VT.delete_rows(
        spark, path,
        ev.where(F.col("event_id") % 11 == 0).select("event_id"),
        "event_id")
    MV.refresh_agg_view(spark, view, recompute_fraction=None)  # retraction: affected-group recompute


def _vt_agg_view_minmax(spark: SparkSession, sf: str) -> DataFrame:
    """MIN/MAX materialized view (matview.refresh_agg_view's
    recompute-affected-groups path): the deletes retract rows from every
    group, so each group's min/max must be re-derived — the oracle checks
    the maintained extremes equal DuckDB's direct groupBy of the final
    state (non-retractable aggregates maintained correctly)."""
    from ..sources import matview as MV

    path = _vt_build(spark, sf, "mvx", _vt_mv_minmax_builder)
    return MV.read_agg_view(spark, path + "_view").select(
        "event_type", F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_value_cents").cast("long").alias("sum_value_cents"),
        F.col("min_value_cents").cast("long").alias("min_value_cents"),
        F.col("max_value_cents").cast("long").alias("max_value_cents"))


_register(
    "vt_agg_view_minmax",
    _vt_agg_view_minmax,
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_cents,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS min_value_cents,
           CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS max_value_cents
    FROM events
    WHERE event_id % 11 <> 0
    GROUP BY event_type
    """,
)


def _vt_append_only_changes(spark: SparkSession, sf: str) -> DataFrame:
    """Append-only CDC fast path (versioned.table_changes): the change set
    for an append interval is exactly the appended segments' rows —
    asserted Exchange-free in PLANS.md; here hash-matched row-for-row
    against plain SQL over the appended slice."""
    from ..sources import versioned as VT

    path = _vt_build(spark, sf, "dv", _vt_dv_builder)
    # interval (2, 3]: v3 is the appended event_id % 4 == 3 batch
    ch = VT.table_changes(spark, path, from_version=2, to_version=3)
    return ch.select("event_id", "user_id", "value_cents", "_change_type")


_register(
    "vt_append_only_changes",
    _vt_append_only_changes,
    """
    SELECT event_id, user_id,
           CAST(round(value * 100) AS BIGINT) AS value_cents,
           'insert' AS _change_type
    FROM events
    WHERE event_id % 4 = 3
    """,
)


def _vt_zorder_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import versioned as VT

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))
    VT.create(spark, path, ev.where(F.col("event_id") % 2 == 0),
              stat_cols=["user_id", "value_cents"])
    VT.append(spark, path, ev.where(F.col("event_id") % 2 == 1))
    VT.cluster_zorder(spark, path, "user_id", "value_cents",
                      n_segments=8, bits=16)


def _vt_zorder_pruned_read(spark: SparkSession, sf: str) -> DataFrame:
    """2-D range read over a Z-ORDER-clustered versioned table
    (versioned.cluster_zorder): segment skipping happens at manifest
    altitude on BOTH columns' zone maps; the oracle checks the surviving
    rows equal a plain SQL conjunction — pruning may only skip, never
    change answers (test_cluster_zorder_improves_segment_pruning pins
    that it DOES skip)."""
    from ..sources import versioned as VT

    path = _vt_build(spark, sf, "zo", _vt_zorder_builder)
    return VT.read_pruned(
        spark, path,
        ranges={"user_id": (100, 400), "value_cents": (2000, 30000)},
    ).select("event_id", "user_id", "value_cents")


_register(
    "vt_zorder_pruned_read",
    _vt_zorder_pruned_read,
    """
    SELECT event_id, user_id,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    WHERE user_id BETWEEN 100 AND 400
      AND CAST(round(value * 100) AS BIGINT) BETWEEN 2000 AND 30000
    """,
)


def _sig_transform(df: DataFrame) -> DataFrame:
    """MinHash signature extraction as a row-local transform (the
    dedup_minhash_signatures shape): one (doc_id, pos, sig) row per
    signature component."""
    from ..functions.hashing import minhash_signature_over_hashed, portable_hash32

    hashed = df.select(
        "doc_id",
        F.transform(TXT.char_shingles(F.col("text"), SHINGLE_N),
                    portable_hash32).alias("hs"),
    )
    return hashed.select(
        "doc_id",
        F.posexplode(
            minhash_signature_over_hashed("hs", MH_PARAMS)
        ).alias("pos", "sig"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "sig")


def _vt_sig_index_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import matview as MV
    from ..sources import versioned as VT

    view = path + "_view"
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    VT.create(spark, path, docs.where(F.col("doc_id") % 3 != 2))
    MV.create_transform_view(spark, path, view, key="doc_id",
                             transform=_sig_transform, name="minhash-sig-v1")
    VT.append(spark, path, docs.where(F.col("doc_id") % 3 == 2))
    MV.refresh_transform_view(spark, view, _sig_transform, "minhash-sig-v1", recompute_fraction=None)
    VT.delete_rows(
        spark, path,
        docs.where(F.col("doc_id") % 17 == 0).select("doc_id"), "doc_id")
    MV.refresh_transform_view(spark, view, _sig_transform, "minhash-sig-v1", recompute_fraction=None)


def _vt_signature_index_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Incrementally-maintained MinHash signature index
    (matview.create_transform_view / refresh_transform_view): built at one
    source version, advanced by an append refresh (transform of inserts
    only) and a delete refresh (delete vector on the view by doc_id) —
    the oracle checks the maintained index equals the from-scratch
    signature SQL over the FINAL corpus. This is the ingest-time half of
    dedup.minhash_near_dup_incremental: per-batch index maintenance at
    batch cost, corpus never re-signed."""
    from ..sources import matview as MV

    path = _vt_build(spark, sf, "sig", _vt_sig_index_builder)
    return MV.read_agg_view(spark, path + "_view").select(
        "doc_id", "pos", "sig")


_register(
    "vt_signature_index_refresh",
    _vt_signature_index_refresh,
    f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
    h AS (SELECT doc_id, {_HASHED_SHINGLES} AS hs FROM d),
    sigs AS (SELECT doc_id, {_SIG_LIST} AS sig FROM h)
    SELECT doc_id, CAST(generate_subscripts(sig, 1) - 1 AS BIGINT) AS pos,
           unnest(sig) AS sig
    FROM sigs
    """,
)


def _vt_topk_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import matview as MV
    from ..sources import versioned as VT

    view = path + "_view"
    ev = _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))
    VT.create(spark, path, ev.where(F.col("event_id") % 3 != 2))
    MV.create_topk_view(spark, path, view, key="event_id",
                        group_cols=["event_type"], score_col="value_cents",
                        k=5)
    VT.append(spark, path, ev.where(F.col("event_id") % 3 == 2))
    MV.refresh_topk_view(spark, view, recompute_fraction=None)  # insert-only: k-bounded re-rank
    VT.delete_rows(
        spark, path,
        ev.where(F.col("event_id") % 11 == 0).select("event_id"),
        "event_id")
    MV.refresh_topk_view(spark, view, recompute_fraction=None)  # retraction: affected-group recompute


def _vt_topk_view_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Maintained per-group TOP-K view (matview.create_topk_view /
    refresh_topk_view): leaderboard advanced through an append (k-bounded
    re-rank) and a delete (affected groups recomputed — previously
    evicted rows must RESURFACE when ranked rows retract). Oracle: the
    maintained ranking equals row_number() over the final corpus."""
    path = _vt_build(spark, sf, "tk", _vt_topk_builder)
    from ..sources import versioned as VT

    return VT.read(spark, path + "_view").select(
        "event_type", "rnk", "event_id", "value_cents")


_register(
    "vt_topk_view_refresh",
    _vt_topk_view_refresh,
    """
    WITH d AS (SELECT event_id, event_type,
                      CAST(round(value * 100) AS BIGINT) AS value_cents
               FROM events WHERE event_id % 11 <> 0),
    ranked AS (
      SELECT event_type, event_id, value_cents,
             CAST(row_number() OVER (
               PARTITION BY event_type
               ORDER BY value_cents DESC, event_id) AS BIGINT) AS rnk
      FROM d)
    SELECT event_type, rnk, event_id, value_cents
    FROM ranked WHERE rnk <= 5
    """,
)


def _vt_bloom_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import bloomindex as BX
    from ..sources import versioned as VT

    ev = _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))
    # three residue-class appends: event_ids INTERLEAVE across segments,
    # so zone maps cannot prune a point lookup — the Bloom sidecar can
    VT.create(spark, path, ev.where(F.col("event_id") % 3 == 0))
    VT.append(spark, path, ev.where(F.col("event_id") % 3 == 1))
    VT.append(spark, path, ev.where(F.col("event_id") % 3 == 2))
    BX.build_bloom_index(spark, path, "event_id")


_VT_BLOOM_IDS = [6, 13, 25, 47, 101, 333]


def _vt_bloom_pruned_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Point lookup through per-segment Bloom sidecars
    (sources/bloomindex.py): the prune decision is a driver-side bitmap
    test (zero Spark jobs), surviving segments read through the scoped
    delete-vector path, exact equality applied last — so the result is
    identical to the unpruned IN-list scan the oracle runs, while the
    physical read touches only the segments that can hold the ids.
    Scale path for the reference's SQLite point lookup (RS:206-213)."""
    from ..sources import bloomindex as BX

    path = _vt_build(spark, sf, "bloom", _vt_bloom_builder)
    return BX.read_point_lookup(spark, path, "event_id", _VT_BLOOM_IDS)


_register(
    "vt_bloom_pruned_lookup",
    _vt_bloom_pruned_lookup,
    f"""
    SELECT event_id, user_id,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    WHERE event_id IN ({", ".join(str(i) for i in _VT_BLOOM_IDS)})
    """,
)


def _vt_jv_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import matview as MV
    from ..sources import versioned as VT

    rpath, view = path + "_cust", path + "_view"
    orders = _t(spark, sf, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long")
         .alias("price_cents"))
    cust = _t(spark, sf, "customer").select(
        "c_custkey", F.col("c_custkey").alias("custkey"), "c_mktsegment")
    VT.create(spark, path, orders.where(F.col("o_orderkey") % 4 != 3))
    VT.create(spark, rpath, cust.where(F.col("c_custkey") % 5 != 4))
    MV.create_join_view(spark, path, rpath, view, on="custkey",
                        left_key="o_orderkey", right_key="c_custkey",
                        group_cols=["c_mktsegment"],
                        sum_cols=["price_cents"],
                        minmax_cols=["price_cents"])
    # left append: fast-path ΔL ⋈ R_old term
    VT.append(spark, path, orders.where(F.col("o_orderkey") % 4 == 3))
    MV.refresh_join_view(spark, view, recompute_fraction=None)
    # right delete + append in ONE interval: snapshot-diff ΔR with
    # retractions, against the pinned NEW left snapshot
    VT.delete_rows(
        spark, rpath,
        cust.where(F.col("c_custkey") % 7 == 0).select("c_custkey"),
        "c_custkey")
    VT.append(spark, rpath, cust.where(F.col("c_custkey") % 5 == 4))
    MV.refresh_join_view(spark, view, recompute_fraction=None)


def _vt_join_view_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Incrementally-maintained JOIN view (matview.create_join_view /
    refresh_join_view, signed delta rule ΔL⋈R_old + L_new⋈ΔR with two
    cursors; MIN/MAX via the two-tier affected-group recompute over the
    pinned join): advanced through a left append and a right
    delete+append rewrite interval, then read — the oracle checks it
    equals the direct join+groupBy of the two FINAL sources. The
    reference has no join maintenance at all (single-table app); this is
    the Materialize/DBSP-style scale path for keeping a joined
    dashboard aggregate fresh for the cost of the changes."""
    from ..sources import versioned as VT

    path = _vt_build(spark, sf, "jv", _vt_jv_builder)
    return VT.read(spark, path + "_view").select(
        "c_mktsegment", F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_price_cents").cast("long").alias("sum_price_cents"),
        F.col("min_price_cents").cast("long").alias("min_price_cents"),
        F.col("max_price_cents").cast("long").alias("max_price_cents"))


_register(
    "vt_join_view_refresh",
    _vt_join_view_refresh,
    """
    WITH r AS (
      SELECT c_custkey AS custkey, c_mktsegment FROM customer
      WHERE (c_custkey % 5 <> 4 AND c_custkey % 7 <> 0)
         OR c_custkey % 5 = 4),
    l AS (
      SELECT o_custkey AS custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders)
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(price_cents) AS BIGINT) AS sum_price_cents,
           CAST(min(price_cents) AS BIGINT) AS min_price_cents,
           CAST(max(price_cents) AS BIGINT) AS max_price_cents
    FROM l JOIN r USING (custkey)
    GROUP BY c_mktsegment
    """,
)


def _vt_jvm_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import matview as MV
    from ..sources import versioned as VT

    rpath, view = path + "_cust", path + "_view"
    orders = _t(spark, sf, "orders").select(
        "o_orderkey", F.expr("o_custkey div 10").alias("ck_hi"),
        (F.col("o_custkey") % 10).alias("ck_lo"),
        F.round(F.col("o_totalprice") * 100).cast("long")
         .alias("price_cents"))
    cust = _t(spark, sf, "customer").select(
        "c_custkey", F.expr("c_custkey div 10").alias("ck_hi"),
        (F.col("c_custkey") % 10).alias("ck_lo"), "c_mktsegment")
    VT.create(spark, path, orders.where(F.col("o_orderkey") % 4 != 3))
    VT.create(spark, rpath, cust.where(F.col("c_custkey") % 5 != 4))
    MV.create_join_view(spark, path, rpath, view, on=["ck_hi", "ck_lo"],
                        left_key="o_orderkey", right_key="c_custkey",
                        group_cols=["c_mktsegment"],
                        sum_cols=["price_cents"],
                        minmax_cols=["price_cents"])
    # left append-only interval (fast-path ΔL ⋈ R_old on the tuple key)
    VT.append(spark, path, orders.where(F.col("o_orderkey") % 4 == 3))
    MV.refresh_join_view(spark, view, recompute_fraction=None)
    # right REWRITE interval: delete + append in one refresh
    VT.delete_rows(
        spark, rpath,
        cust.where(F.col("c_custkey") % 7 == 0).select("c_custkey"),
        "c_custkey")
    VT.append(spark, rpath, cust.where(F.col("c_custkey") % 5 == 4))
    MV.refresh_join_view(spark, view, recompute_fraction=None)
    # left REWRITE interval: an upsert that changes measure values on
    # existing rows — the delta retracts the old pairs (min/max goes
    # through the pair-level affected-group recompute)
    VT.upsert(spark, path,
              orders.where(F.col("o_orderkey") % 11 == 0).withColumn(
                  "price_cents", F.col("price_cents") + F.lit(7)),
              "o_orderkey")
    MV.refresh_join_view(spark, view, recompute_fraction=None)


def _vt_join_view_multikey(spark: SparkSession, sf: str) -> DataFrame:
    """COMPOSITE-key incremental join view (matview.create_join_view
    with on=['ck_hi','ck_lo']): the signed delta rule, key pruning, and
    the pair-level min/max recompute all operate on the full column
    TUPLE — no synthetic concat key, so source pruning/zone maps stay
    usable. Advanced through a left append, a right delete+append
    rewrite, and a LEFT upsert rewrite that changes measure values; the
    oracle checks the final state equals the direct two-column
    join+groupBy of the final sources. No reference analogue (the
    reference has no join maintenance); Materialize/DBSP-style scale
    path, composite-key flavor."""
    from ..sources import versioned as VT

    path = _vt_build(spark, sf, "jvm", _vt_jvm_builder)
    return VT.read(spark, path + "_view").select(
        "c_mktsegment", F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_price_cents").cast("long").alias("sum_price_cents"),
        F.col("min_price_cents").cast("long").alias("min_price_cents"),
        F.col("max_price_cents").cast("long").alias("max_price_cents"))


_register(
    "vt_join_view_multikey",
    _vt_join_view_multikey,
    """
    WITH l AS (
      SELECT o_custkey // 10 AS ck_hi, o_custkey % 10 AS ck_lo,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 11 = 0 THEN 7 ELSE 0 END
               AS price_cents
      FROM orders),
    r AS (
      SELECT c_custkey // 10 AS ck_hi, c_custkey % 10 AS ck_lo,
             c_mktsegment FROM customer
      WHERE (c_custkey % 5 <> 4 AND c_custkey % 7 <> 0)
         OR c_custkey % 5 = 4)
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(price_cents) AS BIGINT) AS sum_price_cents,
           CAST(min(price_cents) AS BIGINT) AS min_price_cents,
           CAST(max(price_cents) AS BIGINT) AS max_price_cents
    FROM l JOIN r USING (ck_hi, ck_lo)
    GROUP BY c_mktsegment
    """,
)


def _vt_jvl_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import matview as MV
    from ..sources import versioned as VT

    rpath, view = path + "_ord", path + "_view"
    cust = _t(spark, sf, "customer").select(
        "c_custkey", F.col("c_custkey").alias("custkey"), "c_mktsegment")
    orders = _t(spark, sf, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long")
         .alias("price_cents"))
    VT.create(spark, path, cust.where(F.col("c_custkey") % 5 != 4))
    VT.create(spark, rpath, orders.where(F.col("o_orderkey") % 3 != 2))
    MV.create_join_view(spark, path, rpath, view, on="custkey",
                        left_key="c_custkey", right_key="o_orderkey",
                        group_cols=["c_mktsegment"],
                        sum_cols=["price_cents"],
                        minmax_cols=["price_cents"], how="left")
    # left append: new customers, some with matches, some null-extended
    VT.append(spark, path, cust.where(F.col("c_custkey") % 5 == 4))
    MV.refresh_join_view(spark, view, recompute_fraction=None)
    # right rewrite interval with BOTH flip directions: deleting every
    # order of custkey%9==0 ORPHANS those customers (null-extensions
    # appear), while appending orders for previously order-less
    # customers gives first matches (null-extensions retract)
    VT.delete_rows(
        spark, rpath,
        orders.where((F.col("o_orderkey") % 3 != 2)
                     & (F.col("custkey") % 9 == 0)).select("o_orderkey"),
        "o_orderkey")
    VT.append(spark, rpath,
              orders.where((F.col("o_orderkey") % 3 == 2)
                           & (F.col("custkey") % 4 == 1)))
    MV.refresh_join_view(spark, view, recompute_fraction=None)


def _vt_join_view_left(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT-OUTER maintained join view (create_join_view how='left') —
    the TPC-H Q13 shape: customers with zero orders stay in the
    aggregate, null-extended. Maintained by the signed delta rule PLUS
    the anti-semijoin terms (_delta_nullext_frames): a right delete
    that orphans left rows flips their null-extensions IN (+), a right
    append giving a first match flips them OUT (−) — both exercised in
    one rewrite interval. Oracle: direct LEFT JOIN groupBy of the final
    sources."""
    from ..sources import versioned as VT

    path = _vt_build(spark, sf, "jvl", _vt_jvl_builder)
    return VT.read(spark, path + "_view").select(
        "c_mktsegment", F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_price_cents").cast("long").alias("sum_price_cents"),
        F.col("min_price_cents").cast("long").alias("min_price_cents"),
        F.col("max_price_cents").cast("long").alias("max_price_cents"))


_register(
    "vt_join_view_left",
    _vt_join_view_left,
    """
    WITH l AS (
      SELECT c_custkey AS custkey, c_mktsegment FROM customer),
    r AS (
      SELECT o_custkey AS custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
      WHERE (o_orderkey % 3 <> 2 AND o_custkey % 9 <> 0)
         OR (o_orderkey % 3 = 2 AND o_custkey % 4 = 1))
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(price_cents) AS BIGINT) AS sum_price_cents,
           CAST(min(price_cents) AS BIGINT) AS min_price_cents,
           CAST(max(price_cents) AS BIGINT) AS max_price_cents
    FROM l LEFT JOIN r USING (custkey)
    GROUP BY c_mktsegment
    """,
)




def _vt_jtl_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import matview as MV
    from ..sources import versioned as VT

    rpath, view = path + "_ord", path + "_view"
    cust = _t(spark, sf, "customer").select(
        "c_custkey", F.col("c_custkey").alias("custkey"), "c_mktsegment")
    orders = _t(spark, sf, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long")
         .alias("price_cents"))
    VT.create(spark, path, cust.where(F.col("c_custkey") % 5 != 4))
    VT.create(spark, rpath, orders.where(F.col("o_orderkey") % 3 != 2))
    MV.create_join_table_view(spark, path, rpath, view, on="custkey",
                              left_key="c_custkey",
                              right_key="o_orderkey", how="left")
    # left append-only + right unchanged: the delete-free fast path
    VT.append(spark, path, cust.where(F.col("c_custkey") % 5 == 4))
    MV.refresh_join_table_view(spark, view, recompute_fraction=None)
    # right rewrite with BOTH flip directions: orphaning deletes
    # (null-extensions restored) + first-match appends (null-extensions
    # replaced by their pair rows) in ONE interval
    VT.delete_rows(
        spark, rpath,
        orders.where((F.col("o_orderkey") % 3 != 2)
                     & (F.col("custkey") % 9 == 0)).select("o_orderkey"),
        "o_orderkey")
    VT.append(spark, rpath,
              orders.where((F.col("o_orderkey") % 3 == 2)
                           & (F.col("custkey") % 4 == 1)))
    MV.refresh_join_table_view(spark, view, recompute_fraction=None)


def _vt_join_table_left(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT-outer maintained join TABLE (create_join_table_view
    how='left'): the row-level denormalization keeps unmatched left
    rows null-extended — maintained through a delete-free left append,
    then a right rewrite interval whose deletes ORPHAN customers (their
    null-extension rows must reappear) while its appends give other
    customers their FIRST match (their null-extension rows must be
    replaced by pair rows, not duplicated). The oracle is the direct
    LEFT JOIN of the final sources — row-for-row, including the NULL
    right halves."""
    from ..sources import versioned as VT

    path = _vt_build(spark, sf, "jtl", _vt_jtl_builder)
    return VT.read(spark, path + "_view").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "price_cents")


_register(
    "vt_join_table_left",
    _vt_join_table_left,
    """
    WITH l AS (
      SELECT c_custkey, c_custkey AS custkey, c_mktsegment
      FROM customer),
    r AS (
      SELECT o_orderkey, o_custkey AS custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
      WHERE (o_orderkey % 3 <> 2 AND o_custkey % 9 <> 0)
         OR (o_orderkey % 3 = 2 AND o_custkey % 4 = 1))
    SELECT c_custkey, c_mktsegment, o_orderkey, price_cents
    FROM l LEFT JOIN r USING (custkey)
    """,
)


def _vt_3way_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import matview as MV
    from ..sources import versioned as VT

    cpath, npath = path + "_cust", path + "_nat"
    jt, jv = path + "_jt", path + "_jv"
    orders = _t(spark, sf, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long")
         .alias("price_cents"))
    cust = _t(spark, sf, "customer").select(
        "c_custkey", F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"))
    nat = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name")
    VT.create(spark, path, orders.where(F.col("o_orderkey") % 4 != 3))
    VT.create(spark, cpath, cust)
    VT.create(spark, npath, nat)
    # hop 1: row-level join TABLE orders ⋈ customer (the denormalized
    # fact); hop 2: aggregate join VIEW over THAT VIEW ⋈ nation — a
    # 3-way join maintained end-to-end by composition (the join table
    # is itself a versioned table, so the outer view tails its commits
    # through the multiset CDC diff; no unique-key assumption needed)
    MV.create_join_table_view(spark, path, cpath, jt, on="custkey",
                              left_key="o_orderkey",
                              right_key="c_custkey")
    MV.create_join_view(spark, jt, npath, jv, on="nationkey",
                        left_key="_pair_key", right_key="nationkey",
                        group_cols=["n_name"], sum_cols=["price_cents"])
    # fact ingest: ΔA flows A -> jt (append fast path) -> jv (ΔL term)
    VT.append(spark, path, orders.where(F.col("o_orderkey") % 4 == 3))
    MV.refresh_join_table_view(spark, jt, recompute_fraction=None)
    MV.refresh_join_view(spark, jv, recompute_fraction=None)
    # dimension rewrite in the MIDDLE hop: deleting customers rewrites
    # the join table (vector+append), and the outer view must consume
    # that rewrite through the multiset diff
    VT.delete_rows(
        spark, cpath,
        cust.where(F.col("c_custkey") % 6 == 0).select("c_custkey"),
        "c_custkey")
    MV.refresh_join_table_view(spark, jt, recompute_fraction=None)
    MV.refresh_join_view(spark, jv, recompute_fraction=None)
    # outer-dimension delete: the jv's ΔR term with retractions
    VT.delete_rows(
        spark, npath,
        nat.where(F.col("nationkey") % 5 == 4).select("nationkey"),
        "nationkey")
    MV.refresh_join_view(spark, jv, recompute_fraction=None)


def _vt_three_way_join_view(spark: SparkSession, sf: str) -> DataFrame:
    """THREE-way maintained join by VIEW COMPOSITION: a row-level join
    table (orders ⋈ customer) feeds an aggregate join view
    ((orders ⋈ customer) ⋈ nation, grouped by nation) — N-way
    incremental joins fall out of the two-source machinery because a
    view IS a versioned table (the multiset CDC diff needs no row
    identity, so the outer view tails the inner view's vector+append
    rewrites exactly). Advanced through a fact append, a mid-hop
    customer delete (join-table rewrite consumed downstream), and an
    outer-dimension nation delete; oracle = the direct 3-way
    join+groupBy of the final sources."""
    from ..sources import versioned as VT

    path = _vt_build(spark, sf, "3way", _vt_3way_builder)
    return VT.read(spark, path + "_jv").select(
        "n_name", F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_price_cents").cast("long").alias("sum_price_cents"))


_register(
    "vt_three_way_join_view",
    _vt_three_way_join_view,
    """
    WITH l AS (
      SELECT o_custkey AS custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders),
    c AS (
      SELECT c_custkey AS custkey, c_nationkey AS nationkey
      FROM customer WHERE c_custkey % 6 <> 0),
    n AS (
      SELECT n_nationkey AS nationkey, n_name FROM nation
      WHERE n_nationkey % 5 <> 4)
    SELECT n_name, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
    FROM l JOIN c USING (custkey) JOIN n USING (nationkey)
    GROUP BY n_name
    """,
)


# ===========================================================================
# SQL frontend (rclip_server_spark/sql.py): the whole maintained-view
# lifecycle driven by STATEMENTS — CREATE TABLE AS / CREATE MATERIALIZED
# VIEW / INSERT / DELETE / REFRESH / SELECT — with the DuckDB twin
# computing the same aggregate directly over the final source state.
# Reference parity: the reference's value is a QUERY INTERFACE over its
# index (RS:85-106); this is the Spark engine's equivalent entry point.
# ===========================================================================


def _sql_mv_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed")
    SQ.execute(spark, "CREATE TABLE ev OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed WHERE event_id % 3 <> 2",
               cat)
    SQ.execute(spark, (
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT event_type, COUNT(*) AS cnt, "
        "SUM(value_cents) AS sum_value_cents, "
        "MIN(value_cents) AS min_value_cents "
        "FROM ev GROUP BY event_type"), cat)
    SQ.execute(spark, "INSERT INTO ev SELECT * FROM events_seed "
                      "WHERE event_id % 3 = 2", cat)       # append path
    SQ.execute(spark, "DELETE FROM ev WHERE event_id % 11 = 0", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW mv", cat)  # retraction


def _sql_mv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end SQL-driven materialized view (sql.execute): table
    created, mutated (INSERT + DELETE) and aggregated into a maintained
    agg view purely through statements; the SELECT reads the refreshed
    view through the same frontend (nn_* maintenance columns hidden).
    Oracle: the direct groupBy of the final table state."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlmv", _sql_mv_builder)
    return SQ.execute(
        spark,
        "SELECT event_type, cnt, sum_value_cents, min_value_cents "
        "FROM mv",
        SQ.Catalog(path))


_register(
    "sql_mv_roundtrip",
    _sql_mv_roundtrip,
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_cents,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS min_value_cents
    FROM events
    WHERE event_id % 11 <> 0
    GROUP BY event_type
    """,
)


def _sql_topk_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_k")
    SQ.execute(spark, "CREATE TABLE evk OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_k WHERE event_id % 4 <> 3",
               cat)
    SQ.execute(spark, (
        "CREATE MATERIALIZED VIEW topv AS "
        "SELECT event_type, event_id, value_cents FROM evk "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type "
        "ORDER BY value_cents DESC, event_id ASC) <= 5"), cat)
    SQ.execute(spark, "INSERT INTO evk SELECT * FROM events_seed_k "
                      "WHERE event_id % 4 = 3", cat)
    SQ.execute(spark, "DELETE FROM evk WHERE event_id % 13 = 0", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW topv", cat)


def _sql_topk_qualify(spark: SparkSession, sf: str) -> DataFrame:
    """Maintained TOP-K view declared through the SQL frontend's
    QUALIFY ROW_NUMBER() shape, advanced through an insert-only merge
    AND a retracting delete; DuckDB twin runs the identical QUALIFY
    over the final state (both rank total orders: score DESC, key
    ASC)."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlk", _sql_topk_builder)
    return SQ.execute(
        spark,
        "SELECT event_type, event_id, value_cents, rnk FROM topv",
        SQ.Catalog(path))


_register(
    "sql_topk_qualify",
    _sql_topk_qualify,
    """
    SELECT event_type, event_id,
           CAST(round(value * 100) AS BIGINT) AS value_cents,
           CAST(row_number() OVER (
             PARTITION BY event_type
             ORDER BY CAST(round(value * 100) AS BIGINT) DESC,
                      event_id ASC) AS BIGINT) AS rnk
    FROM events
    WHERE event_id % 13 <> 0
    QUALIFY rnk <= 5
    """,
)


# ===========================================================================
# Maintained near-dup PAIRS view (sources/neardup_view.py): the banded
# MinHash pair table kept fresh through appends AND a retracting delete,
# with the DuckDB twin recomputing the full pipeline over the FINAL doc
# set — pinning that O(delta) maintenance lands row-identically on the
# from-scratch pair set (ids, orientation, and exact jaccard).
# ===========================================================================

from ._dedup_text import _BAND_EQ, _MH_MIN_MATCHES, _SIG_MATCHES, _SHINGLES


def _vt_nd_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import neardup_view as ND
    from ..sources import versioned as VT

    view = path + "_view"
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    VT.create(spark, path, docs.where(F.col("doc_id") % 3 != 2))
    ND.create_near_dup_pairs_view(spark, path, view, key="doc_id",
                                  threshold=0.7)
    VT.append(spark, path, docs.where(F.col("doc_id") % 3 == 2))
    ND.refresh_near_dup_pairs_view(spark, view, recompute_fraction=None)  # probe-only interval
    VT.delete_rows(spark, path,
                   docs.where(F.col("doc_id") % 7 == 0).select("doc_id"),
                   "doc_id")
    ND.refresh_near_dup_pairs_view(spark, view, recompute_fraction=None)  # pair retraction


def _vt_near_dup_pairs_view(spark: SparkSession, sf: str) -> DataFrame:
    """Incrementally-maintained near-dup pair table: created over a
    partial corpus, advanced by an append (Δ-bands probe the maintained
    band index — new-vs-corpus and new-vs-new pairs only) and a delete
    (pairs touching deleted docs retracted by delete vector), then read.
    The oracle recomputes banded-LSH + prefilter + exact Jaccard from
    scratch on the final corpus."""
    from ..sources import neardup_view as ND

    path = _vt_build(spark, sf, "ndpairs", _vt_nd_builder)
    return ND.read_near_dup_pairs_view(spark, path + "_view")


_register(
    "vt_near_dup_pairs_view",
    _vt_near_dup_pairs_view,
    f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
    h AS (SELECT doc_id AS id,
                 list_distinct(list_transform({_SHINGLES}, s -> {hash60_sql('s')})) AS gs,
                 {_HASHED_SHINGLES} AS hs FROM d),
    s AS (SELECT id, gs, {_SIG_LIST} AS sig FROM h),
    cand AS (
      SELECT a.id AS id_a, c.id AS id_b, a.gs AS gs_a, c.gs AS gs_b
      FROM s a JOIN s c ON a.id < c.id AND ({_BAND_EQ})
        AND {_SIG_MATCHES} >= {_MH_MIN_MATCHES})
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             CAST(len(list_intersect(gs_a, gs_b)) AS DOUBLE)
             / CAST(len(gs_a) + len(gs_b) - len(list_intersect(gs_a, gs_b)) AS DOUBLE) AS jaccard
      FROM cand)
    WHERE jaccard >= 0.7
    """,
)


def _sql_avg_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_a")
    SQ.execute(spark, "CREATE TABLE eva OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_a WHERE event_id % 5 <> 4",
               cat)
    SQ.execute(spark, (
        "CREATE MATERIALIZED VIEW avgv AS "
        "SELECT event_type, COUNT(*) AS cnt, "
        "AVG(value_cents) AS avg_value_cents "
        "FROM eva GROUP BY event_type"), cat)
    SQ.execute(spark, "INSERT INTO eva SELECT * FROM events_seed_a "
                      "WHERE event_id % 5 = 4", cat)
    SQ.execute(spark, "DELETE FROM eva WHERE event_id % 9 = 0", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW avgv", cat)


def _sql_mv_avg(spark: SparkSession, sf: str) -> DataFrame:
    """AVG through the SQL frontend's maintained agg view: kept as the
    retractable (BIGINT sum, non-null count) pair and divided at read —
    the DuckDB twin computes the identical exact-sum/exact-count
    division over the final state (never engine AVG, whose internal
    accumulation order is not pinned)."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlavg", _sql_avg_builder)
    return SQ.execute(
        spark, "SELECT event_type, cnt, avg_value_cents FROM avgv",
        SQ.Catalog(path))


_register(
    "sql_mv_avg",
    _sql_mv_avg,
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
             / CAST(count(round(value * 100)) AS DOUBLE)
             AS avg_value_cents
    FROM events
    WHERE event_id % 9 <> 0
    GROUP BY event_type
    """,
)


def _vt_ed_builder(spark: SparkSession, sf: str, path: str) -> None:
    from ..sources import neardup_view as ND
    from ..sources import versioned as VT

    view = path + "_view"
    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    VT.create(spark, path, emb.where(F.col("vec_id") % 3 != 2))
    ND.create_embed_near_dup_pairs_view(spark, path, view, key="vec_id",
                                        threshold=0.4, n_planes=6,
                                        n_sets=3, dim=EMB_DIM)
    VT.append(spark, path, emb.where(F.col("vec_id") % 3 == 2))
    ND.refresh_embed_near_dup_pairs_view(spark, view,
                                         recompute_fraction=None)
    VT.delete_rows(spark, path,
                   emb.where(F.col("vec_id") % 7 == 0).select("vec_id"),
                   "vec_id")
    ND.refresh_embed_near_dup_pairs_view(spark, view,
                                         recompute_fraction=None)


def _vt_embed_near_dup_pairs_view(spark: SparkSession, sf: str
                                  ) -> DataFrame:
    """Maintained EMBEDDING near-dup pair table (hyperplane-multiset
    candidate tier + exact-cosine verify, sources/neardup_view.py):
    advanced by an append (Δ buckets probe the maintained sign-bit
    index) and a delete (pair retraction), then read; the DuckDB twin
    recomputes the identical bucketing + verification from scratch on
    the final vector set (threshold 0.4 — the synthetic embeddings are
    near-orthogonal, see ann_hyperplane_near_dup_multiset)."""
    from ..sources import neardup_view as ND

    path = _vt_build(spark, sf, "edpairs", _vt_ed_builder)
    return ND.read_embed_near_dup_pairs_view(spark, path + "_view")


from ._base import bucket_sql, dot2_sql  # noqa: E402
from ._base import PLANES6 as _PL6  # noqa: E402
from ..operators import ann as _ann  # noqa: E402

_register(
    "vt_embed_near_dup_pairs_view",
    _vt_embed_near_dup_pairs_view,
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id % 7 <> 0),
    b AS (SELECT vec_id AS id, embedding AS v,
                 {bucket_sql('embedding', _PL6)} AS b0,
                 {bucket_sql('embedding', _ann.hyperplanes(6, EMB_DIM, 43))} AS b1,
                 {bucket_sql('embedding', _ann.hyperplanes(6, EMB_DIM, 44))} AS b2
          FROM e)
    SELECT id_a, id_b, cosine FROM (
      SELECT a.id AS id_a, c.id AS id_b, {dot2_sql('a.v', 'c.v')} AS cosine
      FROM b a JOIN b c
        ON a.id < c.id AND (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2))
    WHERE cosine >= 0.4
    """,
)


# ===========================================================================
# SQL DML: UPDATE and MERGE INTO through the frontend — both land as ONE
# delete-vector + append commit (versioned.delete_and_append), so cost is
# O(matched)/O(source), never a table rewrite. The DuckDB twins compute the
# identical final state from `events` directly (sequential CASE layers for
# the two stacked UPDATEs; anti-join ∪ source for the full-upsert MERGE).
# Reference parity: beyond-reference DML surface (the reference mutates via
# point UPDATEs in SQLite, RS:206-213); Delta-style SET */INSERT * shapes.
# ===========================================================================


def _sql_update_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_u")
    SQ.execute(spark, "CREATE TABLE evu OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_u", cat)
    SQ.execute(spark, "UPDATE evu SET value_cents = value_cents * 3 - 1 "
                      "WHERE event_id % 5 = 0", cat)
    # second UPDATE sees the FIRST update's state (stacked semantics)
    SQ.execute(spark, "UPDATE evu SET event_type = upper(event_type) "
                      "WHERE value_cents > 5000", cat)


def _sql_update_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Two stacked UPDATE statements via the SQL frontend: each is a
    single delete-vector + append commit whose assignment RHS reads the
    OLD row image; the second statement's predicate observes the first
    statement's writes. Oracle: the same two CASE layers applied in
    sequence over `events`."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlu", _sql_update_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evu",
        SQ.Catalog(path))


_register(
    "sql_update_roundtrip",
    _sql_update_roundtrip,
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
    u1 AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 5 = 0 THEN vc * 3 - 1 ELSE vc END
               AS value_cents
      FROM s)
    SELECT event_id,
           CASE WHEN value_cents > 5000 THEN upper(event_type)
                ELSE event_type END AS event_type,
           CAST(value_cents AS BIGINT) AS value_cents
    FROM u1
    """,
)


def _sql_merge_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_m")
    SQ.execute(spark, "CREATE TABLE evm OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_m "
                      "WHERE event_id % 4 <> 3", cat)
    SQ.execute(spark, (
        "MERGE INTO evm USING "
        "(SELECT event_id, event_type, value_cents * 10 AS value_cents "
        " FROM events_seed_m WHERE event_id % 2 = 0) "
        "ON evm.event_id = event_id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"), cat)


def _sql_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Full-upsert MERGE (SET * + INSERT *) through the SQL frontend:
    NO target read — every source key becomes one delete-vector entry
    and every source row lands in one appended segment, O(source) at
    any table size. Oracle: target-minus-source-keys ∪ source."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlm", _sql_merge_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evm",
        SQ.Catalog(path))


_register(
    "sql_merge_upsert",
    _sql_merge_upsert,
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM events)
    SELECT event_id, event_type, value_cents
    FROM s WHERE event_id % 4 <> 3 AND event_id % 2 <> 0
    UNION ALL
    SELECT event_id, event_type,
           CAST(value_cents * 10 AS BIGINT) AS value_cents
    FROM s WHERE event_id % 2 = 0
    """,
)


def _sql_merge_cdc_builder(spark: SparkSession, sf: str,
                           path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_cdc")
    SQ.execute(spark, "CREATE TABLE evc OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_cdc "
                      "WHERE event_id % 3 <> 2", cat)
    SQ.execute(spark, (
        "MERGE INTO evc t USING "
        "(SELECT event_id, user_id, event_type, "
        "  value_cents * 2 AS c2, "
        "  CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op "
        " FROM events_seed_cdc WHERE event_id % 5 = 0) AS s "
        "ON t.event_id = s.event_id "
        "WHEN MATCHED AND s.op = 'D' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET value_cents = s.c2 + 1, "
        "  event_type = upper(s.event_type) "
        "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT "
        "  (event_id, event_type, value_cents) "
        "  VALUES (s.event_id, s.event_type, s.c2)"), cat)


def _sql_merge_cdc_apply(spark: SparkSession, sf: str) -> DataFrame:
    """The CDC-apply MERGE (r9 verdict task 1): one statement mixing a
    conditional DELETE, a column-level UPDATE whose RHS reads source
    columns, and a conditional column-list INSERT that NULL-fills the
    unlisted user_id. Clauses evaluate first-match-wins in statement
    order; the whole apply is ONE delete-vector + append commit
    (O(matched + inserted), never a table rewrite). Oracle: the final
    state recomputed from `events` by set algebra."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlmc", _sql_merge_cdc_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, user_id, event_type, value_cents FROM evc",
        SQ.Catalog(path))


_register(
    "sql_merge_cdc_apply",
    _sql_merge_cdc_apply,
    """
    WITH s AS (
      SELECT event_id, user_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events)
    SELECT event_id, user_id, event_type, vc AS value_cents
    FROM s WHERE event_id % 3 <> 2 AND event_id % 5 <> 0
    UNION ALL
    SELECT event_id, user_id, upper(event_type) AS event_type,
           CAST(vc * 2 + 1 AS BIGINT) AS value_cents
    FROM s
    WHERE event_id % 3 <> 2 AND event_id % 5 = 0
      AND event_id % 10 <> 0
    UNION ALL
    SELECT event_id, CAST(NULL AS BIGINT) AS user_id, event_type,
           CAST(vc * 2 AS BIGINT) AS value_cents
    FROM s
    WHERE event_id % 3 = 2 AND event_id % 5 = 0
      AND event_id % 10 <> 0
    """,
)


def _sql_alter_builder(spark: SparkSession, sf: str,
                       path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_alt")
    SQ.execute(spark, "CREATE TABLE eva OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_alt "
                      "WHERE event_id % 2 = 0", cat)
    SQ.execute(spark, "ALTER TABLE eva ADD COLUMN bonus bigint", cat)
    SQ.execute(spark, "INSERT INTO eva SELECT event_id, event_type, "
                      "value_cents, value_cents % 7 "
                      "FROM events_seed_alt WHERE event_id % 2 = 1",
               cat)


def _sql_add_column_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """``ALTER TABLE ADD COLUMN`` (r9 verdict task 4): create → alter →
    insert, then a SELECT spanning pre- and post-evolution segments —
    rows committed before the ALTER read the new column as NULL
    (mergeSchema), rows after carry real values. The ALTER itself is
    one O(1) zero-row commit through the append path's drift guard.
    Oracle: NULL-extended old half ∪ computed new half of `events`."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqla", _sql_alter_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents, bonus FROM eva",
        SQ.Catalog(path))


_register(
    "sql_add_column_evolution",
    _sql_add_column_evolution,
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM events)
    SELECT event_id, event_type, value_cents,
           CAST(NULL AS BIGINT) AS bonus
    FROM s WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, event_type, value_cents,
           CAST(value_cents % 7 AS BIGINT) AS bonus
    FROM s WHERE event_id % 2 = 1
    """,
)


def _sql_dropcol_builder(spark: SparkSession, sf: str,
                         path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_dc")
    SQ.execute(spark, "CREATE TABLE evd OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_dc "
                      "WHERE event_id % 2 = 0", cat)
    SQ.execute(spark, "ALTER TABLE evd DROP COLUMN user_id", cat)
    SQ.execute(spark, "INSERT INTO evd SELECT event_id, event_type, "
                      "value_cents FROM events_seed_dc "
                      "WHERE event_id % 2 = 1", cat)


def _sql_drop_column_evolution(spark: SparkSession, sf: str
                               ) -> DataFrame:
    """``ALTER TABLE DROP COLUMN``: a metadata-only commit hides the
    column at the read projection (no byte of the table rewritten —
    versioned.drop_column), post-drop INSERTs align to the narrowed
    schema, and a SELECT spans pre- and post-drop segments without the
    dropped column resurrecting through mergeSchema (the hidden_cols
    carry). Oracle: the same projection over all of `events`."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqldc", _sql_dropcol_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evd",
        SQ.Catalog(path))


_register(
    "sql_drop_column_evolution",
    _sql_drop_column_evolution,
    """
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    """,
)


def _sql_cd_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_cd")
    SQ.execute(spark, "CREATE TABLE evcd OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_cd "
                      "WHERE event_id % 3 <> 2", cat)
    SQ.execute(spark, (
        "CREATE MATERIALIZED VIEW ucnt AS "
        "SELECT event_type, COUNT(*) AS n_events, "
        "COUNT(DISTINCT user_id) AS n_users "
        "FROM evcd GROUP BY event_type"), cat)
    SQ.execute(spark, "INSERT INTO evcd SELECT * FROM events_seed_cd "
                      "WHERE event_id % 3 = 2", cat)
    # retracting delete: users whose LAST event goes must leave the
    # distinct count (the hidden pairs row retracts to zero)
    SQ.execute(spark, "DELETE FROM evcd WHERE user_id % 4 = 1", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW ucnt", cat)


def _sql_mv_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Incrementally-maintained EXACT COUNT(DISTINCT) declared through
    SQL: the frontend stacks a hidden (event_type, user_id) pairs view
    under the named view (one row per LIVE pair), so the top view's
    COUNT is the distinct-user count and its SUM over the pair counts
    is COUNT(*) — both advanced through an insert AND a retracting
    delete by one REFRESH statement (cascade walk). Oracle: plain
    COUNT(DISTINCT) over the final state."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlcd", _sql_cd_builder)
    return SQ.execute(
        spark,
        "SELECT event_type, n_events, n_users FROM ucnt",
        SQ.Catalog(path))


_register(
    "sql_mv_count_distinct",
    _sql_mv_count_distinct,
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id % 4 <> 1
    GROUP BY event_type
    """,
)


def _sql_restore_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_r")
    SQ.execute(spark, "CREATE TABLE evr OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_r "
                      "WHERE event_id % 3 <> 2", cat)       # v1
    # bad migration zeroes every value, then RESTORE undoes it
    SQ.execute(spark, "UPDATE evr SET value_cents = 0 WHERE true", cat)
    SQ.execute(spark, "RESTORE TABLE evr TO VERSION AS OF 1", cat)
    # post-restore DML lands on the restored content
    SQ.execute(spark, "INSERT INTO evr SELECT * FROM events_seed_r "
                      "WHERE event_id % 3 = 2", cat)


def _sql_restore_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """RESTORE TABLE ... VERSION AS OF through the SQL frontend:
    metadata-only rollback of a destructive UPDATE (the manifest
    re-points to the pre-update segments; nothing is read or copied),
    then an INSERT on top of the restored head. Oracle: the original
    values over the full row set — correct ONLY if the restore
    actually undid the zeroing and the insert landed after it."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlr", _sql_restore_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evr",
        SQ.Catalog(path))


_register(
    "sql_restore_roundtrip",
    _sql_restore_roundtrip,
    """
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    """,
)


def _sql_overwrite_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_o")
    SQ.execute(spark, "CREATE TABLE evo OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_o "
                      "WHERE event_id % 2 = 0", cat)
    # full reload (B18): one overwrite commit replaces the whole state
    SQ.execute(spark, "INSERT OVERWRITE evo SELECT event_id, "
                      "event_type, value_cents * 10 FROM events_seed_o "
                      "WHERE event_id % 3 = 0", cat)
    # post-reload DML lands on the reloaded content
    SQ.execute(spark, "INSERT INTO evo SELECT * FROM events_seed_o "
                      "WHERE event_id % 3 = 1 AND event_id % 5 = 0",
               cat)


def _sql_insert_overwrite(spark: SparkSession, sf: str) -> DataFrame:
    """INSERT OVERWRITE through the SQL frontend: one full-replace
    commit (versioned.overwrite — the reference's B18 full reload,
    RS:230-235 manual /reload, completed at manifest altitude: old
    versions stay readable, RESTORE undoes it), then an append on the
    reloaded head. Oracle: reloaded-set ∪ appended-set from events."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlo", _sql_overwrite_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evo",
        SQ.Catalog(path))


_register(
    "sql_insert_overwrite",
    _sql_insert_overwrite,
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM events)
    SELECT event_id, event_type,
           CAST(value_cents * 10 AS BIGINT) AS value_cents
    FROM s WHERE event_id % 3 = 0
    UNION ALL
    SELECT event_id, event_type, value_cents
    FROM s WHERE event_id % 3 = 1 AND event_id % 5 = 0
    """,
)


def _sql_schema_builder(spark: SparkSession, sf: str,
                        path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_sch")
    SQ.execute(spark, "CREATE TABLE evs (event_id BIGINT, "
                      "event_type STRING, value_cents BIGINT) "
                      "OPTIONS (key='event_id')", cat)
    SQ.execute(spark, "INSERT INTO evs SELECT * FROM events_seed_sch "
                      "WHERE event_id % 3 <> 1", cat)
    SQ.execute(spark, "INSERT INTO evs SELECT * FROM events_seed_sch "
                      "WHERE event_id % 3 = 1", cat)


def _sql_create_schema_insert(spark: SparkSession, sf: str
                              ) -> DataFrame:
    """Explicit-schema ``CREATE TABLE t (col type, ...)`` (empty
    declaration, Spark judges the DDL types) followed by two positional
    INSERT ... SELECT batches — the declare-then-ingest lifecycle.
    Oracle: the same projection over `events`."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlsc", _sql_schema_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evs",
        SQ.Catalog(path))


_register(
    "sql_create_schema_insert",
    _sql_create_schema_insert,
    """
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    """,
)


def _sql_bucketed_builder(spark: SparkSession, sf: str,
                          path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_bk")
    SQ.execute(spark, "CREATE TABLE evb OPTIONS (key='event_id', "
                      "buckets=8) AS SELECT * FROM events_seed_bk "
                      "WHERE event_id % 2 = 0", cat)
    SQ.execute(spark, "INSERT INTO evb SELECT * FROM events_seed_bk "
                      "WHERE event_id % 2 = 1", cat)
    SQ.execute(spark, (
        "MERGE INTO evb USING (SELECT event_id, event_type, "
        "value_cents * 3 AS value_cents FROM events_seed_bk "
        "WHERE event_id % 5 = 0) "
        "ON evb.event_id = event_id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"), cat)
    SQ.execute(spark, "OPTIMIZE evb", cat)


def _sql_bucketed_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """The BUCKETED lakehouse lifecycle through SQL: CREATE with
    OPTIONS (key, buckets) hash-routes rows into per-bucket segments
    (deterministic pmod(xxhash64(key), N) — same key, same bucket,
    forever), INSERT appends per-bucket segments (no data read), the
    full-upsert MERGE rewrites ONLY the touched buckets
    (versioned.upsert_bucketed), and OPTIMIZE folds multi-segment
    buckets. At 100 TB this is the co-located-join layout: every
    key-equi join/upsert touches exactly its buckets. Oracle: the
    final state by set algebra over `events`."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlbk", _sql_bucketed_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evb",
        SQ.Catalog(path))


_register(
    "sql_bucketed_lifecycle",
    _sql_bucketed_lifecycle,
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM events)
    SELECT event_id, event_type, value_cents
    FROM s WHERE event_id % 5 <> 0
    UNION ALL
    SELECT event_id, event_type,
           CAST(value_cents * 3 AS BIGINT) AS value_cents
    FROM s WHERE event_id % 5 = 0
    """,
)


def _sql_sync_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_sync")
    SQ.execute(spark, "CREATE TABLE evy OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_sync", cat)
    SQ.execute(spark, (
        "MERGE INTO evy t USING "
        "(SELECT event_id, event_type, value_cents * 2 AS c2 "
        " FROM events_seed_sync WHERE event_id % 3 = 0) AS s "
        "ON t.event_id = s.event_id "
        "WHEN MATCHED AND s.c2 > 10000 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET value_cents = s.c2 "
        "WHEN NOT MATCHED BY SOURCE AND t.value_cents < 100 "
        "THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET "
        "event_type = 'stale'"), cat)


def _sql_merge_sync_by_source(spark: SparkSession, sf: str
                              ) -> DataFrame:
    """The full-sync MERGE (Delta's WHEN NOT MATCHED BY SOURCE): one
    statement that conditionally deletes/updates matched rows AND
    conditionally deletes/marks the target rows the source no longer
    carries — still ONE delete-vector + append commit. Oracle: set
    algebra over `events` (matched third vs unmatched two-thirds)."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlsy", _sql_sync_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evy",
        SQ.Catalog(path))


_register(
    "sql_merge_sync_by_source",
    _sql_merge_sync_by_source,
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events)
    SELECT event_id, event_type, CAST(vc * 2 AS BIGINT) AS value_cents
    FROM s WHERE event_id % 3 = 0 AND vc * 2 <= 10000
    UNION ALL
    SELECT event_id, 'stale' AS event_type, vc AS value_cents
    FROM s WHERE event_id % 3 <> 0 AND vc >= 100
    """,
)


def _sql_bucket_mig_builder(spark: SparkSession, sf: str,
                            path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_bm")
    SQ.execute(spark, "CREATE TABLE evm2 OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_bm", cat)
    SQ.execute(spark, "DELETE FROM evm2 WHERE event_id % 7 = 0", cat)
    SQ.execute(spark, "OPTIMIZE evm2 BUCKET BY (event_id, 8)", cat)
    # post-migration DML rides the bucketed path
    SQ.execute(spark, (
        "MERGE INTO evm2 USING (SELECT event_id, event_type, "
        "value_cents + 11 AS value_cents FROM events_seed_bm "
        "WHERE event_id % 4 = 0) "
        "ON evm2.event_id = event_id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"), cat)


def _sql_bucket_migration(spark: SparkSession, sf: str) -> DataFrame:
    """Flat → bucketed layout migration as one committed rewrite
    (OPTIMIZE t BUCKET BY (key, n) → versioned.convert_to_bucketed):
    pending delete vectors are materialized by the rewrite, and the
    next MERGE takes the touched-buckets path. Oracle: the final
    state by set algebra over `events` (delete %7, then upsert %4)."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlbm", _sql_bucket_mig_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evm2",
        SQ.Catalog(path))


_register(
    "sql_bucket_migration",
    _sql_bucket_migration,
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events)
    SELECT event_id, event_type, vc AS value_cents
    FROM s WHERE event_id % 7 <> 0 AND event_id % 4 <> 0
    UNION ALL
    SELECT event_id, event_type, CAST(vc + 11 AS BIGINT) AS value_cents
    FROM s WHERE event_id % 4 = 0
    """,
)


def _sql_bucketed_cm_builder(spark: SparkSession, sf: str,
                             path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_bcm")
    SQ.execute(spark, "CREATE TABLE evbc OPTIONS (key='event_id', "
                      "buckets=8) AS SELECT * FROM events_seed_bcm",
               cat)
    # bucketed DELETE: one bucket-scoped delete vector, zero rewrites
    SQ.execute(spark, "DELETE FROM evbc WHERE event_id % 7 = 0", cat)
    # bucketed UPDATE: one delete-vector + per-bucket-append commit
    SQ.execute(spark, "UPDATE evbc SET value_cents = value_cents + 5 "
                      "WHERE event_id % 3 = 0", cat)
    # conditional clause MERGE on the bucketed layout: first-match-wins
    # DELETE / UPDATE over matched rows + column-list INSERT for the
    # unmatched — all through versioned.delete_and_append's bucketed
    # twin (vector + per-bucket appends, no bucket rewritten)
    SQ.execute(spark, (
        "MERGE INTO evbc t USING (SELECT event_id, event_type, "
        "value_cents * 2 AS vc2 FROM events_seed_bcm "
        "WHERE event_id % 4 = 0) AS s "
        "ON t.event_id = s.event_id "
        "WHEN MATCHED AND s.vc2 > 9000 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET value_cents = s.vc2 "
        "WHEN NOT MATCHED THEN INSERT (event_id, event_type, "
        "value_cents) VALUES (s.event_id, s.event_type, s.vc2)"), cat)


def _sql_bucketed_conditional_merge(spark: SparkSession, sf: str
                                    ) -> DataFrame:
    """Conditional DML on the BUCKETED layout (round 11): DELETE,
    UPDATE, and a conditional multi-clause MERGE against a bucketed
    table land as bucket-scoped delete vectors + per-bucket appended
    segments — zero bucket rewrites, O(matched) per statement — so the
    100 TB ingest layout (hash-bucketed, co-located joins) keeps the
    full DML verb set instead of forking to flat-only semantics.
    Oracle: the final state by set algebra over `events`."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlbcm", _sql_bucketed_cm_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evbc",
        SQ.Catalog(path))


_register(
    "sql_bucketed_conditional_merge",
    _sql_bucketed_conditional_merge,
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
    t2 AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 3 = 0
                  THEN CAST(vc + 5 AS BIGINT) ELSE vc END AS vc
      FROM s WHERE event_id % 7 <> 0),
    m AS (
      SELECT event_id, event_type, CAST(vc * 2 AS BIGINT) AS vc2
      FROM s WHERE event_id % 4 = 0)
    SELECT t2.event_id, t2.event_type, t2.vc AS value_cents
    FROM t2 LEFT JOIN m ON t2.event_id = m.event_id
    WHERE m.event_id IS NULL
    UNION ALL
    SELECT t2.event_id, t2.event_type, m.vc2 AS value_cents
    FROM t2 JOIN m ON t2.event_id = m.event_id
    WHERE m.vc2 <= 9000
    UNION ALL
    SELECT m.event_id, m.event_type, m.vc2 AS value_cents
    FROM m LEFT JOIN t2 ON m.event_id = t2.event_id
    WHERE t2.event_id IS NULL
    """,
)


def _sql_dv_read_builder(spark: SparkSession, sf: str,
                         path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_dvr")
    SQ.execute(spark, "CREATE TABLE evw OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_dvr", cat)
    # leave the delete vectors PENDING (no OPTIMIZE): the read path
    # must apply them under every SELECT shape, not just scans
    SQ.execute(spark, "DELETE FROM evw WHERE event_id % 6 = 0", cat)
    SQ.execute(spark, "DELETE FROM evw WHERE value_cents < 50", cat)


def _sql_select_window_over_dv(spark: SparkSession, sf: str
                               ) -> DataFrame:
    """Windowed SELECT through the SQL FRONTEND over a versioned table
    with PENDING delete vectors: the frontend's read path registers the
    delete-filtered snapshot as the temp view Spark's window operator
    consumes, so analytic functions never see retracted rows. Oracle:
    the same window over the set-algebra survivor set."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqldvr", _sql_dv_read_builder)
    return SQ.execute(spark, (
        "SELECT event_id, event_type, value_cents, "
        "SUM(value_cents) OVER (PARTITION BY event_type "
        "ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) AS running "
        "FROM evw"), SQ.Catalog(path))


_register(
    "sql_select_window_over_dv",
    _sql_select_window_over_dv,
    """
    WITH t AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM events
      WHERE event_id % 6 <> 0
        AND CAST(round(value * 100) AS BIGINT) >= 50)
    SELECT event_id, event_type, value_cents,
           CAST(SUM(value_cents) OVER (PARTITION BY event_type
                ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS running
    FROM t
    """,
)


def _sql_select_grouping_sets_over_dv(spark: SparkSession, sf: str
                                      ) -> DataFrame:
    """GROUPING SETS through the SQL frontend over the same
    pending-delete-vector table: multi-granularity rollup rows are all
    computed from the delete-filtered snapshot. Oracle: identical
    GROUPING SETS over the survivor set."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqldvr", _sql_dv_read_builder)
    return SQ.execute(spark, (
        "SELECT event_type, CAST(event_id % 4 AS BIGINT) AS bucket, "
        "CAST(SUM(value_cents) AS BIGINT) AS total, "
        "COUNT(*) AS n "
        "FROM evw GROUP BY GROUPING SETS "
        "((event_type), (event_type, bucket), ())"),
        SQ.Catalog(path))


_register(
    "sql_select_grouping_sets_over_dv",
    _sql_select_grouping_sets_over_dv,
    """
    WITH t AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM events
      WHERE event_id % 6 <> 0
        AND CAST(round(value * 100) AS BIGINT) >= 50)
    SELECT event_type, CAST(event_id % 4 AS BIGINT) AS bucket,
           CAST(SUM(value_cents) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM t GROUP BY GROUPING SETS
    ((event_type), (event_type, bucket), ())
    """,
)


def _sql_bucketed_evo_builder(spark: SparkSession, sf: str,
                              path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_bevo")
    SQ.execute(spark, "CREATE TABLE evbe OPTIONS (key='event_id', "
                      "buckets=8) AS SELECT * FROM events_seed_bevo",
               cat)
    # metadata-only ADD on the bucketed layout: no segment written,
    # reads reconcile the unwritten column as typed NULLs
    SQ.execute(spark, "ALTER TABLE evbe ADD COLUMN bonus BIGINT", cat)
    # bucketed conditional DML writes real values into the evolved
    # column (delete-vector + per-bucket-append commit)
    SQ.execute(spark, "UPDATE evbe SET bonus = value_cents * 2 "
                      "WHERE event_id % 3 = 0", cat)
    # metadata-only DROP: hidden at the read projection, bytes stay
    # until the next full OPTIMIZE pass
    SQ.execute(spark, "ALTER TABLE evbe DROP COLUMN event_type", cat)


def _sql_bucketed_schema_evolution(spark: SparkSession, sf: str
                                   ) -> DataFrame:
    """Schema evolution on the BUCKETED layout (round 11): ALTER ADD
    is a metadata-only manifest commit (the bucketed read reconciles the
    declared-but-unwritten column as typed NULLs — the bucketed twin
    of the flat path's zero-row evolved segment), ALTER DROP is the
    same hidden_cols projection flat tables use, and bucketed
    conditional DML reads/writes the evolved column in between.
    Oracle: the final state by set algebra over `events`."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlbevo", _sql_bucketed_evo_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, value_cents, bonus FROM evbe",
        SQ.Catalog(path))


_register(
    "sql_bucketed_schema_evolution",
    _sql_bucketed_schema_evolution,
    """
    SELECT event_id,
           CAST(round(value * 100) AS BIGINT) AS value_cents,
           CASE WHEN event_id % 3 = 0
                THEN CAST(round(value * 100) * 2 AS BIGINT)
                ELSE NULL END AS bonus
    FROM events
    """,
)


def _vt_bucketed_zone_builder(spark: SparkSession, sf: str,
                              path: str) -> None:
    from ..sources import versioned as VT

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))
    # two range-disjoint commits so the zone maps have something to
    # skip: low-cents rows at create, high-cents rows appended
    VT.create_bucketed(spark, path, ev.where("value_cents < 5000"),
                       key="event_id", n_buckets=8,
                       stat_cols=["value_cents"])
    VT.append(spark, path, ev.where("value_cents >= 5000"))


def _vt_bucketed_pruned_read(spark: SparkSession, sf: str
                             ) -> DataFrame:
    """Zone maps on the bucketed layout (round 11): per-segment
    min/max recorded by every bucketed commit; a range read skips
    whole segments at manifest resolution (the second pruning layer
    on top of bucket subsetting — bucket hash answers key-equi
    questions, zone maps answer range questions). The high-cents
    append's segments never enter this plan. Oracle: the same range
    predicate over `events`."""
    from ..sources import versioned as VT

    path = _vt_build(spark, sf, "vtbzm", _vt_bucketed_zone_builder)
    return VT.read_pruned(
        spark, path, ranges={"value_cents": (100, 3000)}
    ).select("event_id", "value_cents")


_register(
    "vt_bucketed_pruned_read",
    _vt_bucketed_pruned_read,
    """
    SELECT event_id, CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    WHERE CAST(round(value * 100) AS BIGINT) BETWEEN 100 AND 3000
    """,
)


def _sql_bucketed_zorder_builder(spark: SparkSession, sf: str,
                                 path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_bz")
    SQ.execute(spark, "CREATE TABLE evbz OPTIONS (key='event_id', "
                      "buckets=8) AS SELECT * FROM events_seed_bz",
               cat)
    # conditional DML leaves pending vectors + appended segments...
    SQ.execute(spark, "DELETE FROM evbz WHERE event_id % 9 = 0", cat)
    SQ.execute(spark, "UPDATE evbz SET value_cents = value_cents + 1 "
                      "WHERE user_id % 4 = 0", cat)
    # ...and the within-bucket ZORDER pass materializes them while
    # Morton-sorting (user_id, value_cents) inside every bucket
    SQ.execute(spark, "OPTIMIZE evbz ZORDER BY (user_id, value_cents)",
               cat)


def _sql_bucketed_zorder_roundtrip(spark: SparkSession, sf: str
                                   ) -> DataFrame:
    """OPTIMIZE ZORDER on the bucketed layout through SQL (round 11):
    within-bucket Morton reclustering — the bucket hash keeps
    join/upsert co-location while the z-sort makes parquet row-group
    stats selective inside each bucket; the rewrite also materializes
    the pending delete vectors the preceding conditional DML left.
    Oracle: the final state by set algebra over `events`."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlbz", _sql_bucketed_zorder_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, user_id, value_cents FROM evbz",
        SQ.Catalog(path))


_register(
    "sql_bucketed_zorder_roundtrip",
    _sql_bucketed_zorder_roundtrip,
    """
    SELECT event_id, user_id,
           CASE WHEN user_id % 4 = 0
                THEN CAST(round(value * 100) + 1 AS BIGINT)
                ELSE CAST(round(value * 100) AS BIGINT)
           END AS value_cents
    FROM events WHERE event_id % 9 <> 0
    """,
)


def _sql_truncate_builder(spark: SparkSession, sf: str,
                          path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_tt")
    SQ.execute(spark, "CREATE TABLE evtt OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_tt "
                      "WHERE event_id % 5 < 3", cat)
    # pending vector at truncate time: truncate must clear it WITH the
    # rows (a later re-insert of the residue class is visible)
    SQ.execute(spark, "DELETE FROM evtt WHERE event_id % 4 = 0", cat)
    SQ.execute(spark, "TRUNCATE TABLE evtt", cat)
    SQ.execute(spark, "INSERT INTO evtt SELECT * FROM events_seed_tt "
                      "WHERE event_id % 5 = 4", cat)


def _sql_truncate_timetravel(spark: SparkSession, sf: str) -> DataFrame:
    """TRUNCATE TABLE through the SQL frontend (versioned.truncate):
    a zero-row overwrite commit — reversible (old versions stay
    readable; RESTORE undoes it) and vector-materializing (pending
    delete vectors clear with the rows). The one result frame reads
    BOTH sides of the truncate: the post-truncate reload ('post') and
    the pre-truncate state via time travel ('pre' = VERSION AS OF 2,
    the post-DELETE head). Oracle: set algebra over `events`.
    Reference parity: B18 full reload (rclip_server.py:393-401) at
    manifest altitude."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqltt", _sql_truncate_builder)
    return SQ.execute(spark, (
        "SELECT event_id, event_type, value_cents, 'post' AS phase "
        "FROM evtt "
        "UNION ALL "
        "SELECT event_id, event_type, value_cents, 'pre' AS phase "
        "FROM evtt VERSION AS OF 2"), SQ.Catalog(path))


_register(
    "sql_truncate_timetravel",
    _sql_truncate_timetravel,
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM events)
    SELECT event_id, event_type, value_cents, 'post' AS phase
    FROM s WHERE event_id % 5 = 4
    UNION ALL
    SELECT event_id, event_type, value_cents, 'pre' AS phase
    FROM s WHERE event_id % 5 < 3 AND event_id % 4 <> 0
    """,
)


def _sql_copy_builder(spark: SparkSession, sf: str, path: str) -> None:
    import os as _os

    from .. import sql as SQ

    cat = SQ.Catalog(_os.path.join(path, "cat"))
    src = _os.path.join(path, "in_csv")
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).where(F.col("event_id") % 5 < 4) \
        .write.option("header", "true").csv(src)
    SQ.execute(spark, "CREATE TABLE evcp (event_id BIGINT, event_type "
                      "STRING, value_cents BIGINT) OPTIONS "
                      "(key='event_id')", cat)
    # ingest half: schemaful distributed csv scan -> one append commit
    SQ.execute(spark, f"COPY evcp FROM '{src}' OPTIONS (format='csv', "
                      f"header=true)", cat)
    # export half: query -> ndjson files
    SQ.execute(spark, (
        f"COPY (SELECT event_id, event_type, value_cents FROM evcp "
        f"WHERE event_id % 3 = 0) TO "
        f"'{_os.path.join(path, 'out_json')}' OPTIONS "
        f"(format='ndjson')"), cat)


def _sql_copy_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """COPY FROM / COPY TO through the SQL frontend: csv files ingest
    into a versioned table via a SCHEMAFUL distributed scan (the
    table's declared types are pushed to the reader — no inference
    job) + one append commit, and a query exports to ndjson with
    Spark's parallel writer. The result frame is the exported ndjson
    READ BACK, so the row proves the full file→table→file loop.
    Oracle: the same set algebra over `events` (ingest slice %5<4,
    export filter %3=0). Reference parity: the indexer's file ingest
    half (index_wikimedia.py ingest loop, IW:136-143) generalized to
    schemaful bulk formats."""
    import os as _os

    from .. import sql as SQ  # noqa: F401 — builder dependency

    path = _vt_build(spark, sf, "sqlcp", _sql_copy_builder)
    return spark.read.schema(
        "event_id bigint, event_type string, value_cents bigint"
    ).json(_os.path.join(path, "out_json"))


_register(
    "sql_copy_roundtrip",
    _sql_copy_roundtrip,
    """
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    WHERE event_id % 5 < 4 AND event_id % 3 = 0
    """,
)


def _sql_clone_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_cl")
    SQ.execute(spark, "CREATE TABLE evsrc OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_cl", cat)
    # pending vector at clone time: carries over WITH its scope
    SQ.execute(spark, "DELETE FROM evsrc WHERE event_id % 7 = 0", cat)
    SQ.execute(spark, "CREATE TABLE evcl CLONE evsrc", cat)
    # diverge BOTH sides of the shared base
    SQ.execute(spark, "UPDATE evcl SET value_cents = value_cents + 3 "
                      "WHERE event_id % 2 = 0", cat)
    SQ.execute(spark, "DELETE FROM evsrc WHERE event_id % 3 = 0", cat)
    # rewrite + aggressive vacuum on the source: the clone's pinned
    # segments must survive (ref files under _clones/)
    SQ.execute(spark, "OPTIMIZE evsrc", cat)
    SQ.execute(spark, "VACUUM evsrc KEEP 1", cat)


def _sql_clone_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Shallow CLONE through the SQL frontend (versioned.clone):
    CREATE TABLE c CLONE t references the source's segments by
    absolute path — zero bytes copied — then both tables diverge with
    their own DML, and the source is rewritten + vacuumed KEEP 1
    underneath the clone (the clone's _clones/ refs pin the shared
    segments, so the clone still answers from the base it snapshot).
    One frame reads both sides. Oracle: set algebra over `events`."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlcl", _sql_clone_builder)
    return SQ.execute(spark, (
        "SELECT event_id, event_type, value_cents, 'src' AS side "
        "FROM evsrc "
        "UNION ALL "
        "SELECT event_id, event_type, value_cents, 'clone' AS side "
        "FROM evcl"), SQ.Catalog(path))


_register(
    "sql_clone_divergence",
    _sql_clone_divergence,
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events WHERE event_id % 7 <> 0)
    SELECT event_id, event_type, vc AS value_cents, 'src' AS side
    FROM s WHERE event_id % 3 <> 0
    UNION ALL
    SELECT event_id, event_type,
           CASE WHEN event_id % 2 = 0 THEN CAST(vc + 3 AS BIGINT)
                ELSE vc END AS value_cents,
           'clone' AS side
    FROM s
    """,
)


_EXPORT_CACHE: dict = {}


def _samp_export_shards_manifest(spark: SparkSession, sf: str
                                 ) -> DataFrame:
    """Training-shard export (sampling.export_training_shards): the
    curated table materializes as shard=N/ parquet dirs in
    pseudorandom read order plus a _shards.json manifest computed by
    READING BACK the written files — per shard, row count and a
    placement checksum (sum of hash32('salt|id|pos')) that any lost,
    duplicated, or re-ordered row would change. The returned frame IS
    that manifest, so the oracle (which recomputes shard/pos/checksum
    from `documents` with the same md5 arithmetic) verifies the whole
    write→read loop. The epoch-ready layout every trainer streams."""
    import os as _os
    import tempfile as _tempfile

    from ..operators import sampling as _samp

    key = _os.path.abspath(sf)
    mf = _EXPORT_CACHE.get(key)
    if mf is None or not _os.path.isdir(mf["_dir"]):
        out = _tempfile.mkdtemp(prefix="rclip_shards_")
        m = _samp.export_training_shards(
            _t(spark, sf, "documents").select("doc_id", "text"),
            "doc_id", 4, out, overwrite=True)
        mf = {"_dir": out, "m": m}
        _EXPORT_CACHE[key] = mf
    rows = [(int(s), v["rows"], v["checksum"])
            for s, v in sorted(mf["m"]["shards"].items())]
    return values_df(
        spark, rows, "shard bigint, n_rows bigint, checksum bigint")


_register(
    "samp_export_shards_manifest",
    _samp_export_shards_manifest,
    f"""
    WITH h AS (
      SELECT doc_id,
             {hash32_sql("concat_ws('|', 'shuffle', CAST(doc_id AS VARCHAR))")} AS hh
      FROM documents),
    sp AS (
      SELECT doc_id, CAST(hh % 4 AS BIGINT) AS shard,
             CAST(row_number() OVER (PARTITION BY hh % 4
                  ORDER BY hh ASC, doc_id ASC) - 1 AS BIGINT) AS pos
      FROM h)
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({hash32_sql(
               "concat_ws('|', 'shuffle', CAST(doc_id AS VARCHAR), "
               "CAST(pos AS VARCHAR))")}) AS BIGINT) AS checksum
    FROM sp GROUP BY shard
    """,
)


def _sql_analyze_builder(spark: SparkSession, sf: str,
                         path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_an")
    SQ.execute(spark, "CREATE TABLE evan OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_an", cat)
    # pending delete vector: ANALYZE must aggregate the delete-
    # filtered snapshot, not the raw segments
    SQ.execute(spark, "DELETE FROM evan WHERE event_id % 6 = 0", cat)
    SQ.execute(spark, "ANALYZE TABLE evan EXACT", cat)


def _sql_analyze_stats(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE TABLE through the SQL frontend (versioned.analyze):
    one distributed aggregation pass over the head snapshot (pending
    delete vectors applied) computing per-column nulls / NDV / min /
    max, persisted as a version-keyed _stats sidecar and served by
    DESCRIBE STATS. EXACT mode here so the oracle can recompute the
    identical numbers (the default HLL approx-NDV is the one-pass
    100 TB path, pinned separately by tests). min/max stringified for
    a stable cross-engine schema (bigint/string columns only)."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlan", _sql_analyze_builder)
    d = SQ.execute(spark, "DESCRIBE STATS evan", SQ.Catalog(path))
    rows = [(c, s["nulls"], s["ndv"], str(s["min"]), str(s["max"]))
            for c, s in sorted(d["columns"].items())]
    return values_df(
        spark, rows, "col string, nulls bigint, ndv bigint, "
                     "min_s string, max_s string")


_register(
    "sql_analyze_stats",
    _sql_analyze_stats,
    """
    WITH t AS (
      SELECT event_id, event_type, user_id,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM events WHERE event_id % 6 <> 0),
    u AS (
      SELECT 'event_id' AS col, COUNT(*) - COUNT(event_id) AS nulls,
             COUNT(DISTINCT event_id) AS ndv,
             CAST(MIN(event_id) AS VARCHAR) AS min_s,
             CAST(MAX(event_id) AS VARCHAR) AS max_s FROM t
      UNION ALL
      SELECT 'event_type', COUNT(*) - COUNT(event_type),
             COUNT(DISTINCT event_type),
             CAST(MIN(event_type) AS VARCHAR),
             CAST(MAX(event_type) AS VARCHAR) FROM t
      UNION ALL
      SELECT 'user_id', COUNT(*) - COUNT(user_id),
             COUNT(DISTINCT user_id),
             CAST(MIN(user_id) AS VARCHAR),
             CAST(MAX(user_id) AS VARCHAR) FROM t
      UNION ALL
      SELECT 'value_cents', COUNT(*) - COUNT(value_cents),
             COUNT(DISTINCT value_cents),
             CAST(MIN(value_cents) AS VARCHAR),
             CAST(MAX(value_cents) AS VARCHAR) FROM t)
    SELECT col, CAST(nulls AS BIGINT) AS nulls,
           CAST(ndv AS BIGINT) AS ndv, min_s, max_s
    FROM u
    """,
)


def _sql_copy_stream_builder(spark: SparkSession, sf: str,
                             path: str) -> None:
    import os as _os
    import shutil as _shutil

    from .. import sql as SQ

    cat = SQ.Catalog(_os.path.join(path, "cat"))
    src = _os.path.join(path, "landing")
    _os.makedirs(src)
    seed = _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))

    def _drop(df, n):
        stage = _os.path.join(path, f".stage{n}")
        df.coalesce(1).write.json(stage)
        for f in _os.listdir(stage):
            if f.endswith(".json"):
                _os.rename(_os.path.join(stage, f),
                           _os.path.join(src, f"w{n}-{f}"))
        _shutil.rmtree(stage)

    SQ.execute(spark, "CREATE TABLE evst (event_id BIGINT, event_type "
                      "STRING, value_cents BIGINT) OPTIONS "
                      "(key='event_id', buckets=4)", cat)
    _drop(seed.where(F.col("event_id") % 3 == 0), 0)
    SQ.execute(spark, f"START COPY STREAM FROM '{src}' INTO evst "
                      f"OPTIONS (format='ndjson')", cat)
    q = SQ._STREAMS[SQ._copy_stream_key(cat, "evst")]
    try:
        q.processAllAvailable()
        # second wave: only the newly-landed files are read
        _drop(seed.where(F.col("event_id") % 3 == 1), 1)
        q.processAllAvailable()
    finally:
        SQ.execute(spark, "STOP COPY STREAM ON evst", cat)


def _sql_copy_stream_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous file ingest through the SQL frontend (START COPY
    STREAM → streaming/sink.start_file_ingest_stream): two waves of
    ndjson files land in a directory; each micro-batch reads only the
    NEW files (incremental file index) with the TABLE's declared
    schema and commits through the exactly-once versioned sink into a
    BUCKETED table (per-bucket hash routing). Deterministic end
    state: exactly the union of the files fed in. Oracle: the same
    set algebra over `events`. Reference parity: the indexer's
    incremental ingest loop (IW:136-143) as a continuous stream."""
    import os as _os

    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlst", _sql_copy_stream_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evst",
        SQ.Catalog(_os.path.join(path, "cat")))


_register(
    "sql_copy_stream_ingest",
    _sql_copy_stream_ingest,
    """
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events WHERE event_id % 3 < 2
    """,
)


def _sql_constraint_builder(spark: SparkSession, sf: str,
                            path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_ck")
    SQ.execute(spark, "CREATE TABLE evck OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_ck "
                      "WHERE event_id % 4 < 3", cat)
    SQ.execute(spark, "ALTER TABLE evck ADD CONSTRAINT pos "
                      "CHECK (value_cents >= 0)", cat)
    # a violating INSERT must fail IN the write job and commit NOTHING
    try:
        SQ.execute(spark, "INSERT INTO evck SELECT event_id + "
                          "10000000, event_type, -1 FROM "
                          "events_seed_ck WHERE event_id % 50 = 0",
                   cat)
        raise AssertionError("violating INSERT was not refused")
    except AssertionError:
        raise
    except Exception:
        pass  # the expected constraint failure
    # clean rows flow; DROP lifts the gate for the final insert
    SQ.execute(spark, "INSERT INTO evck SELECT * FROM events_seed_ck "
                      "WHERE event_id % 4 = 3", cat)
    SQ.execute(spark, "ALTER TABLE evck DROP CONSTRAINT pos", cat)
    SQ.execute(spark, "INSERT INTO evck SELECT event_id + 20000000, "
                      "'neg', CAST(-7 AS BIGINT) FROM events_seed_ck "
                      "WHERE event_id % 500 = 0", cat)


def _sql_check_constraint_gate(spark: SparkSession, sf: str
                               ) -> DataFrame:
    """CHECK constraints through the SQL frontend (versioned.
    add_constraint / _apply_constraints): existing data validated at
    ADD, then every later batch enforced INLINE in its write job — a
    violating INSERT fails before any commit (proved by the final
    state carrying none of its rows), clean batches flow, and DROP
    CONSTRAINT lifts the gate. Oracle: set algebra over `events` —
    the violating insert contributes NOTHING."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlck", _sql_constraint_builder)
    return SQ.execute(
        spark,
        "SELECT event_id, event_type, value_cents FROM evck",
        SQ.Catalog(path))


_register(
    "sql_check_constraint_gate",
    _sql_check_constraint_gate,
    """
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    UNION ALL
    SELECT event_id + 20000000 AS event_id, 'neg' AS event_type,
           CAST(-7 AS BIGINT) AS value_cents
    FROM events WHERE event_id % 500 = 0
    """,
)


def _sql_ts_travel_builder(spark: SparkSession, sf: str,
                           path: str) -> None:
    import time as _time

    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).createOrReplaceTempView("events_seed_ts")
    SQ.execute(spark, "CREATE TABLE evts OPTIONS (key='event_id') AS "
                      "SELECT * FROM events_seed_ts "
                      "WHERE event_id % 2 = 0", cat)
    SQ.execute(spark, "DELETE FROM evts WHERE event_id % 4 = 0", cat)
    SQ.execute(spark, "INSERT INTO evts SELECT * FROM events_seed_ts "
                      "WHERE event_id % 2 = 1", cat)
    # spread the commit clock deterministically (real commits can land
    # within one clock tick) — rewrites committed_at, the clock
    # TIMESTAMP AS OF actually resolves against
    from ..sources import versioned as VT

    tpath = cat.get("evts")["path"]
    now = _time.time()
    for i, v in enumerate(VT._manifest_versions(tpath)):
        VT._rewrite_commit_epoch(tpath, v, now - 100 + i * 10)


def _sql_timestamp_time_travel(spark: SparkSession, sf: str
                               ) -> DataFrame:
    """TIMESTAMP AS OF time travel through the SQL frontend: the
    timestamp literal resolves against the commit clock DESCRIBE
    HISTORY reports (manifest mtime — the same clock vacuum's
    retention guard uses) to the largest version at-or-before it,
    then reads exactly that snapshot. One frame unions the
    mid-history state (post-DELETE v2, addressed by ITS timestamp)
    with the head. Oracle: set algebra over `events`."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "sqlts", _sql_ts_travel_builder)
    cat = SQ.Catalog(path)
    hist = SQ.execute(spark, "DESCRIBE HISTORY evts", cat)
    ts2 = hist[1]["timestamp"]
    return SQ.execute(spark, (
        f"SELECT event_id, event_type, value_cents, 'v2' AS at "
        f"FROM evts TIMESTAMP AS OF '{ts2}' "
        f"UNION ALL "
        f"SELECT event_id, event_type, value_cents, 'head' AS at "
        f"FROM evts"), cat)


_register(
    "sql_timestamp_time_travel",
    _sql_timestamp_time_travel,
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM events)
    SELECT event_id, event_type, value_cents, 'v2' AS at
    FROM s WHERE event_id % 2 = 0 AND event_id % 4 <> 0
    UNION ALL
    SELECT event_id, event_type, value_cents, 'head' AS at
    FROM s WHERE event_id % 4 <> 0
    """,
)


# ===========================================================================
# Maintained full-text (BM25) index view (sources/textindex.py):
# postings parity + indexed-query parity over a post-DML refreshed
# index — the secondary-index kind for ranked text queries.
# ===========================================================================

_TI_CORPUS_SQL = (
    "(SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0 "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text "
    "FROM documents WHERE doc_id % 13 = 0)"
)


def _ti_index_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "documents").select("doc_id", "text") \
        .createOrReplaceTempView("docs_seed_ti")
    SQ.execute(spark, "CREATE TABLE tidocs OPTIONS (key='doc_id') AS "
                      "SELECT * FROM docs_seed_ti", cat)
    SQ.execute(spark, "CREATE MATERIALIZED VIEW tiidx USING "
                      "text_index OPTIONS (source='tidocs', "
                      "key='doc_id')", cat)
    # r13: migrate the postings to the term-hash-bucketed AT-REST
    # layout BEFORE the churn — the refresh below then exercises the
    # bucketed delete_and_append twin and queries read ONLY the query
    # terms' buckets' segment files (file pruning, plan-asserted in
    # tests/test_textindex.py); the oracle recomputes from the
    # corpus, so the bucketed path must stay hash-exact
    SQ.execute(spark, "OPTIMIZE tiidx BUCKET BY (term, 16)", cat)
    # churn the corpus, then advance the index O(changed docs): the
    # oracle checks the POST-DML state, so a stale or over-retracted
    # index cannot pass
    SQ.execute(spark, "DELETE FROM tidocs WHERE doc_id % 17 = 0", cat)
    SQ.execute(spark, "INSERT INTO tidocs SELECT doc_id + 1000000, "
                      "text FROM docs_seed_ti WHERE doc_id % 13 = 0",
               cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW tiidx", cat)


def _ti_postings(spark: SparkSession, sf: str) -> DataFrame:
    """Maintained BM25 postings table (CREATE MATERIALIZED VIEW ...
    USING text_index): the inverted (term, doc_id, tf, dl) index over
    a versioned source, kept in sync through the CDC log — this row
    reads the postings AFTER a delete+insert interval and an
    O(changed docs) REFRESH, so retraction (doc-key delete vector)
    and append must both be exact. Oracle: postings recomputed from
    the post-DML corpus with the same tokenizer."""
    from ..sources import textindex as TI

    path = _vt_build(spark, sf, "tiidx", _ti_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    return TI.read_text_index(spark, cat.get("tiidx")["path"])


_register(
    "ti_postings",
    _ti_postings,
    f"""
    WITH tk AS (
      SELECT doc_id, {tokens_sql("text")} AS toks
      FROM {_TI_CORPUS_SQL}),
    ex AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             unnest(toks) AS term
      FROM tk)
    SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf, dl
    FROM ex GROUP BY term, doc_id, dl
    """,
)


def _ti_bm25_indexed_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-10 scored FROM the maintained postings index
    (textindex.query_text_index): reads only the query terms' posting
    rows + the spec's exact integer corpus stats — O(matching
    postings), never a corpus scan — and must produce the SAME scores,
    filter, ordering, and tie-break as the batch scorer
    (retrieval.bm25_topk) over the post-DML corpus. Oracle: the
    text_bm25_topk oracle SQL retargeted at that corpus; bm25 rounded
    to 6 dp in both engines (repo rule for transcendental floats)."""
    from ..sources import textindex as TI

    path = _vt_build(spark, sf, "tiidx", _ti_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    out = TI.query_text_index(spark, cat.get("tiidx")["path"],
                              BM25_TERMS, k=10)
    return out.withColumn("bm25", F.round("bm25", 6))


_register(
    "ti_bm25_indexed_topk",
    _ti_bm25_indexed_topk,
    _bm25_sql(BM25_TERMS, topk=10).replace("FROM documents",
                                           f"FROM {_TI_CORPUS_SQL}"),
)


# ===========================================================================
# Maintained ANN (hyperplane-LSH) index view (sources/annindex.py):
# indexed multiprobe query parity over a post-DML refreshed index.
# ===========================================================================

_AI_CORPUS_SQL = (
    "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 11 <> 0 "
    "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding "
    "FROM embeddings WHERE vec_id % 13 = 0)"
)


def _ai_index_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "embeddings").select("vec_id", "embedding") \
        .createOrReplaceTempView("embs_seed_ai")
    SQ.execute(spark, "CREATE TABLE aivecs OPTIONS (key='vec_id') AS "
                      "SELECT * FROM embs_seed_ai", cat)
    SQ.execute(spark, "CREATE MATERIALIZED VIEW aiidx USING ann_index "
                      "OPTIONS (source='aivecs', key='vec_id', "
                      "n_planes=4)", cat)
    # r12: migrate the index to the hash-bucketed AT-REST layout
    # BEFORE the churn — the refresh below then exercises the bucketed
    # delete_and_append twin and the query reads ONLY the probed
    # physical buckets' segment files (file pruning, plan-asserted in
    # tests/test_annindex.py); the oracle recomputes from the corpus,
    # so the bucketed path must stay hash-exact
    SQ.execute(spark, "OPTIMIZE aiidx BUCKET BY (bucket, 8)", cat)
    SQ.execute(spark, "DELETE FROM aivecs WHERE vec_id % 11 = 0", cat)
    SQ.execute(spark, "INSERT INTO aivecs SELECT vec_id + 1000000, "
                      "embedding FROM embs_seed_ai "
                      "WHERE vec_id % 13 = 0", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW aiidx", cat)


def _ai_lsh_indexed_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Multiprobe LSH top-10 served FROM the maintained ANN index
    (CREATE MATERIALIZED VIEW ... USING ann_index): buckets are
    precomputed at WRITE time and kept in sync through the CDC log
    (this row queries AFTER a delete+insert interval and an O(changed
    rows) REFRESH), so the query filters the stored bucket column to
    the probe set and scores only those rows — O(probe fraction),
    never a corpus re-bucketing pass. Same probe set / planes / exact
    dot scoring / tie-break as ann.lsh_topk_multiprobe. Oracle: the
    multiprobe oracle SQL retargeted at the post-DML corpus."""
    from ..sources import annindex as AI

    path = _vt_build(spark, sf, "aiidx", _ai_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    return AI.query_ann_index(spark, cat.get("aiidx")["path"],
                              QV_ZEBRA, k=10, n_probe_bits=1)


_register(
    "ai_lsh_indexed_topk",
    _ai_lsh_indexed_topk,
    f"""
    SELECT vec_id, {dot_sql('embedding', QV_ZEBRA)} AS score
    FROM {_AI_CORPUS_SQL}
    WHERE {bucket_sql('embedding', PLANES4)}
          IN ({', '.join(str(b) for b in _AI_MP_PROBES)})
    ORDER BY score DESC, vec_id LIMIT 10
    """,
)


def _hybrid_indexed_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval FROM the two maintained indexes (the capstone
    composition): the lexical side is BM25 top-50 from the postings
    index, the vector side is multiprobe-LSH top-50 from the ANN
    index — each O(its selection), neither a corpus scan — fused by
    reciprocal-rank (retrieval.rrf_fusion). Both indexes are the
    post-DML refreshed fixtures, so the row also re-proves their
    maintenance. Oracle: both sides recomputed set-algebraically over
    their churned corpora, same ranks, same fusion arithmetic."""
    from ..operators import retrieval
    from ..sources import annindex as AI
    from ..sources import textindex as TI

    import os as _os

    from .. import sql as SQ

    tpath = _vt_build(spark, sf, "tiidx", _ti_index_builder)
    apath = _vt_build(spark, sf, "aiidx", _ai_index_builder)
    text_side = TI.query_text_index(
        spark, SQ.Catalog(tpath).get("tiidx")["path"],
        BM25_TERMS, k=50)
    vec_side = AI.query_ann_index(
        spark, SQ.Catalog(apath).get("aiidx")["path"],
        QV_ZEBRA, k=50, n_probe_bits=1).withColumnRenamed(
        "vec_id", "doc_id")
    return retrieval.rrf_fusion(text_side, vec_side, k=10, pool=50)


_register(
    "hybrid_indexed_rrf",
    _hybrid_indexed_rrf,
    f"""
    WITH txt AS ({_bm25_sql(BM25_TERMS, topk=50).replace(
        "FROM documents", f"FROM {_TI_CORPUS_SQL}")}),
    tr AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                       AS BIGINT) AS t_rank
           FROM txt),
    vec AS (SELECT vec_id AS doc_id,
                   {dot_sql('embedding', QV_ZEBRA)} AS score
            FROM {_AI_CORPUS_SQL}
            WHERE {bucket_sql('embedding', PLANES4)}
                  IN ({', '.join(str(b) for b in _AI_MP_PROBES)})
            ORDER BY score DESC, doc_id LIMIT 50),
    vr AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                       AS BIGINT) AS v_rank
           FROM vec),
    fused AS (
      SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, t_rank, v_rank,
             (COALESCE({_f(1.0)} / ({_f(60.0)} + CAST(t_rank AS DOUBLE)), {_f(0.0)})
              + COALESCE({_f(1.0)} / ({_f(60.0)} + CAST(v_rank AS DOUBLE)), {_f(0.0)})) AS rrf
      FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id)
    SELECT doc_id, t_rank, v_rank, rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)


# ===========================================================================
# SQL table functions over the maintained indexes (sql/_reads.py
# _rewrite_index_searches): TEXT_SEARCH / ANN_SEARCH drive the SAME
# index-served plans through SQ.execute — the idiomatic SQL surface
# the r11 verdict asked for. Oracles: the ti_/ai_ rows' recompute-
# from-scratch SQL, so the rewrite layer cannot hide a wrong answer.
# ===========================================================================


def _sql_text_search_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-10 through the SQL frontend's TEXT_SEARCH table
    function — parses, rewrites to the postings-index query
    (textindex.query_text_index, term IN-list pushed to the scan),
    and composes with an outer SELECT's round(). Same post-DML
    refreshed fixture as ti_bm25_indexed_topk."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "tiidx", _ti_index_builder)
    cat = SQ.Catalog(path)
    terms = " ".join(BM25_TERMS)
    return SQ.execute(spark, (
        f"SELECT doc_id, round(bm25, 6) AS bm25 "
        f"FROM TEXT_SEARCH('tiidx', '{terms}', 10)"), cat)


_register(
    "sql_text_search_topk",
    _sql_text_search_topk,
    _bm25_sql(BM25_TERMS, topk=10).replace("FROM documents",
                                           f"FROM {_TI_CORPUS_SQL}"),
)


def _sql_ann_search_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Multiprobe-LSH top-10 through the SQL frontend's ANN_SEARCH
    table function over the BUCKETED index state (the fixture runs
    OPTIMIZE ... BUCKET BY (bucket, 8) before the churn) — the query
    names only the probed physical buckets' segment files in its scan.
    Same probe set / scoring / tie-break as ai_lsh_indexed_topk."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "aiidx", _ai_index_builder)
    cat = SQ.Catalog(path)
    arr = ", ".join(repr(float(x)) for x in QV_ZEBRA)
    return SQ.execute(spark, (
        f"SELECT vec_id, score "
        f"FROM ANN_SEARCH('aiidx', array({arr}), 10, 1)"), cat)


_register(
    "sql_ann_search_topk",
    _sql_ann_search_topk,
    f"""
    SELECT vec_id, {dot_sql('embedding', QV_ZEBRA)} AS score
    FROM {_AI_CORPUS_SQL}
    WHERE {bucket_sql('embedding', PLANES4)}
          IN ({', '.join(str(b) for b in _AI_MP_PROBES)})
    ORDER BY score DESC, vec_id LIMIT 10
    """,
)


# ===========================================================================
# Positional postings: exact-phrase top-k from the maintained text
# index (textindex.query_phrase_index / SQL PHRASE_SEARCH) — the
# serving-latency form of the n-gram contamination check.
# ===========================================================================


def _ti_pos_index_builder(spark: SparkSession, sf: str,
                          path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "documents").select("doc_id", "text") \
        .createOrReplaceTempView("docs_seed_tip")
    SQ.execute(spark, "CREATE TABLE tipdocs OPTIONS (key='doc_id') AS "
                      "SELECT * FROM docs_seed_tip", cat)
    SQ.execute(spark, "CREATE MATERIALIZED VIEW tipidx USING "
                      "text_index OPTIONS (source='tipdocs', "
                      "key='doc_id', positions=true, buckets=16)",
               cat)
    # (buckets=16: the positional index lives on the term-hash-
    # bucketed at-rest layout from creation — phrase queries name
    # only the phrase terms' buckets' files in the plan)
    # churn + O(changed docs) refresh: the oracle recomputes the
    # POST-DML adjacency counts, so stale or mis-positioned postings
    # cannot pass
    SQ.execute(spark, "DELETE FROM tipdocs WHERE doc_id % 17 = 0", cat)
    SQ.execute(spark, "INSERT INTO tipdocs SELECT doc_id + 1000000, "
                      "text FROM docs_seed_tip WHERE doc_id % 13 = 0",
               cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW tipidx", cat)


_TI_PHRASE = "value table"


def _ti_phrase_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-phrase top-10 through SQL PHRASE_SEARCH over the
    positional postings index (positions stored at WRITE time,
    maintained O(changed docs) through the same delete_and_append
    refresh): counts adjacency chains — term i at offset p+i — with
    JVM array functions over only the phrase terms' posting rows.
    Deterministic integer scores; ranked (phrase_tf DESC, doc_id).
    Oracle: DuckDB recomputes the chain count from the post-DML
    corpus with the twin tokenizer."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "tipidx", _ti_pos_index_builder)
    cat = SQ.Catalog(path)
    return SQ.execute(spark, (
        f"SELECT doc_id, phrase_tf "
        f"FROM PHRASE_SEARCH('tipidx', '{_TI_PHRASE}', 10)"), cat)


def _phrase_sql(phrase: str, topk: int) -> str:
    ts = phrase.split()
    m = len(ts)
    conds = " AND ".join(
        f"toks[i + {i}] = '{t}'" for i, t in enumerate(ts))
    return f"""
    WITH tk AS (
      SELECT doc_id, {tokens_sql("text")} AS toks
      FROM {_TI_CORPUS_SQL}),
    pf AS (
      SELECT doc_id,
             CAST(len(list_filter(range(1, greatest(len(toks) - {m}
                                                    + 2, 1)),
                  i -> {conds})) AS BIGINT) AS phrase_tf
      FROM tk)
    SELECT doc_id, phrase_tf FROM pf WHERE phrase_tf > 0
    ORDER BY phrase_tf DESC, doc_id LIMIT {topk}
    """


_register(
    "ti_phrase_topk",
    _ti_phrase_topk,
    _phrase_sql(_TI_PHRASE, 10),
)


def _hy_index_builder(spark: SparkSession, sf: str, path: str) -> None:
    """BOTH maintained indexes in ONE catalog (the pure-SQL hybrid row
    needs a single statement to reach both): same corpora, churn, and
    refreshes as the ti/ai fixtures."""
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "documents").select("doc_id", "text") \
        .createOrReplaceTempView("docs_seed_hy")
    _t(spark, sf, "embeddings").select("vec_id", "embedding") \
        .createOrReplaceTempView("embs_seed_hy")
    SQ.execute(spark, "CREATE TABLE hydocs OPTIONS (key='doc_id') AS "
                      "SELECT * FROM docs_seed_hy", cat)
    SQ.execute(spark, "CREATE TABLE hyvecs OPTIONS (key='vec_id') AS "
                      "SELECT * FROM embs_seed_hy", cat)
    SQ.execute(spark, "CREATE MATERIALIZED VIEW hyti USING text_index "
                      "OPTIONS (source='hydocs', key='doc_id')", cat)
    SQ.execute(spark, "CREATE MATERIALIZED VIEW hyai USING ann_index "
                      "OPTIONS (source='hyvecs', key='vec_id', "
                      "n_planes=4, buckets=8)", cat)
    SQ.execute(spark, "DELETE FROM hydocs WHERE doc_id % 17 = 0", cat)
    SQ.execute(spark, "INSERT INTO hydocs SELECT doc_id + 1000000, "
                      "text FROM docs_seed_hy WHERE doc_id % 13 = 0",
               cat)
    SQ.execute(spark, "DELETE FROM hyvecs WHERE vec_id % 11 = 0", cat)
    SQ.execute(spark, "INSERT INTO hyvecs SELECT vec_id + 1000000, "
                      "embedding FROM embs_seed_hy "
                      "WHERE vec_id % 13 = 0", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW hyti", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW hyai", cat)


def _sql_hybrid_search_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """The hybrid capstone in PURE SQL: one statement composes
    TEXT_SEARCH + ANN_SEARCH (each index-served — postings IN-list /
    bucketed probe read) with rank windows and the RRF arithmetic —
    no Python operator in the loop, proving the table functions
    compose with full Spark SQL. Oracle: the hybrid_indexed_rrf
    recompute-from-scratch SQL (same corpora, same churn)."""
    from .. import sql as SQ

    path = _vt_build(spark, sf, "hyidx", _hy_index_builder)
    cat = SQ.Catalog(path)
    terms = " ".join(BM25_TERMS)
    arr = ", ".join(repr(float(x)) for x in QV_ZEBRA)
    return SQ.execute(spark, f"""
        WITH tr AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                      AS BIGINT) AS t_rank
          FROM TEXT_SEARCH('hyti', '{terms}', 50)),
        vr AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                      AS BIGINT) AS v_rank
          FROM (SELECT vec_id AS doc_id, score
                FROM ANN_SEARCH('hyai', array({arr}), 50, 1))),
        fused AS (
          SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, t_rank,
                 v_rank,
                 (COALESCE(1.0D / (60.0D + CAST(t_rank AS DOUBLE)),
                           0.0D)
                  + COALESCE(1.0D / (60.0D + CAST(v_rank AS DOUBLE)),
                             0.0D)) AS rrf
          FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id)
        SELECT doc_id, t_rank, v_rank, rrf FROM fused
        ORDER BY rrf DESC, doc_id LIMIT 10""", cat)


_register(
    "sql_hybrid_search_rrf",
    _sql_hybrid_search_rrf,
    f"""
    WITH txt AS ({_bm25_sql(BM25_TERMS, topk=50).replace(
        "FROM documents", f"FROM {_TI_CORPUS_SQL}")}),
    tr AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                       AS BIGINT) AS t_rank
           FROM txt),
    vec AS (SELECT vec_id AS doc_id,
                   {dot_sql('embedding', QV_ZEBRA)} AS score
            FROM {_AI_CORPUS_SQL}
            WHERE {bucket_sql('embedding', PLANES4)}
                  IN ({', '.join(str(b) for b in _AI_MP_PROBES)})
            ORDER BY score DESC, doc_id LIMIT 50),
    vr AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                       AS BIGINT) AS v_rank
           FROM vec),
    fused AS (
      SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, t_rank, v_rank,
             (COALESCE({_f(1.0)} / ({_f(60.0)} + CAST(t_rank AS DOUBLE)), {_f(0.0)})
              + COALESCE({_f(1.0)} / ({_f(60.0)} + CAST(v_rank AS DOUBLE)), {_f(0.0)})) AS rrf
      FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id)
    SELECT doc_id, t_rank, v_rank, rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)


def _ai_knn_join_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table approximate k-NN JOIN served FROM the maintained
    ANN index (annindex.knn_join_via_index): the corpus side's bucket
    column is precomputed at write time (no per-call corpus bucketing
    pass) and the scale guard's right count comes from the manifest
    (zero jobs). Left = a query corpus slice bucketed once + probe-
    mask exploded; one bucket equi-join; per-left top-3 window —
    row-identical to ann.lsh_knn_join over the post-DML source.
    Oracle: the lsh_knn_join SQL twin retargeted at the churned
    corpus."""
    from ..sources import annindex as AI

    path = _vt_build(spark, sf, "aiidx", _ai_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    left = _t(spark, sf, "embeddings").select("vec_id", "embedding") \
        .where(F.col("vec_id") % 17 == 0)
    out = AI.knn_join_via_index(
        spark, left, cat.get("aiidx")["path"], k=3, n_probe_bits=1)
    return out.withColumn("cosine", F.round("cosine", 9))


_register(
    "ai_knn_join_indexed",
    _ai_knn_join_indexed,
    f"""
    WITH l AS (
      SELECT vec_id AS id_a, embedding AS va,
             {bucket_sql('embedding', PLANES4)} AS b0
      FROM embeddings WHERE vec_id % 17 = 0),
    lp AS (
      SELECT id_a, va, CAST(xor(b0, m) AS BIGINT) AS bucket
      FROM l CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS m)),
    r AS (
      SELECT vec_id AS id_b, embedding AS vb,
             {bucket_sql('embedding', PLANES4)} AS bucket
      FROM {_AI_CORPUS_SQL}),
    c AS (
      SELECT id_a, id_b, {dot2_sql('va', 'vb')} AS cosine
      FROM lp JOIN r USING (bucket)),
    ranked AS (
      -- rank on the UNROUNDED cosine (the Spark side does), round
      -- only for output: rounding before ranking could flip a
      -- sub-1e-9 near-tie's order between the engines
      SELECT id_a, id_b, cosine,
             row_number() OVER (PARTITION BY id_a
                                ORDER BY cosine DESC, id_b) AS rnk
      FROM c)
    SELECT id_a, id_b, round(cosine, 9) AS cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)


def _sql_knn_join_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """The indexed k-NN join through the SQL frontend's KNN_JOIN table
    function (sql/_reads.py): KNN_JOIN('aiidx', left_table, 3, 1)
    rewrites to annindex.knn_join_via_index with the index spec's
    key/vec_col and composes with an outer SELECT's round() + ORDER —
    the r13 SQL surface for the cross-table alignment primitive.
    Same fixture/oracle as ai_knn_join_indexed, so the rewrite layer
    cannot hide a wrong answer."""
    path = _vt_build(spark, sf, "aiidx", _ai_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "embeddings").select("vec_id", "embedding") \
        .where(F.col("vec_id") % 17 == 0) \
        .createOrReplaceTempView("knn_left_sql")
    return SQ.execute(spark, (
        "SELECT id_a, id_b, round(cosine, 9) AS cosine, rnk "
        "FROM KNN_JOIN('aiidx', knn_left_sql, 3, 1)"), cat)


_register(
    "sql_knn_join_indexed",
    _sql_knn_join_indexed,
    f"""
    WITH l AS (
      SELECT vec_id AS id_a, embedding AS va,
             {bucket_sql('embedding', PLANES4)} AS b0
      FROM embeddings WHERE vec_id % 17 = 0),
    lp AS (
      SELECT id_a, va, CAST(xor(b0, m) AS BIGINT) AS bucket
      FROM l CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS m)),
    r AS (
      SELECT vec_id AS id_b, embedding AS vb,
             {bucket_sql('embedding', PLANES4)} AS bucket
      FROM {_AI_CORPUS_SQL}),
    c AS (
      SELECT id_a, id_b, {dot2_sql('va', 'vb')} AS cosine
      FROM lp JOIN r USING (bucket)),
    ranked AS (
      SELECT id_a, id_b, cosine,
             row_number() OVER (PARTITION BY id_a
                                ORDER BY cosine DESC, id_b) AS rnk
      FROM c)
    SELECT id_a, id_b, round(cosine, 9) AS cosine,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)


# ===========================================================================
# Maintained IVF (inverted-file) index view (sources/ivfindex.py):
# indexed probe query parity — EXACT re-rank tier — over a post-DML
# refreshed index with FROZEN centroids.
# ===========================================================================

# explicit deterministic centroids (unit vectors from the repo's
# seeded generator): the oracle can then recompute the argmax cell
# assignment from the same literals — a kmeans-trained quantizer's
# centroids depend on the data and could not be embedded in a static
# oracle string (the trained path is pinned by recall-floor and
# rebuild-parity tests in tests/test_ivfindex.py instead)
_II_CENTS = _ann.hyperplanes(8, EMB_DIM, seed=7)
_II_NPROBE = 3

_II_CORPUS_SQL = (
    "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 0 "
    "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding "
    "FROM embeddings WHERE vec_id % 11 = 0)"
)


def _ii_index_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ
    from ..sources import ivfindex as II

    cat = SQ.Catalog(path)
    _t(spark, sf, "embeddings").select("vec_id", "embedding") \
        .createOrReplaceTempView("embs_seed_ii")
    SQ.execute(spark, "CREATE TABLE iivecs OPTIONS (key='vec_id') AS "
                      "SELECT * FROM embs_seed_ii", cat)
    # explicit centroids (deterministic literals the oracle shares);
    # registered into the catalog like the USING form would
    vp = cat.path_for("iiidx")
    II.create_ivf_index(spark, cat.get("iivecs")["path"], vp,
                        key="vec_id", centroids=_II_CENTS)
    cat.register("iiidx", vp, kind="ivf_index", require_path=True)
    # bucketed at-rest layout + churn + O(changed rows) refresh under
    # the frozen centroids: the oracle recomputes assignment from the
    # post-DML corpus, so a stale cell or a moved centroid cannot pass
    SQ.execute(spark, "OPTIMIZE iiidx BUCKET BY (ivf_cell, 8)", cat)
    SQ.execute(spark, "DELETE FROM iivecs WHERE vec_id % 7 = 0", cat)
    SQ.execute(spark, "INSERT INTO iivecs SELECT vec_id + 1000000, "
                      "embedding FROM embs_seed_ii "
                      "WHERE vec_id % 11 = 0", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW iiidx", cat)


def _ii_probe_cells() -> list[int]:
    import numpy as np

    qv = np.asarray(QV_ZEBRA, dtype=np.float64)
    order = np.argsort(-(_II_CENTS @ qv))[:_II_NPROBE]
    return [int(i) for i in order]


def _ii_ivf_indexed_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF probe top-10 served FROM the maintained index through the
    SQL frontend's IVF_SEARCH table function: cells are assigned at
    WRITE time under frozen centroids and kept in sync through the CDC
    log (this row queries AFTER a delete+insert interval and an
    O(changed rows) REFRESH on the BUCKETED at-rest layout); the
    n_probe nearest cells rank driver-side from the spec's stored
    centroids and only their rows are EXACT-dot re-ranked. Oracle:
    DuckDB recomputes each row's argmax cell from the same centroid
    literals (correlated VALUES subquery, ties (s DESC, c DESC) —
    greatest-of-structs' order), filters to the same probe cells, and
    exact-dot ranks."""
    path = _vt_build(spark, sf, "iiidx", _ii_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    arr = ", ".join(repr(float(x)) for x in QV_ZEBRA)
    return SQ.execute(spark, (
        f"SELECT vec_id, round(score, 9) AS score "
        f"FROM IVF_SEARCH('iiidx', array({arr}), 10, {_II_NPROBE})"),
        cat)


def _cell_sql(expr: str) -> str:
    rows = ", ".join(
        f"({i}, {dot_sql(expr, c)})" for i, c in enumerate(_II_CENTS))
    return (f"(SELECT c FROM (VALUES {rows}) AS t(c, s) "
            f"ORDER BY s DESC, c DESC LIMIT 1)")


_register(
    "ii_ivf_indexed_topk",
    _ii_ivf_indexed_topk,
    f"""
    WITH cellof AS (
      SELECT vec_id, embedding, {_cell_sql('embedding')} AS cell
      FROM {_II_CORPUS_SQL})
    SELECT vec_id, round({dot_sql('embedding', QV_ZEBRA)}, 9) AS score
    FROM cellof
    WHERE cell IN ({', '.join(str(c) for c in _ii_probe_cells())})
    ORDER BY score DESC, vec_id LIMIT 10
    """,
)


# ===========================================================================
# IVFADC oracle fixtures (r14, upgrading the r13 rows-only cell to
# hash-exact): EXPLICIT deterministic quantizers — the same trick the
# plain-IVF row uses for its centroids, extended to the residual PQ
# codebooks (8 subspaces x 16 centroids x 8 dims from the repo's
# seeded unit-vector generator) — so DuckDB can recompute the ENTIRE
# pipeline from shared literals: argmax cell, per-subspace residual
# argmin (a VALUES-table ORDER BY ... LIMIT 1 subquery, the _cell_sql
# trick), the ADC LUT score, the 200-row shortlist, and the exact
# re-rank. A kmeans/pq-trained quantizer's weights depend on the data
# and could not be embedded in a static oracle string (the trained
# path stays pinned by tests/test_ivfindex.py recall/rebuild tests).
# ===========================================================================

import numpy as _np  # noqa: E402

_ADC_M, _ADC_KC = 8, 16
_ADC_DSUB = EMB_DIM // _ADC_M
_ADC_BOOKS = _ann.hyperplanes(_ADC_M * _ADC_KC, _ADC_DSUB,
                              seed=11).reshape(_ADC_M, _ADC_KC,
                                               _ADC_DSUB)
_ADC_NPROBE, _ADC_SHORTLIST = 3, 200
_ADC_Q = _np.asarray(QV_ZEBRA, dtype=_np.float64)
# driver-side literals the Spark path computes with the SAME numpy
# calls at query time (ivf_pq_topk: cell_dots = C @ q, lut[m] =
# books[m] @ q_sub) — bit-identical float64 values either way
_ADC_CDOT = _II_CENTS @ _ADC_Q
_ADC_PROBE_CELLS = [int(i) for i in _np.argsort(-_ADC_CDOT)[:_ADC_NPROBE]]


def _adc_cell_sql(expr: str) -> str:
    """argmax-dot cell under the ADC assignment rule: ivf_pq_encode
    assigns via numpy argmax (FIRST max index on ties — c ASC), unlike
    the plain path's greatest-of-structs (c DESC in _cell_sql)."""
    rows = ", ".join(
        f"({i}, {dot_sql(expr, c)})" for i, c in enumerate(_II_CENTS))
    return (f"(SELECT c FROM (VALUES {rows}) AS t(c, s) "
            f"ORDER BY s DESC, c ASC LIMIT 1)")


def _adc_cents_values() -> str:
    """(cell, cdot, cv): cell id, its precomputed q-dot literal, and
    the full centroid vector (a DuckDB list literal) for the residual
    subtraction."""
    return ", ".join(
        f"({i}, {_f(_ADC_CDOT[i])}, "
        f"[{', '.join(_f(x) for x in _II_CENTS[i])}])"
        for i in range(_II_CENTS.shape[0]))


def _adc_lut_sql(m: int) -> str:
    """Subspace m's ADC LUT contribution: per-codebook-centroid argmin
    of the residual distance as a VALUES-table LIMIT 1 subquery.
    ivf_pq_encode's d2 = -2 S.cb + |cb|^2 argmin (first index) ==
    argmax of (S.cb - |cb|^2/2), ties c ASC; the surviving row's ``l``
    is the precomputed literal lut[m][c] = books[m][c] . q_sub — the
    exact float64 ivf_pq_topk's numpy builds at query time."""
    qsub = _ADC_Q[m * _ADC_DSUB:(m + 1) * _ADC_DSUB]
    rows = []
    for c in range(_ADC_KC):
        cb = _ADC_BOOKS[m][c]
        s = " + ".join(f"r{m * _ADC_DSUB + j + 1} * {_f(cb[j])}"
                       for j in range(_ADC_DSUB))
        rows.append(f"(({s}) - {_f(0.5 * float(cb @ cb))}, "
                    f"{_f(float(cb @ qsub))}, {c})")
    return (f"(SELECT l FROM (VALUES {', '.join(rows)}) "
            f"AS t{m}(s, l, c) ORDER BY s DESC, c ASC LIMIT 1)")


_ADC_CORPUS_SQL = (
    "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 9 <> 0 "
    "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding "
    "FROM embeddings WHERE vec_id % 13 = 0)"
)


def _ii_ivfadc_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ
    from ..sources import ivfindex as II

    cat = SQ.Catalog(path)
    _t(spark, sf, "embeddings").select("vec_id", "embedding") \
        .createOrReplaceTempView("embs_seed_adc")
    SQ.execute(spark, "CREATE TABLE adcvecs OPTIONS (key='vec_id') AS "
                      "SELECT * FROM embs_seed_adc", cat)
    # explicit centroids AND residual codebooks (deterministic
    # literals the oracle shares); registered like the USING form —
    # the kmeans/pq-trained SQL-create path keeps its own coverage in
    # tests/test_ivfindex.py::test_ivfadc_*
    vp = cat.path_for("adcidx")
    II.create_ivf_index(spark, cat.get("adcvecs")["path"], vp,
                        key="vec_id", centroids=_II_CENTS,
                        codebooks=_ADC_BOOKS)
    cat.register("adcidx", vp, kind="ivf_index", require_path=True)
    SQ.execute(spark, "OPTIMIZE adcidx BUCKET BY (ivf_cell, 8)", cat)
    SQ.execute(spark, "DELETE FROM adcvecs WHERE vec_id % 9 = 0", cat)
    SQ.execute(spark, "INSERT INTO adcvecs SELECT vec_id + 1000000, "
                      "embedding FROM embs_seed_adc "
                      "WHERE vec_id % 13 = 0", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW adcidx", cat)


def _ii_ivfadc_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVFADC top-10 FROM the maintained index: residual PQ codes
    stored at WRITE time under frozen centroids+codebooks, kept in
    sync O(changed rows) through the CDC refresh (this row queries
    post-DML on the bucketed at-rest layout); the query ADC-scores
    only the probed cells' code rows via one (m_sub x k_cent) LUT,
    shortlists 200, and exact-re-ranks against the index's own
    full-precision column. Hash-exact since r14: the quantizers are
    explicit deterministic literals, so the DuckDB twin recomputes
    codes (per-subspace argmin as VALUES-table LIMIT 1 subqueries),
    ADC scores (shared LUT literals), the (score_adc DESC, key ASC)
    shortlist, and the exact re-rank — a stale code row, a moved
    codebook, or a shortlist off-by-one cannot pass."""
    path = _vt_build(spark, sf, "adcidx", _ii_ivfadc_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    arr = ", ".join(repr(float(x)) for x in QV_ZEBRA)
    return SQ.execute(spark, (
        f"SELECT vec_id, round(score, 9) AS score "
        f"FROM IVF_SEARCH('adcidx', array({arr}), 10, {_ADC_NPROBE}, "
        f"'adc')"), cat)


_register(
    "ii_ivfadc_topk",
    _ii_ivfadc_topk,
    f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM {_ADC_CORPUS_SQL}),
    cellof AS (
      SELECT vec_id, embedding, {_adc_cell_sql('embedding')} AS cell
      FROM corpus),
    cents AS (
      SELECT * FROM (VALUES {_adc_cents_values()}) AS t(cell, cdot, cv)),
    probed AS (
      SELECT vec_id, cdot,
             {', '.join(f'CAST(embedding[{i + 1}] AS DOUBLE) - cv[{i + 1}] AS r{i + 1}'
                        for i in range(EMB_DIM))}
      FROM cellof JOIN cents USING (cell)
      WHERE cell IN ({', '.join(str(c) for c in _ADC_PROBE_CELLS)})),
    adc AS (
      SELECT vec_id,
             cdot + {' + '.join(_adc_lut_sql(m) for m in range(_ADC_M))}
             AS score_adc
      FROM probed),
    short AS (
      SELECT vec_id FROM adc
      ORDER BY score_adc DESC, vec_id ASC LIMIT {_ADC_SHORTLIST})
    SELECT vec_id, round({dot_sql('embedding', QV_ZEBRA)}, 9) AS score
    FROM corpus JOIN short USING (vec_id)
    ORDER BY score DESC, vec_id ASC LIMIT 10
    """,
)


# ===========================================================================
# FILTERED vector search (r14): payload columns (include_cols) stored
# in the maintained indexes + a metadata predicate evaluated INSIDE the
# probed scan (annindex/ivfindex ``where=``; ANN_SEARCH/IVF_SEARCH
# filter argument) — the vector-DB "search with metadata filter"
# feature. The payload column is a derived modular class so the oracle
# recomputes it from vec_id; the semantics pinned here are "top-k
# among probed candidates matching the filter".
# ===========================================================================

_AF_CORPUS_SQL = (
    "(SELECT vec_id, embedding, vec_id % 7 AS category "
    "FROM embeddings WHERE vec_id % 11 <> 0 "
    "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding, "
    "(vec_id + 1000000) % 7 AS category "
    "FROM embeddings WHERE vec_id % 13 = 0)"
)


def _af_index_builder(spark: SparkSession, sf: str, path: str) -> None:
    """afvecs (vec_id, embedding, category) + TWO filtered-capable
    indexes over it: afidx (ann_index, include_cols='category',
    bucketed at rest) and afivf (ivf_index with the explicit _II_CENTS
    the oracle shares, payload included) — then the standard DML churn
    + O(changed rows) REFRESH so the payload column must survive the
    retract+append path too."""
    from .. import sql as SQ
    from ..sources import ivfindex as II

    cat = SQ.Catalog(path)
    _t(spark, sf, "embeddings").select("vec_id", "embedding") \
        .createOrReplaceTempView("embs_seed_af")
    SQ.execute(spark, "CREATE TABLE afvecs OPTIONS (key='vec_id') AS "
                      "SELECT vec_id, embedding, vec_id % 7 AS "
                      "category FROM embs_seed_af", cat)
    SQ.execute(spark, "CREATE MATERIALIZED VIEW afidx USING ann_index "
                      "OPTIONS (source='afvecs', key='vec_id', "
                      "n_planes=4, include_cols='category')", cat)
    SQ.execute(spark, "OPTIMIZE afidx BUCKET BY (bucket, 8)", cat)
    vp = cat.path_for("afivf")
    II.create_ivf_index(spark, cat.get("afvecs")["path"], vp,
                        key="vec_id", centroids=_II_CENTS,
                        include_cols=["category"])
    cat.register("afivf", vp, kind="ivf_index", require_path=True)
    SQ.execute(spark, "OPTIMIZE afivf BUCKET BY (ivf_cell, 8)", cat)
    SQ.execute(spark, "DELETE FROM afvecs WHERE vec_id % 11 = 0", cat)
    SQ.execute(spark, "INSERT INTO afvecs SELECT vec_id + 1000000, "
                      "embedding, (vec_id + 1000000) % 7 "
                      "FROM embs_seed_af WHERE vec_id % 13 = 0", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW afidx", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW afivf", cat)


def _ai_filtered_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered multiprobe-LSH top-10 FROM the maintained ANN index:
    the payload predicate (category = 3) evaluates inside the probed
    candidate scan (parquet-pushed — plan-audited), so the filter
    costs row-group skipping, never a join back to the source. The
    index is post-DML refreshed with the payload riding the
    retract+append path. Oracle: the multiprobe oracle with the same
    predicate recomputed from vec_id."""
    from ..sources import annindex as AI

    path = _vt_build(spark, sf, "afidx", _af_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    return AI.query_ann_index(spark, cat.get("afidx")["path"],
                              QV_ZEBRA, k=10, n_probe_bits=1,
                              where="category = 3")


_register(
    "ai_filtered_topk",
    _ai_filtered_topk,
    f"""
    SELECT vec_id, {dot_sql('embedding', QV_ZEBRA)} AS score
    FROM {_AF_CORPUS_SQL}
    WHERE {bucket_sql('embedding', PLANES4)}
          IN ({', '.join(str(b) for b in _AI_MP_PROBES)})
      AND category = 3
    ORDER BY score DESC, vec_id LIMIT 10
    """,
)


def _sql_ann_filtered_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The same filtered search through the SQL frontend's ANN_SEARCH
    5th argument — shares the operator row's oracle so the rewrite
    layer cannot hide a wrong answer."""
    path = _vt_build(spark, sf, "afidx", _af_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    arr = ", ".join(repr(float(x)) for x in QV_ZEBRA)
    return SQ.execute(spark, (
        f"SELECT vec_id, score FROM ANN_SEARCH('afidx', array({arr}), "
        f"10, 1, 'category = 3')"), cat)


_register(
    "sql_ann_filtered_topk",
    _sql_ann_filtered_topk,
    f"""
    SELECT vec_id, {dot_sql('embedding', QV_ZEBRA)} AS score
    FROM {_AF_CORPUS_SQL}
    WHERE {bucket_sql('embedding', PLANES4)}
          IN ({', '.join(str(b) for b in _AI_MP_PROBES)})
      AND category = 3
    ORDER BY score DESC, vec_id LIMIT 10
    """,
)


def _ii_filtered_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered IVF probe top-10 FROM the maintained IVF index (exact
    re-rank tier, frozen explicit centroids): payload predicate inside
    the probed-cell scan. Oracle: the cell-argmax recompute
    (_cell_sql) with the same predicate."""
    from ..sources import ivfindex as II

    path = _vt_build(spark, sf, "afidx", _af_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    out = II.query_ivf_index(spark, cat.get("afivf")["path"],
                             QV_ZEBRA, k=10, n_probe=_II_NPROBE,
                             where="category = 3")
    return out.withColumn("score", F.round("score", 9))


_register(
    "ii_filtered_topk",
    _ii_filtered_topk,
    f"""
    WITH cellof AS (
      SELECT vec_id, embedding, category,
             {_cell_sql('embedding')} AS cell
      FROM {_AF_CORPUS_SQL})
    SELECT vec_id, round({dot_sql('embedding', QV_ZEBRA)}, 9) AS score
    FROM cellof
    WHERE cell IN ({', '.join(str(c) for c in _ii_probe_cells())})
      AND category = 3
    ORDER BY score DESC, vec_id LIMIT 10
    """,
)


# ===========================================================================
# Batched multi-query serving (r14): M queries in ONE plan
# (annindex.query_ann_index_batch — union of probe sets drives one
# file-pruned scan, broadcast (qid, bucket, qvec) equi-join, per-qid
# window top-k). The oracle recomputes each query's multiprobe answer
# independently and unions them — per query the batch must be
# row-identical to the single-query path.
# ===========================================================================

_BATCH_QS = [(1, QV_ZEBRA), (2, EMBEDDER.embed_text("ocean")),
             (3, EMBEDDER.embed_text("forest"))]


def _batch_probes(qv) -> list[int]:
    import numpy as np

    q = np.asarray(qv, dtype=np.float64)
    qb = int(sum((1 << i) for i, p in enumerate(PLANES4)
                 if float(p @ q) >= 0))
    return sorted({qb} | {qb ^ (1 << i) for i in range(4)})


def _ai_batch_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Three queries served from the maintained ANN index in ONE plan
    over the post-DML refreshed BUCKETED state (the probe union's
    physical buckets resolve driver-side — zero plan-time Spark
    jobs)."""
    from ..sources import annindex as AI

    path = _vt_build(spark, sf, "aiidx", _ai_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    out = AI.query_ann_index_batch(
        spark, cat.get("aiidx")["path"], _BATCH_QS, k=10,
        n_probe_bits=1)
    return out.withColumn("score", F.round("score", 9))


def _batch_q_sql(qid: int, qv) -> str:
    return f"""
    SELECT * FROM (
      SELECT CAST({qid} AS BIGINT) AS qid, vec_id,
             round({dot_sql('embedding', qv)}, 9) AS score
      FROM {_AI_CORPUS_SQL}
      WHERE {bucket_sql('embedding', PLANES4)}
            IN ({', '.join(str(b) for b in _batch_probes(qv))})
      ORDER BY score DESC, vec_id LIMIT 10) q{qid}
    """


_register(
    "ai_batch_topk",
    _ai_batch_topk,
    " UNION ALL ".join(_batch_q_sql(q, v) for q, v in _BATCH_QS),
)


# ===========================================================================
# FILTERED lexical search (r14, completing the filtered-search story
# across ALL THREE index kinds): payload columns on posting rows
# (doc-values-in-postings) + a predicate with search-engine semantics
# — the filter selects WHICH docs are eligible, idf stays GLOBAL (the
# Elasticsearch filtered-query rule), pinned here because it is the
# easy thing to get wrong (pre-filtering the postings would reshape
# df and silently change every score).
# ===========================================================================

_TF_CORPUS_SQL = (
    "(SELECT doc_id, text, doc_id % 3 AS lang "
    "FROM documents WHERE doc_id % 17 <> 0 "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text, "
    "(doc_id + 1000000) % 3 AS lang "
    "FROM documents WHERE doc_id % 13 = 0)"
)


def _tf_index_builder(spark: SparkSession, sf: str, path: str) -> None:
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    _t(spark, sf, "documents").select("doc_id", "text") \
        .createOrReplaceTempView("docs_seed_tf")
    SQ.execute(spark, "CREATE TABLE tfdocs OPTIONS (key='doc_id') AS "
                      "SELECT doc_id, text, doc_id % 3 AS lang "
                      "FROM docs_seed_tf", cat)
    SQ.execute(spark, "CREATE MATERIALIZED VIEW tfidx USING "
                      "text_index OPTIONS (source='tfdocs', "
                      "key='doc_id', include_cols='lang', "
                      "buckets=16)", cat)
    SQ.execute(spark, "DELETE FROM tfdocs WHERE doc_id % 17 = 0", cat)
    SQ.execute(spark, "INSERT INTO tfdocs SELECT doc_id + 1000000, "
                      "text, (doc_id + 1000000) % 3 "
                      "FROM docs_seed_tf WHERE doc_id % 13 = 0", cat)
    SQ.execute(spark, "REFRESH MATERIALIZED VIEW tfidx", cat)


def _ti_filtered_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered BM25 top-10 FROM the maintained postings (payload
    rides every posting row through create AND the retract+append
    refresh): candidates pruned by the predicate AFTER the global-df
    window. Oracle: the BM25 twin scoring the full post-DML corpus,
    filtering docs by the same predicate only at the top-k step — if
    the engine pre-filtered postings (df reshaped), every idf, and
    therefore every hash, would differ."""
    from ..sources import textindex as TI

    path = _vt_build(spark, sf, "tfidx", _tf_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    out = TI.query_text_index(spark, cat.get("tfidx")["path"],
                              BM25_TERMS, k=10, where="lang = 1")
    return out.withColumn("bm25", F.round("bm25", 6))


_register(
    "ti_filtered_topk",
    _ti_filtered_topk,
    _bm25_sql(BM25_TERMS, topk=10,
              topk_where=" AND (doc_id % 3) = 1")
    .replace("FROM documents", f"FROM {_TF_CORPUS_SQL}"),
)


def _sql_text_filtered_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The same filtered lexical search through TEXT_SEARCH's 4th
    argument — shares the operator row's oracle."""
    path = _vt_build(spark, sf, "tfidx", _tf_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    out = SQ.execute(spark, (
        f"SELECT doc_id, bm25 FROM TEXT_SEARCH('tfidx', "
        f"'{' '.join(BM25_TERMS)}', 10, 'lang = 1')"), cat)
    return out.withColumn("bm25", F.round("bm25", 6))


_register(
    "sql_text_filtered_topk",
    _sql_text_filtered_topk,
    _bm25_sql(BM25_TERMS, topk=10,
              topk_where=" AND (doc_id % 3) = 1")
    .replace("FROM documents", f"FROM {_TF_CORPUS_SQL}"),
)


# ===========================================================================
# Batched serving oracle rows for the remaining two kinds (r14): the
# ANN batch row above pins query_ann_index_batch; these pin the text
# and IVF batch twins the same way — per query, the ONE-plan batch
# answer must equal the single-query plan, which the oracle recomputes
# independently per qid and unions.
# ===========================================================================

_TB_QS = [(1, BM25_TERMS), (2, ["model", "data", "vector"])]


def _ti_batch_topk(spark: SparkSession, sf: str) -> DataFrame:
    """M BM25 queries in ONE plan from the maintained postings (union
    term scan + broadcast (qid, term, mult) fan-out + per-qid window;
    df per term from the term-partition window — the union scan leaves
    each term's df unchanged, which this oracle would catch if it
    didn't)."""
    from ..sources import textindex as TI

    path = _vt_build(spark, sf, "tiidx", _ti_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    out = TI.query_text_index_batch(
        spark, cat.get("tiidx")["path"], _TB_QS, k=10)
    return out.withColumn("bm25", F.round("bm25", 6))


def _tb_q_sql(qid: int, terms: list[str]) -> str:
    inner = _bm25_sql(terms, topk=10).replace(
        "FROM documents", f"FROM {_TI_CORPUS_SQL}")
    return (f"SELECT * FROM (SELECT CAST({qid} AS BIGINT) AS qid, "
            f"doc_id, bm25 FROM ({inner}) b{qid}) q{qid}")


_register(
    "ti_batch_topk",
    _ti_batch_topk,
    " UNION ALL ".join(_tb_q_sql(q, t) for q, t in _TB_QS),
)

_IB_QS = [(1, QV_ZEBRA), (2, EMBEDDER.embed_text("ocean"))]


def _ii_batch_cells(qv) -> list[int]:
    import numpy as np

    order = np.argsort(-(_II_CENTS @ np.asarray(qv,
                                                dtype=np.float64)))
    return [int(i) for i in order[:_II_NPROBE]]


def _ii_batch_topk(spark: SparkSession, sf: str) -> DataFrame:
    """M IVF probe queries in ONE plan from the maintained IVF index
    (exact re-rank tier, frozen explicit centroids): the union of
    probed cells drives one file-pruned scan, each query scores only
    its own cells through the broadcast (qid, cell, qvec) frame."""
    from ..sources import ivfindex as II

    path = _vt_build(spark, sf, "afidx", _af_index_builder)
    from .. import sql as SQ

    cat = SQ.Catalog(path)
    out = II.query_ivf_index_batch(
        spark, cat.get("afivf")["path"], _IB_QS, k=10,
        n_probe=_II_NPROBE)
    return out.withColumn("score", F.round("score", 9))


def _ib_q_sql(qid: int, qv) -> str:
    return f"""
    SELECT * FROM (
      WITH cellof AS (
        SELECT vec_id, embedding, {_cell_sql('embedding')} AS cell
        FROM {_AF_CORPUS_SQL})
      SELECT CAST({qid} AS BIGINT) AS qid, vec_id,
             round({dot_sql('embedding', qv)}, 9) AS score
      FROM cellof
      WHERE cell IN ({', '.join(str(c) for c in _ii_batch_cells(qv))})
      ORDER BY score DESC, vec_id LIMIT 10) q{qid}
    """


_register(
    "ii_batch_topk",
    _ii_batch_topk,
    " UNION ALL ".join(_ib_q_sql(q, v) for q, v in _IB_QS),
)
