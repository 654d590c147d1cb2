"""Maintained IVF (inverted-file) index view: the source's embedding
rows stored WITH their nearest-centroid cell, kept in sync through the
CDC log — the coarse-quantizer twin of the LSH ann_index, completing
the ad-hoc ladder's IVF tier (operators/ann.py ivf_assign /
ivf_topk) with O(changed rows) maintenance.

Reference parity: the reference scores every row per query
(rclip_server.py:150-166); the ad-hoc IVF tier prunes that scan but
re-assigns the whole corpus per call (ivf_assign is a map pass over
every row). The maintained index moves assignment to WRITE time: a
refresh costs O(changed rows) (key delete-vector retraction + assigned
rows append, ONE delete_and_append commit), and a query reads only the
``n_probe`` nearest cells' rows — O(probe fraction), never O(corpus).

Centroids are trained ONCE at create time (operators/ann.py
ivf_train_kmeans — deterministic k-means, or caller-provided explicit
centroids) and FROZEN in the manifest spec: retraining on refresh
would force a full corpus re-assignment (O(corpus), the exact cost
the index exists to avoid) and silently reshuffle every cell. This is
the standard IVF maintenance contract (FAISS trains the coarse
quantizer once and adds incrementally); under real distribution
drift, recall decays gracefully and the heal is an explicit re-create
— an operator decision, never an implicit 100 TB rewrite.

Exactness: query_ivf_index ranks cells driver-side from the spec's
stored centroids (KB-sized: n_cells x dim floats in the manifest app
namespace — zero Spark jobs) and exact-dot re-ranks only the probed
cells' rows, so the result is row-identical to ann.ivf_topk over the
current source with the same centroids (pinned by an oracle row
against a DuckDB argmax+dot twin). Joins the matview graph through
the standard marker registry (``ii_source``), so REFRESH / CASCADE /
DESCRIBE / cursor-safe VACUUM / refresh streams all work unchanged.

Scale: the index build is one map pass (assignment is a
greatest-of-structs over literal centroids); at rest the state can be
hash-bucketed on ``ivf_cell`` (convert_index_to_bucketed) so probe
queries skip FILES at manifest resolution — only the probed cells'
buckets' segments are ever named in the plan. The lifecycle it shares
with the other index kinds is one descriptor in indexkind.py, and both
query forms run indexkind's shared path (query_vector, and
query_vector_batch for M queries); this module holds cell assignment,
the spec binding of the probe rule (``_probe_rule``, for both query
forms) and drift governance. The rules themselves live once in
operators/ann.py, shared with the ad-hoc tiers: the nearest-cells
probe (``ann.ivf_probe_rule``), the PQ encode (``ann._pq_argmin``
inside ``ann.ivf_pq_encode``) and the IVFADC scoring and exact
re-rank (``ann._ivf_adc_topk``, which ``method='adc'`` feeds with the
probed candidates).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as VEC
from ..functions.localrel import values_df
from ..operators.ann import (_ivf_adc_topk, ivf_assign, ivf_probe_rule,
                             ivf_train_kmeans)
from . import indexkind as IK
from . import matview as M
from . import versioned as V
from .indexkind import convert_index_to_bucketed  # noqa: F401  (public)
from .matview import _INSERTING, _RETRACTING


def _assigned_rows(df: DataFrame, key: str, vec_col: str,
                   centroids: np.ndarray, codebooks=None,
                   include_cols: tuple[str, ...] = ()) -> DataFrame:
    """(ivf_cell, key, vec[, pq_codes][, payload…]) — plain
    assignment, or (with codebooks) the IVFADC encode: cell + residual
    PQ codes + the full-precision vector for the exact re-rank tier,
    all in ONE Arrow pass (ann.ivf_pq_encode keep_cols).
    ``include_cols`` ride along as filterable payload."""
    inc = list(include_cols)
    if codebooks is None:
        a = ivf_assign(df, centroids, id_col=key, vec_col=vec_col,
                       keep_cols=inc)
        return a.select("ivf_cell", key, vec_col, *inc)
    from ..operators.ann import ivf_pq_encode

    enc = ivf_pq_encode(df, centroids, np.asarray(codebooks),
                        id_col=key, vec_col=vec_col,
                        keep_cols=[vec_col] + inc)
    return enc.select("ivf_cell", key, vec_col, "pq_codes", *inc)


def create_ivf_index(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    vec_col: str = "embedding", n_cells: int = 8, iters: int = 3,
    init: str = "first_k", centroids=None, dim: int | None = None,
    pq_m: int | None = None, pq_k: int = 64, pq_iters: int = 10,
    pq_sample: int = 4096, pq_seed: int = 42, codebooks=None,
    include_cols: list[str] | None = None,
) -> int:
    """Train centroids over the source's head (or take explicit
    ``centroids`` — deterministic external quantizers, test fixtures),
    materialize the assigned rows, and record spec + cursor + the
    full centroid matrix (exact float64 round-trip through the
    manifest JSON). Explicit centroids are UNIT-NORMALIZED like the
    kmeans path's output: assignment is by max dot product
    (ivf_assign), which equals nearest-centroid only for constant-norm
    centroids — silently honoring non-unit rows would change
    assignment semantics. Rows already unit within 1e-9 are stored
    BIT-AS-GIVEN (re-dividing by a 1±1ulp norm would perturb
    deterministic oracle fixtures for zero semantic gain).

    ``pq_m`` turns the index into IVFADC (Jegou/Douze/Schmid 2011):
    residual PQ codebooks (``pq_m`` subspaces × ``pq_k`` centroids)
    train ONCE on a deterministic min-key sample of the head
    (``pq_sample`` rows driver-side — the standard recipe: codebooks
    need a sample, not the corpus), freeze in the spec alongside the
    centroids, and every row additionally stores its ``pq_codes`` —
    queries can then score candidates from the code bytes (method=
    'adc' on query_ivf_index) and exact-re-rank only a shortlist.
    Alternatively pass explicit ``codebooks`` (shape
    (m_sub, k_cent, dim/m_sub) — external quantizers, deterministic
    oracle fixtures); residual codebooks quantize x - centroid, whose
    norm carries the geometry, so explicit books are stored as-is
    (never normalized), mutually exclusive with ``pq_m``.

    ``include_cols`` copies the listed source columns into the index
    rows as FILTERABLE PAYLOAD (query_ivf_index ``where=``): the
    predicate evaluates inside the probed-cell scan, parquet-pushed,
    so filtered vector search never joins back to the source."""
    def prepare(df):
        inc = IK.check_include_cols(df, key, vec_col, include_cols,
                                    reserved=("ivf_cell", "pq_codes"))
        if centroids is None:
            cents = ivf_train_kmeans(df, k=int(n_cells), iters=int(iters),
                                     id_col=key, vec_col=vec_col,
                                     init=init)
            trained = f"kmeans:{init}:{int(iters)}"
        else:
            cents = _unit_rows(centroids)
            trained = "explicit"
        if cents.ndim != 2:
            raise ValueError(f"centroids must be a (n_cells, dim) matrix, "
                             f"got shape {cents.shape}")
        d = int(cents.shape[1]) if dim is None else dim
        if cents.shape[1] != d:
            raise ValueError(f"centroids must be (n_cells, {d}), got "
                             f"{cents.shape}")
        spec = {
            "ii_n_cells": int(cents.shape[0]),
            "ii_dim": int(d), "ii_trained": trained,
            "ii_centroids": _json_floats(cents),
            "ii_include_cols": inc,
        }
        if codebooks is not None:
            if pq_m is not None:
                raise ValueError("pass pq_m (train residual codebooks) OR "
                                 "codebooks (explicit), not both")
            spec["ii_codebooks"] = _json_floats(_explicit_books(codebooks,
                                                                d))
        if pq_m is not None:
            if d % int(pq_m):
                raise ValueError(f"pq_m={pq_m} must divide dim {d}")
            # training recipe recorded so retrain_ivf_index (the drift
            # heal) can rebuild the books against the NEW centroids with
            # the same parameters
            spec["ii_pq_params"] = {
                "m": int(pq_m), "k": int(pq_k), "iters": int(pq_iters),
                "sample": int(pq_sample), "seed": int(pq_seed)}
            spec["ii_codebooks"] = _json_floats(_train_books(
                df, key, vec_col, cents, spec["ii_pq_params"]))
        return spec

    # the drift thresholds mark an index with drift governance: its
    # state derives the create-time baseline (_app_on_recompute)
    return M._create(spark, "ivf_index", view_path, {
        "ii_source": source_path, "ii_key": key, "ii_vec_col": vec_col,
        "ii_drift_tv_threshold": 0.25, "ii_drift_mqe_threshold": 1.5,
    }, prepare=prepare)


def _unit_rows(centroids) -> np.ndarray:
    """Explicit centroids, UNIT-NORMALIZED like the kmeans path's
    output (rows already unit within 1e-9 stay bit-as-given)."""
    c = np.asarray(centroids, dtype=np.float64)
    if c.ndim == 2:
        norms = np.linalg.norm(c, axis=1, keepdims=True)
        if not (norms > 0).all():
            raise ValueError("explicit centroids must be non-zero "
                             "rows (assignment is by max dot)")
        if not np.allclose(norms, 1.0, rtol=0.0, atol=1e-9):
            c = c / norms
    return c


def _explicit_books(codebooks, dim: int) -> np.ndarray:
    books = np.asarray(codebooks, dtype=np.float64)
    if books.ndim != 3 or books.shape[0] * books.shape[2] != dim:
        raise ValueError(
            f"explicit codebooks must be (m_sub, k_cent, dim/m_sub) "
            f"with m_sub*dsub == {dim}, got shape {books.shape}")
    return books


def _train_books(df: DataFrame, key: str, vec_col: str,
                 centroids: np.ndarray, pq: dict) -> np.ndarray:
    """Residual PQ codebooks trained on a deterministic sample: the
    ``pq["sample"]`` min-key rows (content-keyed, no rand)."""
    from ..operators.ann import ivf_pq_train

    sample_rows = (df.orderBy(F.asc(key)).limit(int(pq["sample"]))
                   .select(vec_col).collect())
    if not sample_rows:
        raise ValueError("cannot train PQ codebooks on an empty source")
    sample = np.asarray([r[0] for r in sample_rows], dtype=np.float64)
    return ivf_pq_train(sample, centroids, m_sub=int(pq["m"]),
                        k_cent=int(pq["k"]), iters=int(pq["iters"]),
                        seed=int(pq["seed"]))


def _json_floats(a: np.ndarray) -> list:
    """A centroid matrix or codebook tensor as manifest JSON (exact
    float64 round-trip)."""
    return np.asarray(a, dtype=np.float64).tolist()


def _cell_stats(spark: SparkSession, rows: DataFrame, vec_col: str,
                centroids: np.ndarray, sign_col: str | None = None
                ) -> tuple[list[int], float]:
    """(per-cell row counts, summed quantization error) of already-
    assigned rows: qe = ||x - c_cell||^2 expanded as |x|^2 - 2 x.c +
    |c|^2 in JVM column math over a broadcast n_cells-row centroid
    frame. KB-sized drift evidence from ONE small aggregation —
    O(given rows): the full state at create/heal, the interval's
    delta inside a refresh. ``sign_col`` turns the aggregation into a
    signed roll-forward (inserts +1, retractions -1 in one job)."""
    n_cells = int(centroids.shape[0])
    cdf = values_df(
        spark,
        [(int(i), [float(x) for x in centroids[i]],
          float(centroids[i] @ centroids[i])) for i in range(n_cells)],
        "ivf_cell int, _cent array<double>, _cnsq double")
    qe = (VEC.dot(F.col(vec_col), F.col(vec_col))
          - F.lit(2.0) * VEC.dot(F.col(vec_col), F.col("_cent"))
          + F.col("_cnsq"))
    sgn = (F.col(sign_col).cast("double") if sign_col
           else F.lit(1.0))
    agg = (rows.join(F.broadcast(cdf), "ivf_cell")
           .groupBy("ivf_cell")
           .agg(F.sum(sgn).alias("n"), F.sum(qe * sgn).alias("sqe"))
           .collect())
    counts = [0] * n_cells
    sum_qe = 0.0
    for r in agg:
        counts[int(r["ivf_cell"])] = int(r["n"] or 0)
        sum_qe += float(r["sqe"] or 0.0)
    return counts, sum_qe


def _centroids(spec: dict) -> np.ndarray:
    return np.asarray(spec["ii_centroids"], dtype=np.float64)


def _codebooks(spec: dict):
    b = spec.get("ii_codebooks")
    return None if b is None else np.asarray(b, dtype=np.float64)


def _rows_of(spec: dict, df: DataFrame) -> DataFrame:
    """The index rows of source rows under the FROZEN quantizers."""
    return _assigned_rows(
        df, spec["ii_key"], spec["ii_vec_col"], _centroids(spec),
        codebooks=_codebooks(spec),
        include_cols=tuple(spec.get("ii_include_cols", [])))


def _app_on_recompute(spark, spec, head):
    """The CURRENT drift stats derived from the head: per-cell counts +
    summed quantization error. At create (no baseline in the spec yet)
    they are also the frozen baseline — one assignment pass, already
    O(corpus); a heal re-derives only the current twin (it already
    rescans the corpus) and keeps the baseline — a heal is layout
    repair, never a drift absolution."""
    if "ii_base_cell_counts" not in spec \
            and "ii_drift_tv_threshold" not in spec:
        return {}  # pre-drift index (older manifest): stay quiet
    cents = _centroids(spec)
    rows = _assigned_rows(head, spec["ii_key"], spec["ii_vec_col"],
                          cents, codebooks=_codebooks(spec))
    counts, sum_qe = _cell_stats(spark, rows, spec["ii_vec_col"], cents)
    cur = {"ii_cur_cell_counts": counts, "ii_cur_sum_qe": sum_qe}
    if "ii_base_cell_counts" in spec:
        return cur
    return {"ii_base_cell_counts": list(counts),
            "ii_base_sum_qe": sum_qe} | cur


def _app_on_delta(spark, spec, ch, new_rows):
    if "ii_base_cell_counts" not in spec:
        return {}
    cents = _centroids(spec)
    key, vec_col = spec["ii_key"], spec["ii_vec_col"]
    # ONE signed aggregation over the (already persisted) change
    # frame: inserts count +1, retracted pre-images -1, each
    # re-assigned under the SAME frozen centroids they carried — exact
    # roll-forward. Counts/qe never need pq_codes, so the retraction
    # side skips the IVFADC Arrow re-encode a _assigned_rows call
    # would pay.
    signed = (ch.where(F.col("_change_type").isin(
        *(_RETRACTING + _INSERTING)))
        .withColumn("_sgn", F.when(
            F.col("_change_type").isin(*_INSERTING),
            F.lit(1)).otherwise(F.lit(-1)))
        .select(key, vec_col, "_sgn"))
    assigned = ivf_assign(signed, cents, id_col=key, vec_col=vec_col,
                          keep_cols=["_sgn"])
    counts, sum_qe = _cell_stats(spark, assigned, vec_col, cents,
                                 sign_col="_sgn")
    cur = [int(c) + d for c, d in zip(spec["ii_cur_cell_counts"], counts)]
    return {
        "ii_cur_cell_counts": cur,
        "ii_cur_sum_qe": float(spec["ii_cur_sum_qe"]) + sum_qe,
    }


def read_ivf_index(spark: SparkSession, view_path: str,
                   version: int | None = None) -> DataFrame:
    """The assigned rows at a version, canonical column order
    (+ pq_codes on an IVFADC index)."""
    return IK.read(spark, "ivf_index", view_path, version)


def refresh_ivf_index(
    spark: SparkSession, view_path: str,
    recompute_fraction: float | None = M._RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Advance the index to the source head: retract changed keys'
    rows (key delete vector), append the new rows WITH their cells
    under the FROZEN centroids — ONE delete_and_append commit,
    O(changed rows). Rollback/vacuumed-past-cursor heals by full
    recompute (same assignments — the centroids don't move, so heal
    is layout repair, never a semantic change). All structure lives
    in the shared lifecycle (matview._refresh_once over indexkind's
    state/delta); this kind
    contributes assignment under the frozen quantizers plus the
    DRIFT-counter hooks: the frozen-centroid contract means recall
    decays SILENTLY under distribution drift, so every refresh rolls
    the current per-cell counts and summed quantization error forward
    exactly from the interval (insert stats over the new rows, minus
    retract stats over the pre-images — both O(delta)), against the
    create-time baseline frozen in the spec. ivf_drift_report /
    DESCRIBE INDEX read the alarm from the manifest, zero Spark
    jobs; the documented heal is an explicit re-create."""
    return M._refresh_once(spark, "ivf_index", view_path,
                           recompute_fraction)


def ivf_drift_report(view_path: str,
                     version: int | None = None) -> dict:
    """Drift governance readout — pure manifest math (KB-sized spec
    fields maintained O(delta) by refresh_ivf_index), ZERO Spark jobs:

    * ``cell_tv`` — total-variation distance in [0, 1] between the
      CURRENT per-cell row distribution and the create-time baseline
      (0.5 * L1 of the fraction vectors): rising TV means rows now
      concentrate in different cells than the quantizer was trained
      for, so probe recall decays even though every query still
      "works".
    * ``mqe_ratio`` — current mean quantization error ||x - c_cell||^2
      over its create-time baseline: rising MQE means vectors sit
      farther from every frozen centroid — the classic
      distribution-shift signature.
    * ``alarm`` — cell_tv > ii_drift_tv_threshold (default 0.25) OR
      mqe_ratio > ii_drift_mqe_threshold (default 1.5). The documented
      heal is an EXPLICIT re-create (retrain centroids on the current
      corpus — an operator decision, never an implicit 100 TB
      rewrite); a rebuild resets both baselines, clearing the alarm.

    Indexes created before drift tracking report ``tracked: False``
    and never alarm (no baseline to compare against)."""
    spec = IK.spec_of("ivf_index", view_path, version)
    if "ii_base_cell_counts" not in spec:
        return {"tracked": False, "alarm": False}
    base = [int(x) for x in spec["ii_base_cell_counts"]]
    cur = [int(x) for x in spec["ii_cur_cell_counts"]]
    n_base, n_cur = sum(base), sum(cur)
    if n_base <= 0 or n_cur <= 0:
        return {"tracked": True, "alarm": False, "n_base": n_base,
                "n_cur": n_cur, "cell_tv": 0.0, "mqe_ratio": 1.0}
    cell_tv = 0.5 * sum(abs(c / n_cur - b / n_base)
                        for b, c in zip(base, cur))
    mqe_base = float(spec["ii_base_sum_qe"]) / n_base
    mqe_cur = float(spec["ii_cur_sum_qe"]) / n_cur
    mqe_ratio = (mqe_cur / mqe_base) if mqe_base > 0 else 1.0
    tv_thr = float(spec.get("ii_drift_tv_threshold", 0.25))
    mqe_thr = float(spec.get("ii_drift_mqe_threshold", 1.5))
    return {
        "tracked": True, "n_base": n_base, "n_cur": n_cur,
        "cell_tv": cell_tv, "mqe_ratio": mqe_ratio,
        "tv_threshold": tv_thr, "mqe_threshold": mqe_thr,
        "alarm": cell_tv > tv_thr or mqe_ratio > mqe_thr,
    }


def retrain_ivf_index(
    spark: SparkSession, view_path: str, centroids=None,
    codebooks=None, iters: int | None = None, init: str | None = None,
) -> int:
    """The drift HEAL (the explicit re-create ivf_drift_report's alarm
    asks for, as ONE in-band commit): retrain the coarse quantizer on
    the CURRENT source head with the create-time recipe (or take new
    explicit ``centroids`` — required when the index was created with
    explicit ones, whose provenance this module cannot reproduce),
    retrain the residual PQ codebooks against the NEW centroids with
    the recorded ``ii_pq_params`` (or take explicit ``codebooks``),
    reassign every row, advance the cursor to the source head, and
    RESET the drift baseline to the new corpus — exactly what CREATE
    would record today, without dropping the view, its catalog entry,
    or its version history. One V.overwrite commit (parent-checked:
    a concurrent refresh loses the OCC race cleanly); on a bucketed
    at-rest layout overwrite's layout dispatch re-routes the new state
    into the same bucket map, so file pruning survives the retrain."""
    view_v = V.current_version(view_path)
    spec = IK.spec_of("ivf_index", view_path, view_v)
    key, vec_col = spec["ii_key"], spec["ii_vec_col"]
    trained = str(spec.get("ii_trained", "explicit"))

    def prepare(df):
        if centroids is None:
            if not trained.startswith("kmeans:"):
                raise ValueError(
                    "this index was created with EXPLICIT centroids — "
                    "pass centroids= (and codebooks= if it carries "
                    "explicit books) to retrain_ivf_index")
            _, c_init, c_iters = trained.split(":")
            it = int(iters if iters is not None else c_iters)
            cents = ivf_train_kmeans(
                df, k=int(spec["ii_n_cells"]), iters=it, id_col=key,
                vec_col=vec_col,
                init=str(init if init is not None else c_init))
            new_trained = f"kmeans:{init or c_init}:{it}"
        else:
            cents = _unit_rows(centroids)
            new_trained = "explicit"
        if cents.shape != (int(spec["ii_n_cells"]), int(spec["ii_dim"])):
            raise ValueError(
                f"retrained centroids shape {cents.shape} != the index's "
                f"({spec['ii_n_cells']}, {spec['ii_dim']})")
        app = {"ii_centroids": _json_floats(cents),
               "ii_trained": new_trained}
        if codebooks is not None:
            app["ii_codebooks"] = _json_floats(_explicit_books(
                codebooks, int(spec["ii_dim"])))
        elif spec.get("ii_codebooks") is not None:
            pq = spec.get("ii_pq_params")
            if pq is None:
                raise ValueError(
                    "this index carries EXPLICIT PQ codebooks — pass "
                    "codebooks= to retrain_ivf_index (residual books are "
                    "centroid-relative and cannot survive a retrain)")
            app["ii_codebooks"] = _json_floats(_train_books(
                df, key, vec_col, cents, pq))
        return app

    # without the baseline, the state derives a new one (the reset)
    kept = {k: v for k, v in spec.items()
            if not k.startswith(("ii_base_", "ii_cur_"))}
    return M._create(spark, "ivf_index", view_path, {
        "ii_drift_tv_threshold": 0.25, "ii_drift_mqe_threshold": 1.5,
    } | kept, prepare=prepare, parent_version=view_v)


def query_ivf_index(
    spark: SparkSession, view_path: str, query_vec, k: int = 10,
    n_probe: int = 2, version: int | None = None,
    method: str = "exact", shortlist: int = 200,
    where: str | None = None,
) -> DataFrame:
    """Approximate top-k FROM the maintained index: the ``n_probe``
    nearest cells (``_probe_rule``) are ranked driver-side from the
    spec's stored centroids (zero Spark jobs), the state is filtered
    to those cells (file-pruned on a bucketed layout), and the
    candidates are scored by one of two tiers:

    * ``method='exact'`` — exact dot product over every probed row
      (the re-rank tier the oracle row pins), through the shared
      single-query path indexkind.query_vector: the same probe rule
      (ann.ivf_probe_rule), scoring, ordering, and tie-break as
      ann.ivf_topk over the current source.
    * ``method='adc'`` (IVFADC index only, built with ``pq_m``) —
      the same probed candidates (indexkind.candidates) go to the
      shared IVFADC tail (ann._ivf_adc_topk): they score from their
      stored residual PQ codes via one (m_sub × k_cent) lookup table
      (q·centroid + ADC, the Jegou/Douze/Schmid pipeline), a
      ``shortlist`` survives, and the final k re-rank EXACTLY against
      the index's own full-precision column — row-identical to
      ann.ivf_pq_topk over this state with the frozen
      centroids/codebooks. At 100 TB the ADC pass reads code bytes,
      not vectors: the memory-bound tier.

    ``where`` is a SQL predicate over the index's payload columns
    (``include_cols`` at CREATE) and key — FILTERED vector search,
    evaluated inside the probed-cell scan (parquet-pushed): top-k
    among probed candidates matching the filter.

    An ``n_probe`` below 1 raises ValueError (ann.ivf_probe_rule).

    Returns (<key>, score); final scores are exact dots either way."""
    if method not in ("exact", "adc"):
        raise ValueError(f"unknown method {method!r}; "
                         f"use 'exact' or 'adc'")

    def rule(spec):
        return _probe_rule(spec, n_probe)

    if method == "exact":
        return IK.query_vector(spark, "ivf_index", view_path, query_vec,
                               k, version, where, rule)
    spec, qv, cand = IK.candidates(spark, "ivf_index", view_path,
                                   query_vec, version, where, rule)
    books = _codebooks(spec)
    if books is None:
        raise ValueError(
            f"{view_path} was built without PQ codebooks — "
            f"recreate with pq_m=<subspaces> for method='adc'")
    # the probed (file-pruned), payload-filtered candidates are both the
    # ADC scan and the exact re-rank's full-precision side: the index
    # carries its own vector column
    return _ivf_adc_topk(cand, cand, None, qv, _centroids(spec), books, k,
                         shortlist, spec["ii_key"], spec["ii_vec_col"])


def _probe_rule(spec: dict, n_probe: int):
    """The probe rule query_ivf_index and its batch share: the one IVF
    rule (ann.ivf_probe_rule) over the spec's stored centroids."""
    return ivf_probe_rule(_centroids(spec), n_probe)


def query_ivf_index_batch(
    spark: SparkSession, view_path: str, queries, k: int = 10,
    n_probe: int = 2, version: int | None = None,
    qid_col: str = "qid", where: str | None = None,
) -> DataFrame:
    """M queries against the maintained IVF index in ONE plan (the
    exact re-rank tier) — the amortized serving form: each query's
    n_probe cells rank driver-side from the spec's stored centroids
    (zero Spark jobs) and the shared literal-map fan-out
    (indexkind.query_vector_batch) scores the union of probed cells in
    one file-pruned scan. ``queries`` is a driver-side list of
    ``(qid, vector)`` pairs; the measured batch size is M=32.
    ``qid_col`` names the output's query-id column and must not name
    an index column or contain a backtick. Per query, rows are
    IDENTICAL to query_ivf_index(method='exact'): same probe rule,
    same fold-order dot, same (score DESC, key ASC) total order. The
    ADC tier stays per-query (each query carries its own LUT; batch it
    by chunking calls).

    Returns (qid, <key>, score) ordered (qid, score DESC, key)."""
    return IK.query_vector_batch(
        spark, "ivf_index", view_path, queries, k, version, qid_col,
        where, lambda spec: _probe_rule(spec, n_probe), "INT")
