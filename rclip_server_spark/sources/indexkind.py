"""The maintained index kinds' one lifecycle: text (BM25 postings,
textindex.py), ANN (hyperplane-LSH buckets, annindex.py) and IVF
(nearest-centroid cells, ivfindex.py) are each ONE descriptor in the
table ``kinds()``, and everything they share runs once over it — the
kind-checked spec read, the probed state read, the canonical read,
the at-rest bucketed conversion, the registry's ``state`` and
``delta`` (matview._create and matview._refresh_once run the create,
refresh, heal and OCC skeleton around them), the payload filter, the
batch guards, and the vector kinds' one query path: ``query_vector``
for one query and ``query_vector_batch`` for M, both driven by the
kind's probe rule (``annindex._probe_rule``, ``ivfindex._probe_rule``:
spec -> query vector -> probe values). Those bind the spec's frozen
planes or centroids to the one LSH and IVF rules of operators/ann.py
(``ann.lsh_probe_rule``, ``ann.ivf_probe_rule``), the same rules the
ad-hoc tiers probe with; IVF's ADC tier hands ``candidates`` to
``ann._ivf_adc_topk`` and the ANN k-NN join feeds ``probed`` to
``ann._knn_join``. The kind modules keep only their own logic
(bucketed rows, cell assignment and drift, tokenization and BM25);
matview's REFRESH / DESCRIBE INDEX dispatch and SQL's OPTIMIZE ...
BUCKET BY / ``OPTIONS (buckets=N)`` are one lookup in the table.

On-disk contract: a kind's spec lives in the view manifest's ``app``
namespace under ``<prefix>_*`` fields, and ``<prefix>_source`` marks
the view as that kind (matview._VIEW_KINDS registers the same marker
for the view graph).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as VEC
from ..functions.localrel import _render
from ..operators import similarity
from . import matview as M
from . import versioned as V


@dataclass(frozen=True)
class IndexKind:
    """What one index kind is, as data: its view kind name, manifest
    field prefix, the spec field naming the indexed source column
    (vector or text), the probe column queries filter on and the
    at-rest layout buckets by, the value columns of the canonical read
    (between (probe, key) and the payload), the row derivation under
    the spec's frozen parameters, the DESCRIBE INDEX section, the
    default physical bucket count, and the optional manifest-stat
    hooks, each returning the app fields it sets (``app_on_delta``
    rolls stats forward from the interval, ``app_on_recompute``
    derives them from the head — at create and on a heal)."""
    name: str
    prefix: str
    col_field: str
    probe_col: str
    value_cols: Callable[[dict], list]
    rows_of: Callable[[dict, DataFrame], DataFrame]
    describe: Callable[[str, dict], dict]
    default_buckets: Callable[[dict], int]
    app_on_delta: Callable | None = None
    app_on_recompute: Callable | None = None


def _pick(spec: dict, *fields: str) -> dict:
    return {f: spec[f] for f in fields if f in spec}


@functools.cache
def kinds() -> dict[str, IndexKind]:
    """The descriptor table, keyed by view kind (built on first use:
    the kind modules import this one)."""
    from . import annindex as AI
    from . import ivfindex as II
    from . import textindex as TI

    table = (
        IndexKind(
            "text_index", "ti", "ti_text_col", "term",
            value_cols=lambda s: ["tf", "dl"] + (
                ["positions"] if s.get("ti_positions") else []),
            rows_of=TI._rows_of,
            describe=lambda path, s: {"params": _pick(
                s, "ti_text_col", "ti_k1", "ti_b", "ti_positions",
                "ti_ndocs", "ti_total_len")},
            # terms are high-cardinality: 64 keeps toy-scale segments
            # non-empty; at 100 TB pick n so a bucket is a few hundred MB
            default_buckets=lambda s: 64,
            app_on_delta=TI._app_on_delta,
            app_on_recompute=TI._app_on_recompute),
        IndexKind(
            "ann_index", "ai", "ai_vec_col", "bucket",
            value_cols=lambda s: [s["ai_vec_col"]],
            rows_of=AI._rows_of,
            describe=lambda path, s: {"params": _pick(
                s, "ai_vec_col", "ai_n_planes", "ai_seed", "ai_dim")},
            # one physical bucket per LSH bucket modulo hash
            # collisions, capped: beyond 256 the per-bucket segments
            # at toy scale are empty files for no pruning gain
            default_buckets=lambda s: min(2 ** int(s["ai_n_planes"]),
                                          256)),
        IndexKind(
            "ivf_index", "ii", "ii_vec_col", "ivf_cell",
            value_cols=lambda s: [s["ii_vec_col"]] + (
                ["pq_codes"] if s.get("ii_codebooks") is not None
                else []),
            rows_of=II._rows_of,
            describe=lambda path, s: {
                "params": _pick(s, "ii_vec_col", "ii_n_cells", "ii_dim",
                                "ii_trained")
                | {"ii_pq": s.get("ii_codebooks") is not None},
                "drift": II.ivf_drift_report(path)},
            default_buckets=lambda s: min(int(s["ii_n_cells"]), 256),
            app_on_delta=II._app_on_delta,
            app_on_recompute=II._app_on_recompute),
    )
    return {k.name: k for k in table}


def _kind_of_spec(path: str, spec: dict) -> IndexKind:
    for k in kinds().values():
        if f"{k.prefix}_source" in spec:
            return k
    raise ValueError(f"{path} is not a maintained index view "
                     f"({', '.join(kinds())})")


def spec_of(name: str, path: str, version: int | None = None) -> dict:
    """The spec of index view ``path`` at ``version`` (default head),
    checked to be of kind ``name`` — another kind's view, or any other
    table, raises ValueError naming the path."""
    return M._spec(path, version, name)


def spec_at(name: str, path: str, version: int | None) -> tuple[int, dict]:
    """(version, spec): the ONE consistent read a query plans against."""
    v = V.current_version(path) if version is None else int(version)
    return v, spec_of(name, path, v)


def columns(name: str, spec: dict) -> list[str]:
    """The canonical column order: probe, key, values, payload."""
    k = kinds()[name]
    return [k.probe_col, spec[f"{k.prefix}_key"], *k.value_cols(spec),
            *spec.get(f"{k.prefix}_include_cols", [])]


def probed(spark: SparkSession, name: str, view_path: str, v: int,
           probes: list | None = None) -> DataFrame:
    """The index state at version ``v`` through the shared serving read
    (versioned.read_probed): on the bucketed at-rest layout the probe
    VALUES resolve to physical buckets driver-side and only those
    buckets' segment files enter the plan, schema pinned from the
    manifest — zero pre-scan Spark jobs. With ``probes`` the rows are
    also filtered to them (the residual IN-list prunes hash-collided
    values inside the surviving buckets); ``None`` reads every row."""
    col = kinds()[name].probe_col
    state = V.read_probed(spark, view_path, v, col, probe_values=probes)
    return state if probes is None else state.where(
        F.col(col).isin(probes))


def read(spark: SparkSession, name: str, view_path: str,
         version: int | None = None) -> DataFrame:
    """The index rows at a version (default head) in canonical column
    order — a delete_and_append interval can reorder the physical
    union's columns."""
    v, spec = spec_at(name, view_path, version)
    return probed(spark, name, view_path, v).select(*columns(name, spec))


def convert_index_to_bucketed(spark: SparkSession, view_path: str,
                              n_buckets: int | None = None) -> int:
    """Physically lay a maintained index out by its probe column
    (versioned.convert_to_bucketed): one rewrite, after which a probe
    query's read SKIPS FILES, not rows — only the probed values' hash
    buckets' segment directories are ever named in the scan plan.
    Refreshes keep working unchanged: the delete_and_append refresh
    commit dispatches on the manifest's layout (a doc-key delete vector
    scopes conservatively to all segments), and compact / OPTIMIZE fold
    refresh accretion back down per bucket. The default
    ``n_buckets`` is the kind's (descriptor ``default_buckets``)."""
    spec = V._manifest(view_path, V.current_version(view_path)).get(
        "app") or {}
    kind = _kind_of_spec(view_path, spec)
    if n_buckets is None:
        n_buckets = kind.default_buckets(spec)
    return V.convert_to_bucketed(spark, view_path, kind.probe_col,
                                 int(n_buckets))


def state(name: str, spark: SparkSession, spec: dict, frames: list):
    """The kind's registry ``state``: every source row's derived index
    rows, plus the manifest stats re-derived from the head."""
    kind = kinds()[name]
    head, = frames
    app = {} if kind.app_on_recompute is None else \
        kind.app_on_recompute(spark, spec, head)
    return kind.rows_of(spec, head), app


def delta(name: str, r) -> int:
    """The kind's registry ``delta``: the O(changed rows) interval —
    key delete-vector retraction + derived-rows append, with the
    manifest stats rolled forward, as ONE delete_and_append commit.

    Cost-model stance (the pair views' too): the kinds register without
    the row model — derived rows scatter across the index layout, so
    per-row DML would trip full re-derivation on every delete;
    recompute only heals a rolled-back or vacuumed-past-cursor source.
    The kinds diverge only in ``rows_of`` and the manifest-stat
    hooks."""
    kind = kinds()[name]
    key = r.spec[f"{kind.prefix}_key"]
    (src, v_from, v_to), = r.intervals
    # persist: the frame is consumed twice inside delete_and_append
    # (delete-vector write + segment write), and a rewriting interval's
    # CDC is a snapshot-diff join — don't run it per consumer
    ch = r.persist(M._changes_since_cursor(r.spark, src, v_from, v_to, key))
    del_keys = (ch.where(F.col("_change_type").isin(
        *(M._RETRACTING + M._INSERTING))).select(key).distinct())
    ins = ch.where(F.col("_change_type").isin(*M._INSERTING))
    new_rows = kind.rows_of(r.spec, ins)
    app = {} if kind.app_on_delta is None else \
        kind.app_on_delta(r.spark, r.spec, ch, new_rows)
    return r.commit(V.delete_and_append, del_keys, key, new_rows, app=app)


# ---------------------------------------------------------------------------
# filtered search and batched serving, shared by the query functions
# ---------------------------------------------------------------------------


def apply_where(cand: DataFrame, where: str | None) -> DataFrame:
    """Apply a payload filter predicate (``include_cols`` at CREATE,
    plus the key). Parse failures and predicates naming a column the
    index doesn't carry both surface as ValueError (SqlError wraps it
    at the SQL surface)."""
    if where is None:
        return cand
    try:
        flt = F.expr(where)
    except Exception as ex:
        raise ValueError(f"bad filter predicate {where!r}: {ex}") \
            from ex
    try:
        return cand.where(flt)
    except Exception as ex:
        raise ValueError(
            f"filter predicate {where!r} does not resolve over the "
            f"index columns {cand.columns} (declare payload columns "
            f"with include_cols at CREATE): {ex}") from ex


def check_include_cols(df: DataFrame, key: str, col: str, include_cols,
                       reserved: tuple[str, ...]) -> list[str]:
    """Validate payload columns at CREATE time: they must exist on the
    source and not collide with the index's own columns — a typo here
    must fail the CREATE, never a later refresh."""
    cols = [str(c) for c in (include_cols or [])]
    lower = {c.lower() for c in df.columns}
    taken = {key.lower(), col.lower(), *reserved}
    for c in cols:
        if c.lower() not in lower:
            raise ValueError(f"include_cols: {c!r} is not a source "
                             f"column (have {sorted(df.columns)})")
        if c.lower() in taken:
            raise ValueError(f"include_cols: {c!r} collides with an "
                             f"index column")
    if len({c.lower() for c in cols}) != len(cols):
        raise ValueError("include_cols: duplicate column")
    return cols


def check_batch(name: str, spec: dict, queries, qid_col: str,
                score_col: str, what: str) -> list:
    """The batch guards all three ``*_batch`` functions share: at least
    one query, unique qids, and a ``qid_col`` that can neither break out
    of the SQL it is quoted into nor overwrite a column of the candidate
    scan (or the score) — either would return silently wrong rows.
    Returns the qids in query order."""
    if not queries:
        raise ValueError(f"query_{name}_batch needs at least one "
                         f"(qid, {what}) pair")
    if "`" in qid_col:
        raise ValueError(f"qid_col {qid_col!r} must not contain a "
                         f"backtick")
    taken = [*columns(name, spec), spec[kinds()[name].col_field],
             score_col]
    if qid_col.lower() in {c.lower() for c in taken}:
        raise ValueError(f"qid_col {qid_col!r} names a column of the "
                         f"index scan {taken}; pick another name")
    qids = [q for q, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("duplicate qids in batch")
    return qids


def candidates(spark: SparkSession, name: str, view_path: str,
               query_vec, version: int | None, where: str | None,
               probe_rule) -> tuple[dict, np.ndarray, DataFrame]:
    """(spec, query, candidates) of ONE vector query: one consistent
    spec read, the dim check, the kind's probe rule and the probed,
    payload-filtered state scan — what query_vector scores exactly and
    IVF's ADC tier scores from its PQ codes."""
    v, spec = spec_at(name, view_path, version)
    dim = int(spec[f"{kinds()[name].prefix}_dim"])
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape != (dim,):
        raise ValueError(f"query dim {q.shape} != index dim ({dim},)")
    return spec, q, apply_where(
        probed(spark, name, view_path, v, probe_rule(spec)(q)), where)


def query_vector(spark: SparkSession, name: str, view_path: str,
                 query_vec, k: int, version: int | None,
                 where: str | None, probe_rule) -> DataFrame:
    """One vector query — the single-query twin of query_vector_batch,
    the one plan query_ann_index and query_ivf_index serve.
    ``probe_rule(spec)`` is the kind's driver-side rule (query vector
    -> probe values), the same one its batch passes. Only the probed
    rows (file-pruned on a bucketed layout) that match ``where`` are
    scored by ``topk_similar``, the one exact vector top-k.

    Returns (<key>, score) ordered (score DESC, key ASC), top ``k``."""
    spec, q, cand = candidates(spark, name, view_path, query_vec,
                               version, where, probe_rule)
    kind = kinds()[name]
    return similarity.topk_similar(cand, q, k, spec[f"{kind.prefix}_key"],
                                   spec[kind.col_field])


def query_vector_batch(spark: SparkSession, name: str, view_path: str,
                       queries, k: int, version: int | None,
                       qid_col: str, where: str | None,
                       probe_rule, probe_type: str) -> DataFrame:
    """M vector queries in ONE plan — the literal-map fan-out the ANN
    and IVF batches share. ``probe_rule(spec)`` returns the kind's
    driver-side rule: query vector -> probe values. The UNION of every
    query's probes drives ONE file-pruned state scan, and two
    constant-folded literal maps attach queries to candidates
    row-locally: probe -> [qid] explodes each candidate into its
    matching (row, query) pairs and qid -> qvec fetches the scoring
    vector (a row holds exactly ONE probe value, so the explode emits
    each pair at most once — inner-join semantics with no broadcast
    build and no dedup exchange). Exact dots score JVM-side over
    literals rendered bit-identically to the single-query plan, and a
    per-qid window takes top-k. Shuffles: the qid window over
    candidate rows only — never the corpus.

    Returns (qid, <key>, score) ordered (qid, score DESC, key)."""
    v, spec = spec_at(name, view_path, version)
    kind = kinds()[name]
    key, vec_col = spec[f"{kind.prefix}_key"], spec[kind.col_field]
    dim = int(spec[f"{kind.prefix}_dim"])
    qids = check_batch(name, spec, queries, qid_col, "score", "vector")
    probes_of = probe_rule(spec)
    by_probe: dict[int, list] = {}
    qvec_lit: dict = {}
    union = set()
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        if q.shape != (dim,):
            raise ValueError(
                f"query {qid!r} dim {q.shape} != index dim ({dim},)")
        probes = probes_of(q)
        union |= set(probes)
        qvec_lit[qid] = _render([float(x) for x in q], "array<double>")
        for b in probes:
            by_probe.setdefault(int(b), []).append(qid)
    qid_t = "string" if isinstance(qids[0], str) else "bigint"
    pmap = "map(" + ", ".join(
        f"CAST({b} AS {probe_type}), "
        f"array({', '.join(_render(q, qid_t) for q in qs)})"
        for b, qs in sorted(by_probe.items())) + ")"
    qmap = "map(" + ", ".join(
        f"{_render(q, qid_t)}, {qvec_lit[q]}" for q in qids) + ")"
    # the shared payload filter prunes the ONE probed scan before the
    # query lookup
    cand = apply_where(probed(spark, name, view_path, v, sorted(union)),
                       where)
    scored = (cand
              .withColumn(qid_col, F.explode(F.expr(
                  f"element_at({pmap}, {kind.probe_col})")))
              .withColumn("score", VEC.dot(
                  F.col(vec_col),
                  F.expr(f"element_at({qmap}, `{qid_col}`)"))))
    return (similarity.top_k_per(scored, k, qid_col, key, rank="_rn")
            .select(qid_col, key, "score")
            .orderBy(qid_col, F.desc("score"), F.asc(key)))
