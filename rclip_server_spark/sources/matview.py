"""Incremental materialized aggregate views over the versioned CDC log —
the lakehouse pattern that keeps a dashboard/feature aggregate fresh for
the cost of the CHANGES, not a recompute.

No reference analogue (the reference recomputes everything at startup,
rclip_server.py:59-66); this is a scale-path addition in the spirit of
Delta Live Tables / Materialize: the view is itself a versioned table
whose manifest records a refresh CURSOR (`mv_source_version`), and each
refresh:

1. reads the change feed since the cursor — O(new segments) when the
   interval is append-only (the common ingest case); a rewriting
   interval diffs snapshots (the honest cost): the ADDITIVE consumers
   (agg/top-k/join views) use ``table_changes_multiset`` (full-row
   multiplicities — no unique-key assumption, which is what lets a view
   consume ANOTHER view), the transform view the keyed
   ``table_changes(include_preimage=True)`` (its delete-by-key
   maintenance needs per-key pairing);
2. folds the change rows into SIGNED deltas — +1·row for inserting
   change types, −1·row for retracting ones — and aggregates them to
   per-group (count, sums). Retraction is exactly why additive
   aggregates (COUNT, SUM) refresh incrementally; MIN/MAX are not
   additively retractable — a refresh whose interval retracts rows from
   a group recomputes that group from the pinned source snapshot;
3. merges the delta groups into the current view state with ONE
   null-safe full-outer join on the group keys (group cardinality sized,
   not data sized) and commits the merged state as the view's next
   version with the advanced cursor — so the view is time-travelable,
   vacuumable, OCC-protected, and restorable like any versioned table.

At 100 TB: a day of ingest refreshes the view for a day-of-data scan +
a groups-sized merge. The view rewrite is one segment of |groups| rows —
if groups ever approach data size, an aggregate view was the wrong
structure to begin with.

Exactness: counts/sums are BIGINT-exact when fed integer columns (use
cents-style integers for money, the repo-wide oracle rule); a group whose
count reaches zero is dropped, so the view equals the direct groupBy of
the source head — the invariant the oracle row `vt_agg_view_refresh`
checks hash-exact against DuckDB.

Every maintained view kind — the agg, transform, top-k, join and
join-table views here, the near-dup pair views (neardup_view.py) and the
text / ANN / IVF indexes (indexkind.py) — is one ``_VIEW_KINDS`` entry
that supplies only its full ``state`` and its ``delta``. One skeleton
runs them: ``_create`` materializes ``state`` at the source heads and
stamps the cursors; ``_refresh_once`` does the consistent read, the
fresh check, the heal + cost dispatch, and either the recompute (the
same ``state``, as one overwrite) or the kind's ``delta``;
``refresh_view`` wraps it in the OCC retry and the compaction fold.
"""

from __future__ import annotations

import importlib
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import versioned as V

_INSERTING = ("insert", "update_postimage")
_RETRACTING = ("delete", "update_preimage")


def _spec(path: str, version: int | None = None,
          kind: str | None = None) -> dict:
    """The view spec + cursor, stored in the manifest's carried-forward
    ``app`` namespace — so appends, delete-vector commits, and
    compactions on the view table preserve it automatically. ``kind``
    names the expected _VIEW_KINDS entry (None accepts any view kind);
    a table without that kind's marker raises ValueError naming the
    path and the kind. Pass ``version`` for the ONE-CONSISTENT-READ
    rule the refreshers depend on: cursor, state, and OCC parent must
    all come from the same view version, or a concurrent refresher
    committing in between yields a stale cursor paired with a fresh
    parent and the interval double-applies without any
    ConcurrentWriteError."""
    v = V.current_version(path) if version is None else int(version)
    spec = V._manifest(path, v).get("app") or {}
    markers = [k.marker for k in _VIEW_KINDS.values()] if kind is None \
        else [_VIEW_KINDS[kind].marker]
    if not any(m in spec for m in markers):
        raise ValueError(f"{path} is not a {kind or 'maintained'} view "
                         f"(no {' / '.join(markers)} in its manifest app "
                         f"namespace)")
    return spec


def _aggregate(df: DataFrame, group_cols: list[str], sum_cols: list[str],
               minmax_cols: list[str] = (), sign=None) -> DataFrame:
    """Per-group state. Alongside each ``sum_c`` the view carries
    ``nn_c``, the (signed) count of NON-NULL contributions: SQL's SUM is
    NULL over an all-NULL group, and that NULL-ness is itself additive
    state — without nn the merge cannot tell "no non-null values ever"
    (sum NULL) apart from "values summing to zero" (sum 0)."""
    s = sign if sign is not None else F.lit(1).cast("long")
    aggs = [F.sum(s).alias("cnt")]
    for c in sum_cols:
        aggs += [
            F.sum(s * F.col(c).cast("long")).alias(f"sum_{c}"),
            F.coalesce(
                F.sum(F.when(F.col(c).isNotNull(), s).otherwise(F.lit(0))),
                F.lit(0),
            ).cast("long").alias(f"nn_{c}"),
        ]
    for c in minmax_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.groupBy(*group_cols).agg(*aggs)


def _read_source(spark: SparkSession, path: str,
                 version: int | None = None) -> DataFrame:
    """Source read (versioned.read, either layout): flat and bucketed
    versioned tables both work as view sources. Schema-pinned from the
    manifest (versioned._pinned_schema) — this is the choke point every SQL
    read and view refresh goes through, and mergeSchema footer
    inference here costs one Spark job PER TABLE PER STATEMENT (at
    100 TB, a distributed read of every segment footer). Safe because
    the commit layer enforces it: type changes are blocked, evolution
    null-fills by name; legacy manifests without col_types fall back
    to mergeSchema inside the read."""
    return V.read(spark, path, version, pin_schema=True)


def _nullsafe_cond(left_alias: str, right_alias: str, cols: list[str]):
    cond = None
    for g in cols:
        c = F.col(f"{left_alias}.{g}").eqNullSafe(F.col(f"{right_alias}.{g}"))
        cond = c if cond is None else cond & c
    return cond


def _minus_groups(df: DataFrame, ret_groups: DataFrame,
                  group_cols: list[str]) -> DataFrame:
    """Rows whose group is NOT in ret_groups (null-safe; left_anti output
    carries only the left side's columns). Callers pass ret_groups
    already sized by _hint_ret_groups — no unconditional broadcast here."""
    x = df.alias("x")
    return x.join(ret_groups.alias("g"),
                  _nullsafe_cond("x", "g", group_cols), "left_anti")


# broadcast the affected-group keys only when the interval's retraction
# volume is provably small; a refresh interval containing a large
# rewrite can make ret_groups approach group cardinality, and
# broadcasting that risks driver/executor OOM at 100 TB group counts.
# Broadcast cost is BYTES, not rows: the row bound is derived from a
# byte budget at a conservative per-key-column width (64 B covers
# typical string keys plus row overhead), so a 4-column string key
# broadcasts at 1/4 the rows of a single BIGINT key instead of the same
# flat count. Single-column keys keep the historical 1M-row bound
# (64 MiB / 64 B). Both knobs are module attributes for deployments
# with bigger or smaller drivers.
_BROADCAST_BYTES_BUDGET = 64 * 1024 * 1024
_BROADCAST_KEY_COL_WIDTH = 64


def _broadcast_bound_rows(n_key_cols: int = 1) -> int:
    return _BROADCAST_BYTES_BUDGET // (
        _BROADCAST_KEY_COL_WIDTH * max(int(n_key_cols), 1))


# Cost-based refresh dispatch: the incremental path's dominant cost is
# the CDC read, whose row volume the manifest bounds at zero cost
# (_change_bound: append-only interval = new rows; rewriting interval =
# old + new snapshot rows — the multiset diff really does scan both).
# A full recompute scans the head once, so "bound > fraction × head
# rows" is a pure row-count model. The shipped DEFAULT is 0.5: the
# incremental path does roughly two row-passes' work per CDC row (the
# diff/merge plus the commit) against recompute's one pass over the
# head, so the row-model crossover sits near bound ≈ head/2 —
# rewriting intervals (bound ≈ 2 × head) always recompute, append-only
# intervals stay incremental until one batch exceeds ~half the table
# (at which point recompute also resets segment accretion for free),
# and a join view with a small-side rewrite against a large fact stays
# incremental because the SUM of bounds is compared to the SUM of
# heads. Local wall-clock cannot refine this constant: at test scale
# fixed stage floors (~0.3-0.6 s) dominate both paths and recompute
# "wins" everywhere (tools/scale_bench.py fraction_crossover, table in
# BASELINE.md) — the row model is the 100 TB-honest choice. Pass
# recompute_fraction=None to force pure incremental (what the
# signed-delta proofs pin), or any other fraction to re-tune.
_RECOMPUTE_BOUND_FRACTION = 0.5


def _retraction_bound(src: str, v_from: int, v_to: int) -> int:
    """Zero-cost (manifest-only, no Spark job) upper bound on the number
    of retracted rows in the refresh interval: an append-only interval
    retracts nothing; otherwise every retraction pre-image was a row of
    the OLD snapshot, so its recorded row count bounds the volume."""
    ops = [V._manifest(src, v)["op"] for v in range(v_from + 1, v_to + 1)]
    if all(op in V.APPEND_OPS for op in ops):
        return 0
    m_from = V._manifest(src, v_from)
    return V._manifest_row_count(src, m_from)


def _hint_ret_groups(ret_groups: DataFrame, src: str,
                     v_from: int, v_to: int) -> DataFrame:
    """Apply the broadcast hint to the affected-group keys only when the
    manifest-derived retraction bound is small; past the bound, leave the
    join strategy to AQE (which sees actual sizes at runtime)."""
    if _retraction_bound(src, v_from, v_to) \
            <= _broadcast_bound_rows(len(ret_groups.columns)):
        return F.broadcast(ret_groups)
    return ret_groups


def _state_rows(df: DataFrame, group_cols: list[str], sum_cols: list[str],
                minmax_cols: list[str] = (), sign=None) -> DataFrame:
    """Project CHANGE ROWS to per-row additive state — the row-level
    preimage of _aggregate: cnt = ±1, sum_c = sign·value (NULL
    propagates, SUM skips it), nn_c = sign per non-null value, min/max
    = the value itself. Unioned with a view's stored state and grouped
    ONCE by _merge_states, this replaces the old
    aggregate-then-full-outer-merge chain (two extra Exchanges per
    refresh) with a single exchange; every state column is integral or
    monotone, so one-step and two-step aggregation are bit-identical
    (r14 opt, guide §2.4)."""
    s = sign if sign is not None else F.lit(1).cast("long")
    sel = [F.col(g) for g in group_cols] + [s.alias("cnt")]
    for c in sum_cols:
        sel.append((s * F.col(c).cast("long")).alias(f"sum_{c}"))
        sel.append(F.when(F.col(c).isNotNull(), s).otherwise(F.lit(0))
                   .cast("long").alias(f"nn_{c}"))
    for c in minmax_cols:
        sel += [F.col(c).alias(f"min_{c}"), F.col(c).alias(f"max_{c}")]
    return df.select(*sel)


def _merge_states(frames: list, group_cols: list[str],
                  sum_cols: list[str],
                  minmax_cols: list[str] = ()) -> DataFrame:
    """Null-safe merge of additive per-group state frames (stored view
    state and/or _state_rows change rows) as ONE union + ONE hash
    aggregation. NULL group keys are real groups: groupBy groups them
    together exactly as the old eqNullSafe full-outer join matched
    them. ``nn_c`` — the signed count of non-null contributions —
    reproduces SQL SUM's NULL-over-all-NULL semantics (sum_c is NULL
    iff the merged nn is 0, exactly the old coalesce/when merge).
    min/max merge monotonically — only valid for groups with NO
    retraction in the interval, same contract as before."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    aggs = [F.sum("cnt").alias("cnt")]
    for c in sum_cols:
        nn = F.coalesce(F.sum(f"nn_{c}"), F.lit(0))
        aggs.append(F.when(nn > 0, F.sum(f"sum_{c}")).alias(f"sum_{c}"))
        aggs.append(nn.cast("long").alias(f"nn_{c}"))
    for c in minmax_cols:
        aggs += [F.min(f"min_{c}").alias(f"min_{c}"),
                 F.max(f"max_{c}").alias(f"max_{c}")]
    return out.groupBy(*group_cols).agg(*aggs)


def _signed_change() -> "F.Column":
    """±1 multiplicity of a CDC row: +1 for insert/update_postimage,
    −1 for delete/update_preimage."""
    return (
        F.when(F.col("_change_type").isin(*_INSERTING), F.lit(1))
        .when(F.col("_change_type").isin(*_RETRACTING), F.lit(-1))
        .cast("long")
    )


def _is_integral_type(t: str) -> bool:
    """Integer-valued Spark SQL types exact under CAST AS LONG —
    decimal(p,0) included."""
    return t in {"tinyint", "smallint", "int", "bigint", "boolean"} \
        or (t.startswith("decimal(") and t.endswith(",0)"))


def _check_sum_cols_integral(sum_cols: list[str], types: dict) -> None:
    bad = [c for c in sum_cols
           if not _is_integral_type(types.get(c, "bigint"))]
    if bad:
        raise TypeError(
            f"sum_cols must be integer-valued for BIGINT-exact additive "
            f"maintenance; {', '.join(f'{c} is {types[c]}' for c in bad)}. "
            f"Pre-scale floats to integer units (the cents rule: "
            f"round(x*100) cast to long) in a projection before the view.")


def _changes_since_cursor(spark, src, v_from, v_to, key, multiset=False):
    """The view's change feed, with a clear failure when the SOURCE was
    vacuumed past the cursor: table_changes needs the manifests back to
    v_from, and a generic FileNotFoundError would send the operator
    digging — name the actual contract instead (retain source manifests
    at least as long as the view's refresh cadence, the same
    checkpoint-vs-vacuum pairing as streaming).

    ``multiset=True`` (the additive consumers: agg/top-k/join views)
    diffs rewriting intervals by FULL-ROW multiplicity instead of by
    key, so the source needs no unique row key — which is what lets a
    view consume ANOTHER VIEW (e.g. an agg view over a flatMap-style
    transform view whose key repeats per output row; the keyed diff
    would pair old×new rows per key and over-count). The transform view
    itself keeps the keyed diff: its delete-vector-by-key + reinsert
    maintenance needs per-key pairing, and its own source contract
    already requires a unique key.

    The vacuum error is a _CursorVacuumed (a RuntimeError):
    _refresh_once heals it by recompute when a fraction is set."""
    import os as _os

    try:
        if multiset:
            return V.table_changes_multiset(spark, src, from_version=v_from,
                                            to_version=v_to)
        return V.table_changes(spark, src, from_version=v_from,
                               to_version=v_to, key=key,
                               include_preimage=True)
    except FileNotFoundError as e:
        if _os.path.exists(V._snap_path(src, v_from)):
            raise  # a different missing file — don't blame vacuum
        raise _CursorVacuumed(
            f"view refresh needs source {src!r} manifests back to its "
            f"cursor v{v_from}, but vacuum already removed them ({e}); "
            f"either vacuum the source with keep_last/retain_seconds "
            f"covering the refresh cadence, or recreate the view from "
            f"the current head"
        ) from e


def create_agg_view(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    group_cols: list[str], sum_cols: list[str] | None = None,
    minmax_cols: list[str] | None = None,
) -> int:
    """Materialize ``SELECT group_cols, COUNT(*) cnt, SUM(c) sum_c,
    MIN/MAX(m) ...`` over the source table's HEAD and record the view
    spec + cursor in the view's manifest. ``key`` is the source's row
    identity, needed when a refresh interval contains rewrites
    (snapshot-diff CDC). ``sum_cols`` must be integer-valued columns
    (BIGINT-exact additivity). ``minmax_cols`` adds min_/max_ columns:
    they are NOT retractable, so a refresh whose interval retracts rows
    from a group RECOMPUTES that group from the source head (filtered by
    a broadcast semi-join on the affected group keys — row volume is the
    affected groups' rows; insert-only groups still merge monotonically
    with least/greatest, no rescan)."""
    sum_cols = list(sum_cols or [])
    minmax_cols = list(minmax_cols or [])

    def check(src_df):
        types = {f.name: f.dataType.simpleString()
                 for f in src_df.schema.fields}
        _check_sum_cols_integral(sum_cols, types)
        missing = [c for c in [key] + list(group_cols) + sum_cols
                   + minmax_cols if c not in types]
        if missing:
            raise ValueError(f"columns not in source schema: {missing}")

    return _create(spark, "agg", view_path, {
        "mv_source": source_path, "mv_key": key,
        "mv_group_cols": list(group_cols), "mv_sum_cols": sum_cols,
        "mv_minmax_cols": minmax_cols,
    }, prepare=check)


def _agg_cols(spec: dict, prefix: str) -> tuple[list, list, list]:
    """(group_cols, sum_cols, minmax_cols) of an agg or join view spec."""
    return (list(spec[f"{prefix}_group_cols"]),
            list(spec[f"{prefix}_sum_cols"]),
            list(spec.get(f"{prefix}_minmax_cols", [])))


def _agg_state(spark, spec, frames):
    return _aggregate(frames[0], *_agg_cols(spec, "mv")), {}


def _agg_delta(r: "_Refresh") -> int:
    group_cols, sum_cols, minmax_cols = _agg_cols(r.spec, "mv")
    (src, v_from, v_to), = r.intervals
    ch = _changes_since_cursor(r.spark, src, v_from, v_to, r.spec["mv_key"],
                               multiset=True)
    cur = V.read(r.spark, r.path, r.view_v, pin_schema=True)
    if not minmax_cols:
        # additive path consumes ch exactly ONCE (the single overwrite
        # write) — no persist needed; change rows union straight into
        # the stored state for ONE group-key exchange (_merge_states)
        return r.commit(V.overwrite, _merge_states(
            [cur, _state_rows(ch, group_cols, sum_cols,
                              sign=_signed_change())],
            group_cols, sum_cols).where(F.col("cnt") > 0))
    # minmax path feeds four plan subtrees from ch; the single-source
    # retraction set is bounded by the interval's CDC rows, so the
    # manifest-derived bound is a sound broadcast decision
    return r.commit(V.overwrite, _two_tier_minmax_state(
        r.persist(ch), _read_source(r.spark, src, v_to), group_cols,
        sum_cols, minmax_cols, cur,
        broadcast_ok=_retraction_bound(src, v_from, v_to)
        <= _broadcast_bound_rows(len(group_cols))))


def refresh_agg_view(spark: SparkSession, view_path: str,
                     recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
                     ) -> int:
    """Advance the view to the source's head by applying the change feed
    since the recorded cursor (spec read from the view manifest). Returns
    the view's new version (current version when already fresh).

    Additive columns (cnt, sum_*) merge as signed deltas. When the view
    tracks min/max, groups touched by a RETRACTING change (delete /
    update_preimage) are recomputed from the source snapshot at the
    target version — restricted by a broadcast semi-join on those group
    keys, so row volume is the affected groups' rows, never the table;
    insert-only groups still merge monotonically (least/greatest) with
    zero source rescan. An append-only refresh therefore never scans
    pre-existing data regardless of spec.

    ``recompute_fraction`` is the cost-based dispatch (default
    _RECOMPUTE_BOUND_FRACTION = 0.5): when the manifest change bound
    exceeds fraction × head rows — i.e. the CDC read would touch more
    rows than a from-scratch groupBy — the refresh recomputes the
    aggregate at the new cursor instead. Identical result either way;
    None forces the incremental path."""
    return _refresh_once(spark, "agg", view_path, recompute_fraction)


def _two_tier_minmax_state(ch, recomp_src, group_cols, sum_cols,
                           minmax_cols, cur, broadcast_ok: bool):
    """The ONE non-retractable-tier skeleton both the single-source and
    join minmax refreshers share: groups touched by a RETRACTING change
    recompute from ``recomp_src`` (the pinned snapshot / pinned join)
    behind a semi-join on the affected group keys; untouched groups take
    the additive merge + monotone min/max of the inserting changes.
    ``ch`` is PERSISTED by the caller (it feeds the insert delta, the
    affected-group keys, and two anti-joins); ``broadcast_ok`` is the
    caller's SOUND smallness decision for the affected-group keys —
    soundness differs per caller (a single-source ret set is bounded by
    its CDC rows; join PAIRS fan out, so the join caller counts).
    Returns the merged view state (uncommitted)."""
    ret_groups = (
        ch.where(F.col("_change_type").isin(*_RETRACTING))
        .select(*group_cols).distinct()
    )
    if broadcast_ok:
        ret_groups = F.broadcast(ret_groups)
    ins = ch.where(F.col("_change_type").isin(*_INSERTING))
    recomp = _aggregate(
        recomp_src.alias("s").join(
            ret_groups.alias("g"),
            _nullsafe_cond("s", "g", group_cols), "left_semi"),
        group_cols, sum_cols, minmax_cols)

    def _minus_affected(df: DataFrame) -> DataFrame:
        return _minus_groups(df, ret_groups, group_cols)

    # the anti-join moves to ROW level (same filtered set: a row's group
    # is in ret_groups iff its aggregate's group is), so the insert
    # delta needs no pre-aggregation — one exchange merges it with the
    # surviving stored state
    ins_rows = _minus_affected(_state_rows(ins, group_cols, sum_cols,
                                           minmax_cols))
    return (
        _merge_states([_minus_affected(cur), ins_rows], group_cols,
                      sum_cols, minmax_cols)
        .unionByName(recomp)
        .where(F.col("cnt") > 0)
    )


def read_agg_view(spark: SparkSession, view_path: str,
                  version: int | None = None) -> DataFrame:
    """The view state at a version (default head) — a plain versioned
    read; exists for symmetry and discoverability."""
    return V.read(spark, view_path, version)


# ---------------------------------------------------------------------------
# Row-transform views: incrementally-maintained DERIVED tables
# ---------------------------------------------------------------------------


def create_transform_view(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    transform, name: str,
) -> int:
    """Incrementally-maintained ROW-TRANSFORM view: view = transform(source),
    where ``transform`` is a deterministic ROW-LOCAL DataFrame→DataFrame
    function that PRESERVES the source's ``key`` column (each source row
    maps to ≥0 view rows tagged with its key — projections, flatMaps,
    signature/feature extraction). The function is application code passed
    to every refresh; the manifest records only its declared ``name`` so a
    refresh with a different transform fails loudly instead of silently
    mixing outputs.

    The 100 TB case: a MinHash signature index or feature table over an
    ingesting corpus — maintenance cost per refresh is the CHANGED rows
    (transform of inserts + a delete vector for retracted keys), and the
    banded near-dup join consumes the index without recomputing
    signatures for the corpus (dedup.minhash_near_dup_incremental)."""
    return _create(spark, "transform", view_path, {
        "tv_source": source_path, "tv_key": key, "tv_name": name,
    }, transform)


def _transform_state(spark, spec, frames, transform):
    state = transform(frames[0])
    if spec["tv_key"] not in state.columns:
        raise ValueError(f"transform must preserve key column "
                         f"{spec['tv_key']!r}; got {state.columns}")
    return state, {}


def _transform_delta(r: "_Refresh", transform) -> int:
    key = r.spec["tv_key"]
    (src, v_from, v_to), = r.intervals
    ch = r.persist(_changes_since_cursor(r.spark, src, v_from, v_to, key))
    retract_keys = (
        ch.where(F.col("_change_type").isin(*_RETRACTING))
        .select(key).distinct()
    )
    ins_rows = (
        ch.where(F.col("_change_type").isin(*_INSERTING))
        .drop("_change_type")
    )
    n_ret = retract_keys.limit(1).count()
    new_state = transform(ins_rows)
    if n_ret:
        # one commit: vector + transformed segment (the segment may
        # be empty — cheap, and the cursor must advance regardless)
        return r.commit(V.delete_and_append, retract_keys, key, new_state)
    # insert-only interval (the common ingest case): one append —
    # empty when the inserts transform to zero view rows (the cursor
    # still advances; a never-advancing cursor would make every later
    # refresh re-diff a growing interval)
    return r.commit(V.append, new_state)


def refresh_transform_view(
    spark: SparkSession, view_path: str, transform, name: str,
    recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Advance a transform view to the source head by the change feed, as
    ONE commit: retracted keys (delete / update_preimage) become a DELETE
    VECTOR and inserted rows (insert / update_postimage) a transformed
    new segment, published together (versioned.delete_and_append) — a
    reader sees the pre-refresh state or the fully-refreshed state,
    never retracted keys without their replacements. The vector's scope
    excludes the same commit's appended segment, so updates are
    delete-then-insert under the versioned layer's re-insert semantics.

    Concurrency: the commit is pinned to the view version read at entry
    (OCC parent), so two racing refreshers serialize — the loser gets
    ConcurrentWriteError and its retry (refresh_view's OCC loop)
    re-reads the ADVANCED cursor, applying only the remaining interval;
    inserts can never double-apply. A crash leaves the cursor behind and
    the re-run re-applies the whole interval idempotently (nothing
    partial was published). Many refreshes accrete segments + vectors —
    versioned.compact() folds the view back down without touching the
    spec (the app namespace carries through every commit), and
    refresh_view(auto_compact=True) runs that fold inline.

    ``recompute_fraction`` is the refresh_agg_view cost dispatch: an
    interval whose CDC scan bound exceeds fraction × head rows
    re-transforms the head as ONE overwrite — identical rows, one scan,
    and the overwrite resets the view's segment accretion for free."""
    return _refresh_once(spark, "transform", view_path, recompute_fraction,
                         transform, name)


# ---------------------------------------------------------------------------
# Per-group TOP-K views: the "trending items" maintained ranking
# ---------------------------------------------------------------------------


def create_topk_view(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    group_cols: list[str], score_col: str, k: int,
) -> int:
    """Maintained per-group TOP-K ranking (``row_number() OVER (PARTITION
    BY groups ORDER BY score DESC, key ASC) <= k``) — the leaderboard /
    trending-items view. Top-k is not additively retractable (evicted
    rows are gone from the view), so maintenance uses the same two-tier
    strategy as MIN/MAX agg views:

    * insert-only groups merge k-BOUNDED: current top-k rows ∪ the new
      candidates re-rank inside the group — never a source rescan, and
      the window input is ≤ k + inserts rows per group (an insert that
      doesn't beat rank k simply falls out);
    * groups hit by a retraction (delete / update_preimage — including a
      row MOVING between groups, which retracts from its old group)
      recompute from the pinned source snapshot behind a broadcast
      semi-join on the affected group keys.

    View columns: group_cols…, key, score_col, rnk (1-based). Ties break
    on key ASC, so the ranking is total and oracle-exact."""
    if int(k) < 1:
        raise ValueError(f"k must be >= 1; got {k}")

    def check(src_df):
        missing = [c for c in list(group_cols) + [key, score_col]
                   if c not in src_df.columns]
        if missing:
            raise ValueError(f"columns not in source schema: {missing}")

    return _create(spark, "topk", view_path, {
        "kv_source": source_path, "kv_key": key,
        "kv_group_cols": list(group_cols), "kv_score_col": score_col,
        "kv_k": int(k),
    }, prepare=check)


def _topk_of(df: DataFrame, group_cols: list[str], key: str,
             score_col: str, k: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(
        F.desc(score_col), F.asc(key))
    return (
        df.select(*group_cols, key, score_col)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
    )


def _spec_topk(df: DataFrame, spec: dict) -> DataFrame:
    return _topk_of(df, list(spec["kv_group_cols"]), spec["kv_key"],
                    spec["kv_score_col"], int(spec["kv_k"]))


def _topk_state(spark, spec, frames):
    return _spec_topk(frames[0], spec), {}


def _topk_delta(r: "_Refresh") -> int:
    key, score_col = r.spec["kv_key"], r.spec["kv_score_col"]
    group_cols = list(r.spec["kv_group_cols"])
    (src, v_from, v_to), = r.intervals
    ch = r.persist(_changes_since_cursor(r.spark, src, v_from, v_to, key,
                                         multiset=True))
    ret_groups = _hint_ret_groups(
        ch.where(F.col("_change_type").isin(*_RETRACTING))
        .select(*group_cols).distinct(),
        src, v_from, v_to)
    ins = (
        ch.where(F.col("_change_type").isin(*_INSERTING))
        .select(*group_cols, key, score_col)
    )
    cur = V.read(r.spark, r.path, r.view_v, pin_schema=True)
    # DETERMINISTIC skip of the retraction tier (not AQE empty-relation
    # pruning): the common insert-only ingest refresh must never plan a
    # source-snapshot scan
    if not ret_groups.limit(1).count():
        return r.commit(V.overwrite, _spec_topk(
            cur.select(*group_cols, key, score_col).unionByName(ins),
            r.spec))

    def _minus_affected(df: DataFrame) -> DataFrame:
        return _minus_groups(df, ret_groups, group_cols)

    # insert-only groups: k-bounded re-rank of (current top-k ∪ new)
    survivors = _minus_affected(cur).select(*group_cols, key, score_col)
    regrown = _spec_topk(survivors.unionByName(_minus_affected(ins)),
                         r.spec)
    # affected groups: recompute from the pinned snapshot
    src_at = _read_source(r.spark, src, v_to).alias("s")
    recomp = _spec_topk(
        src_at.join(ret_groups.alias("g"),
                    _nullsafe_cond("s", "g", group_cols), "left_semi"),
        r.spec)
    return r.commit(V.overwrite, regrown.unionByName(recomp))


def refresh_topk_view(spark: SparkSession, view_path: str,
                      recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION) -> int:
    """Advance a top-k view to the source head (one-consistent-read +
    OCC-pinned commit, the refresh_agg_view contract).
    ``recompute_fraction`` is the same cost-based dispatch as
    refresh_agg_view: when the CDC read would scan more than
    fraction × head rows, rerank from the head snapshot instead —
    identical result (the initial materialization IS that ranking)."""
    return _refresh_once(spark, "topk", view_path, recompute_fraction)


# ---------------------------------------------------------------------------
# Incremental JOIN views: maintained aggregates over an equi-join of TWO
# versioned sources
# ---------------------------------------------------------------------------


def _change_bound(src: str, v_from: int, v_to: int) -> int:
    """Manifest-only (zero Spark jobs) upper bound on the number of CDC
    rows in an interval: append-only intervals are bounded by the new
    segments' recorded row counts; a rewriting interval's snapshot diff
    emits at most old + new snapshot rows (every change row is a row of
    one of the two snapshots)."""
    from .catalog import table_row_count as _footer_rows
    import os as _os

    append_only, new_rows = True, 0
    for v in range(v_from + 1, v_to + 1):
        m = V._manifest(src, v)
        append_only = append_only and m["op"] in V.APPEND_OPS
        parent = V._manifest(src, v - 1)
        sr = m.get("seg_rows", {})
        for s in V._manifest_segments(m) - V._manifest_segments(parent):
            # a missing seg_rows entry must NOT silently count as 0 — an
            # underestimated "upper bound" would wrongly enable the
            # broadcast this guard exists to prevent; fall back to the
            # parquet footer (the same fallback _manifest_row_count uses)
            n = sr.get(s)
            new_rows += int(n) if n is not None \
                else _footer_rows(_os.path.join(src, s))
    if append_only:
        return new_rows
    return (V._manifest_row_count(src, V._manifest(src, v_from))
            + V._manifest_row_count(src, V._manifest(src, v_to)))


def _on_cols(on) -> list[str]:
    """Normalize the equi-join spec to a column list: ``on`` is a single
    column name or a list of them (composite keys). Manifests written
    before the composite-key extension store a plain string — both render
    back through this one normalizer."""
    return [on] if isinstance(on, str) else list(on)


def _prune_to_delta_keys(snap: DataFrame, ch: DataFrame, on: list[str],
                         change_bound: int) -> DataFrame:
    """Key-prune the OPPOSITE side's snapshot to the delta's join keys
    before the delta-join — when the interval's change bound is small
    (the common ingest refresh), the broadcast semi-join turns
    "delta ⋈ snapshot" from a full-snapshot shuffle into a scan that
    keeps only matching keys. Past the bound a shuffle semi-join would
    cost as much as the join it guards, so the snapshot passes through
    un-pruned and AQE plans the honest join. ``change_bound`` is the
    caller's _change_bound for the interval (computed once per side
    per refresh — it may open parquet footers on legacy manifests)."""
    if change_bound <= _broadcast_bound_rows(len(on)):
        # no distinct(): a left_semi probe matches any copy, so dup keys
        # in the broadcast relation change nothing — and dropping the
        # distinct drops a full exchange + two aggregates from every
        # refresh (rows are already bounded by change_bound)
        return snap.join(F.broadcast(ch.select(*on)), on, "left_semi")
    return snap


def _validate_join_sources(l_df: DataFrame, r_df: DataFrame,
                           on: list[str]) -> None:
    """Shared create-time schema guard for BOTH join-view flavors."""
    if len(set(on)) != len(on) or not on:
        raise ValueError(f"join columns must be non-empty and unique: {on}")
    for c in on:
        if c not in l_df.columns or c not in r_df.columns:
            raise ValueError(
                f"join column {c!r} must exist in both sources")
    clash = (set(l_df.columns) & set(r_df.columns)) - set(on)
    if clash:
        raise ValueError(
            f"column names must be unique across the two sources (rename "
            f"in a projection before the view): {sorted(clash)}")


def _interval_append_only(src: str, v_from: int, v_to: int) -> bool:
    """Manifest-only: every commit in (v_from, v_to] is an append (an
    empty interval is trivially append-only)."""
    return all(V._manifest(src, v)["op"] in V.APPEND_OPS
               for v in range(v_from + 1, v_to + 1))


def _delta_pair_frames(spark, lsrc, rsrc, on, ch_l, ch_r,
                       l_bound, r_bound, l_to, r_from):
    """The signed delta rule's two pair terms, shared by BOTH join-view
    flavors: ΔL ⋈ key-pruned R@r_from, and L@l_to key-pruned ⋈ ΔR.
    ``on`` is the normalized join-column list (composite keys join on
    the full tuple); ``ch_l``/``ch_r`` are the persisted CDC frames
    from _join_delta_frames (None = side unchanged);
    ``l_bound``/``r_bound`` are each side's _change_bound, computed
    ONCE by the refresher and passed to every consumer (the bound can
    open parquet footers on legacy manifests — real I/O)."""
    frames = []
    if ch_l is not None:
        r_old = _prune_to_delta_keys(
            _read_source(spark, rsrc, r_from), ch_l, on, l_bound)
        frames.append(ch_l.join(r_old, on))
    if ch_r is not None:
        l_new = _prune_to_delta_keys(
            _read_source(spark, lsrc, l_to), ch_r, on, r_bound)
        frames.append(l_new.join(ch_r, on))
    return frames


def _null_extend(df: DataFrame, right_fields, on: list[str]) -> DataFrame:
    """Extend a LEFT-side frame with the right side's non-join columns as
    typed NULLs — the SQL null-extension of an unmatched left row in a
    LEFT OUTER join. ``right_fields`` is the right source's schema
    fields; join columns and any column already present pass through."""
    out = df
    for f in right_fields:
        if f.name not in on and f.name not in df.columns:
            out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
    return out


def _all_on_notnull(on: list[str]):
    cond = None
    for c in on:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else cond & nn
    return cond


def _delta_nullext_frames(spark, lsrc, rsrc, on, r_fields, ch_l, ch_r,
                          l_bound, r_bound, l_to, r_from):
    """The LEFT OUTER join's anti-semijoin (null-extension) delta — the
    two terms that telescope N(L2,R2) − N(L1,R1) for N(L,R) = the
    null-extended copies of L rows with no R match (SQL semantics: a
    left row with any NULL join component is always unmatched):

      term A: ΔL ▷ R1 — signed ΔL rows whose key has no match in the
        right snapshot AT THE CURSOR (left_anti keeps NULL-key rows,
        matching SQL), null-extended;
      term B: (keys whose right match count flips 0↔positive between
        R1 and R2) ⋈ L2 — a right delta can flip EVERY left row at its
        key between matched and null-extended; the null-extension
        appears (+, "insert") when the key's last match disappears and
        retracts (−, "delete") when a first match appears. m2 is
        derived as m1 + Δcount from the right CDC itself, so only R1
        is scanned — pruned to the delta's keys behind the same
        size-guarded broadcast semi-join. NULL-component ΔR keys are
        excluded up front: they can never match a left row, so they
        can never flip one.

    The bracketing (R1 for term A, flips applied to L2) mirrors the
    inner-pair rule's asymmetry and telescopes exactly the same way.
    ``ch_l``/``ch_r`` are the SAME persisted CDC frames the pair terms
    consume — the snapshot diff runs once per side per refresh."""
    frames = []
    if ch_l is not None:
        r1_keys = _prune_to_delta_keys(
            _read_source(spark, rsrc, r_from).select(*on), ch_l, on,
            l_bound)
        frames.append(_null_extend(
            ch_l.join(r1_keys, on, "left_anti"), r_fields, on))
    if ch_r is not None:
        ch_rk = ch_r.where(_all_on_notnull(on))
        keys_r = ch_rk.select(*on).distinct()
        r1_at = _prune_to_delta_keys(
            _read_source(spark, rsrc, r_from).select(*on), ch_rk, on,
            r_bound)
        m1 = r1_at.groupBy(*on).agg(F.count(F.lit(1)).alias("_m1"))
        md = ch_rk.groupBy(*on).agg(
            F.sum(_signed_change()).alias("_md"))
        k, a, d = keys_r.alias("k"), m1.alias("a"), md.alias("d")
        flips = (
            k.join(a, _nullsafe_cond("k", "a", on), "left")
            .join(d, _nullsafe_cond("k", "d", on), "left")
            .select(*[F.col(f"k.{c}").alias(c) for c in on],
                    F.coalesce(F.col("a._m1"), F.lit(0)).alias("_m1"),
                    (F.coalesce(F.col("a._m1"), F.lit(0))
                     + F.coalesce(F.col("d._md"), F.lit(0))).alias("_m2"))
            .where(((F.col("_m1") == 0) & (F.col("_m2") > 0))
                   | ((F.col("_m1") > 0) & (F.col("_m2") == 0)))
            .select(*on,
                    F.when(F.col("_m2") == 0, F.lit("insert"))
                    .otherwise(F.lit("delete")).alias("_change_type"))
        )
        # flip keys are bounded by the ΔR distinct keys — the same
        # manifest bound that guards the snapshot pruning
        if r_bound <= _broadcast_bound_rows(len(on)):
            flips = F.broadcast(flips)
        frames.append(_null_extend(
            _read_source(spark, lsrc, l_to).join(flips, on),
            r_fields, on))
    return frames


def create_join_view(
    spark: SparkSession, left_path: str, right_path: str, view_path: str,
    on: str | list[str], left_key: str, right_key: str,
    group_cols: list[str], sum_cols: list[str] | None = None,
    minmax_cols: list[str] | None = None, how: str = "inner",
) -> int:
    """Materialize ``SELECT group_cols, COUNT(*) cnt, SUM(c) sum_c,
    MIN/MAX(m) ... FROM left {INNER|LEFT} JOIN right USING (on...)
    GROUP BY group_cols`` over the two sources' heads, recording BOTH
    cursors in the view manifest — the two-source extension of
    create_agg_view (the Materialize / DBSP-style incremental join,
    maintained by the signed delta rule; see refresh_join_view).
    ``on`` is the equi-join column or COLUMN LIST (composite keys join
    on the full tuple — no synthetic concat column needed, so source
    zone maps / pruning stay intact), present in both sources; every
    other column name must be unique across the two schemas (no
    qualifier syntax in view specs). ``left_key`` / ``right_key`` are
    each source's row identity for rewriting-interval CDC. COUNT/SUMs
    are additively retractable (BIGINT-exact with nn_* null counters);
    ``minmax_cols`` adds min_/max_ columns maintained by the agg view's
    two-tier strategy — insert-only groups merge monotonically, groups
    hit by a retracting PAIR recompute from the pinned L⋈R at the new
    cursors, restricted by a semi-join on the affected group keys.

    ``how='left'`` maintains the LEFT OUTER join (unmatched left rows
    aggregate null-extended — the TPC-H Q13 shape: customers with zero
    orders stay in the count). The outer flavor adds the anti-semijoin
    delta terms (_delta_nullext_frames) to the signed rule; min/max go
    through the same pair-level two-tier recompute — the affected-group
    marking stays exhaustive because every removed contribution
    (matched pair OR null-extension) appears as a retracting row in
    one of the four delta frames: deleted pairs in the pair terms,
    deleted unmatched rows in term A, and match-flips in term B (a key
    gaining its first match emits "delete" null-extensions for every
    left row it flips). Affected groups recompute from the pinned LEFT
    join at the new cursors."""
    sum_cols = list(sum_cols or [])
    minmax_cols = list(minmax_cols or [])
    group_cols = list(group_cols)
    on = _on_cols(on)
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")

    def check(l_df, r_df):
        _validate_join_sources(l_df, r_df, on)
        types = {f.name: f.dataType.simpleString()
                 for f in l_df.schema.fields + r_df.schema.fields}
        _check_sum_cols_integral(sum_cols, types)
        missing = [c for c in group_cols + sum_cols + minmax_cols
                   if c not in types]
        if missing:
            raise ValueError(
                f"columns not in either source schema: {missing}")

    return _create(spark, "join", view_path, {
        "jv_left": left_path, "jv_right": right_path, "jv_on": on,
        "jv_left_key": left_key, "jv_right_key": right_key,
        "jv_group_cols": group_cols, "jv_sum_cols": sum_cols,
        "jv_minmax_cols": minmax_cols, "jv_how": how,
    }, prepare=check)


def _join_of(spec: dict, prefix: str, left: DataFrame,
             right: DataFrame) -> DataFrame:
    """The view's equi-join of its two sources (join and join-table
    specs)."""
    return left.join(right, _on_cols(spec[f"{prefix}_on"]),
                     spec.get(f"{prefix}_how", "inner"))


def _join_delta_frames(r: "_Refresh", prefix: str) -> tuple[list, bool]:
    """The signed delta frames of a join-kind refresh interval, shared
    by BOTH join-view flavors: each side's multiset CDC frame
    (persisted — each feeds at least two plan subtrees; None for a side
    whose cursor is at head), the two pair terms, and for the LEFT
    flavor the null-extension terms. Each side's change bound is
    computed at most ONCE per refresh (it can open parquet footers on
    legacy manifests — real I/O): the dispatch's bounds when it
    computed them, else here. Returns (frames, whether the right change
    frame was absent)."""
    on = _on_cols(r.spec[f"{prefix}_on"])
    (lsrc, l_from, l_to), (rsrc, r_from, r_to) = r.intervals
    l_bound, r_bound = r.bounds if r.bounds is not None else [
        _change_bound_safe(s, a, b) if b > a else 0
        for s, a, b in r.intervals]
    ch_l, ch_r = [
        r.persist(_changes_since_cursor(r.spark, s, a, b, None,
                                        multiset=True)) if b > a else None
        for s, a, b in r.intervals]
    frames = _delta_pair_frames(r.spark, lsrc, rsrc, on, ch_l, ch_r,
                                l_bound, r_bound, l_to, r_from)
    if r.spec.get(f"{prefix}_how", "inner") == "left":
        r_fields = _read_source(r.spark, rsrc, r_to).schema.fields
        frames = frames + _delta_nullext_frames(
            r.spark, lsrc, rsrc, on, r_fields, ch_l, ch_r,
            l_bound, r_bound, l_to, r_from)
    return frames, ch_r is None


def _jv_state(spark, spec, frames):
    return _aggregate(_join_of(spec, "jv", *frames),
                      *_agg_cols(spec, "jv")), {}


def _jv_delta(r: "_Refresh") -> int:
    group_cols, sum_cols, minmax_cols = _agg_cols(r.spec, "jv")
    pair_frames, _ = _join_delta_frames(r, "jv")
    cur = V.read(r.spark, r.path, r.view_v, pin_schema=True)
    if not minmax_cols:
        # ALL pair terms + the stored state merge in ONE union + ONE
        # group-key exchange (the old per-term aggregate+full-outer fold
        # paid 3 exchanges per term)
        return r.commit(V.overwrite, _merge_states(
            [cur] + [_state_rows(p, group_cols, sum_cols,
                                 sign=_signed_change())
                     for p in pair_frames],
            group_cols, sum_cols).where(F.col("cnt") > 0))
    return _refresh_join_minmax(r, pair_frames, cur, group_cols, sum_cols,
                                minmax_cols)


def _head_rows(src: str, v_to: int) -> int:
    return V._manifest_row_count(src, V._manifest(src, v_to))


def _change_bound_safe(src: str, v_from: int, v_to: int) -> float:
    """_change_bound for the DISPATCH decision: when the source was
    vacuumed past the cursor the interval's manifests are gone and the
    CDC read is IMPOSSIBLE — its cost is infinite, so dispatch picks
    recompute, which needs no history and SELF-HEALS the view from the
    head (a refresh scheduler keeps running through an over-eager
    vacuum). With fraction None the delta's CDC read raises the named
    vacuum-contract error instead — self-healing is something the
    operator opts into together with the cost model."""
    try:
        return _change_bound(src, v_from, v_to)
    except FileNotFoundError:
        return float("inf")


def _source_rolled_back(srcs_cursors_heads, fraction) -> bool:
    """A source ROLLED BACK below a view's cursor (head < cursor —
    out-of-band manifest removal; restore() itself commits forward)
    makes the incremental interval meaningless — there is no forward
    change feed from a future version. With dispatch enabled
    (``fraction`` set) the refresh SELF-HEALS by recomputing from the
    current head (resetting the cursor); incremental-only callers get
    a NAMED error instead of table_changes' baffling interval
    ValueError. Returns True when a heal-recompute should run."""
    behind = [(s, c, h) for s, c, h in srcs_cursors_heads if c > h]
    if not behind:
        return False
    if fraction is not None:
        return True
    s, c, h = behind[0]
    raise RuntimeError(
        f"source {s!r} head v{h} is BEHIND the view cursor v{c} — the "
        f"source was restored/rolled back past the cursor; refresh with "
        f"recompute_fraction set (self-heal recompute from the current "
        f"head) or recreate the view")


def _dispatch_recompute(fraction, intervals, cost_model: bool = True):
    """The ONE heal + cost decision every refresh takes (in
    _refresh_once). ``intervals`` is [(src, cursor, head), ...].
    Returns ``(recompute, bounds)``:

    * recompute=True, bounds=None — a source rolled back below its
      cursor and ``fraction`` is set: self-heal from the heads (with
      fraction None, _source_rolled_back raises the named error
      instead). No bound I/O happens on this path.
    * recompute per the row-scan cost model, bounds = the per-interval
      change bounds (computed once here — callers that also key-prune
      reuse them instead of re-walking manifests/footers).
    * fraction None, or a kind whose recompute only heals
      (``cost_model`` False), and no rollback: (False, None) — the
      incremental path, zero bound I/O."""
    if _source_rolled_back(intervals, fraction):
        return True, None
    if fraction is None or not cost_model:
        return False, None
    bounds = [_change_bound_safe(s, a, b) if b > a else 0
              for s, a, b in intervals]
    heads = [_head_rows(s, b) for s, _a, b in intervals]
    return _should_recompute(fraction, list(zip(bounds, heads))), bounds


def _should_recompute(fraction, bounds_and_heads) -> bool:
    """``bounds_and_heads`` is [(change_bound, head_rows), ...] — one
    entry per source (bound 0 for a side whose cursor is at head: a
    recompute still scans it, so its head rows count toward the
    recompute side of the comparison). None fraction disables
    dispatch."""
    if fraction is None:
        return False
    bound = sum(b for b, _ in bounds_and_heads)
    head = sum(h for _, h in bounds_and_heads)
    return bound > fraction * max(head, 1)


def refresh_join_view(spark: SparkSession, view_path: str,
                      recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION) -> int:
    """Advance a join view to both sources' heads by the SIGNED DELTA
    RULE — with L1/R1 the snapshots at the cursors and L2/R2 at the
    heads:

        Δ(L ⋈ R) = ΔL ⋈ R1  +  L2 ⋈ ΔR

    which telescopes exactly (L2⋈R1 − L1⋈R1 + L2⋈R2 − L2⋈R1 =
    L2⋈R2 − L1⋈R1) in signed-multiset semantics: each CDC row carries
    ±1 (insert/postimage vs delete/preimage), the snapshot side carries
    its plain multiplicity, and a pair's sign is the delta row's sign —
    so updates, deletes, and rows changing join keys all maintain the
    aggregate without recomputing the join. The asymmetric bracketing
    (R at its OLD version, L at its NEW one) is what makes the
    both-sides-advanced interval exact: ΔL⋈ΔR pairs appear exactly once,
    in the second term. Each term's snapshot is key-pruned to the
    delta's join keys behind a size-guarded broadcast semi-join
    (_prune_to_delta_keys), so an ingest-sized refresh touches
    delta-matching rows of the big side, never the table.

    At 100 TB: a day of ingest into either source refreshes the view
    for a day-of-data scan ⋈ matching keys + a groups-sized merge —
    the join itself is never recomputed. The asymmetry also means the
    RIGHT source must retain manifests back to the view's right cursor
    (same vacuum contract as _changes_since_cursor documents).

    The LEFT-outer flavor (spec ``jv_how='left'``) adds the
    anti-semijoin delta terms (_delta_nullext_frames) so unmatched left
    rows stay aggregated null-extended through appends, deletes, and
    match-flips on either side.

    ``recompute_fraction`` is the cost-based dispatch (default
    _RECOMPUTE_BOUND_FRACTION = 0.5; None forces the incremental
    path): when the manifest change bound says the CDC read would
    touch more than fraction × head rows — i.e. more than a
    from-scratch recompute of the join aggregate would scan — the
    refresh recomputes at the new cursors instead: identical result,
    one scan instead of two-plus.

    One-consistent-read + OCC parent pinning, as refresh_agg_view."""
    return _refresh_once(spark, "join", view_path, recompute_fraction)


def _refresh_join_minmax(r: "_Refresh", pair_frames, cur, group_cols,
                         sum_cols, minmax_cols) -> int:
    """The join view's non-retractable tier — the shared two-tier
    skeleton (_two_tier_minmax_state) applied at PAIR level: any
    retracting delta pair marks its group affected (this is exhaustive —
    a term-1 pair built against a pre-state right row is always mirrored
    by a term-2 retracting pair for the same (left-row, right-row)
    combination, because L_new contains the left row and ΔR retracts the
    right row — so a stale monotone candidate can never land in an
    unaffected group); affected groups recompute from the PINNED join at
    the new cursors — inner or LEFT per the view spec (the LEFT flavor's
    null-extension frames are part of ``pair_frames``, so their
    retractions mark groups through the same union).

    Broadcast soundness: join pairs FAN OUT — a handful of source change
    rows can touch millions of pairs/groups, so the manifest-derived
    change bound does NOT bound ret_groups here (unlike the
    single-source tier). The decision instead COUNTS retracting pairs,
    capped at the broadcast bound + 1: one cheap job over the persisted
    pairs that also provides the deterministic skip of the retraction
    tier (the common ingest refresh must never plan a two-snapshot join
    scan)."""
    # project to the spec columns BEFORE the union: the terms' carried
    # columns can differ under source schema evolution
    # (_aligned_snapshots widens the delta side), and the tier only ever
    # reads spec columns — this also shrinks the persisted set
    frames = [_spec_pair_cols(p, group_cols, sum_cols, minmax_cols)
              for p in pair_frames]
    pairs = frames[0]
    for p in frames[1:]:
        pairs = pairs.unionByName(p)
    pairs = r.persist(pairs)  # feeds ret_groups, ins, and two anti-joins
    ret_cap = _broadcast_bound_rows(len(group_cols))
    n_ret_capped = (
        pairs.where(F.col("_change_type").isin(*_RETRACTING))
        .limit(ret_cap + 1).count()
    )
    if not n_ret_capped:
        ins = pairs.where(F.col("_change_type").isin(*_INSERTING))
        return r.commit(V.overwrite, _merge_states(
            [cur, _state_rows(ins, group_cols, sum_cols, minmax_cols)],
            group_cols, sum_cols, minmax_cols
        ).where(F.col("cnt") > 0))
    (lsrc, _, l_to), (rsrc, _, r_to) = r.intervals
    joined_at = _join_of(r.spec, "jv", _read_source(r.spark, lsrc, l_to),
                         _read_source(r.spark, rsrc, r_to))
    return r.commit(V.overwrite, _two_tier_minmax_state(
        pairs, joined_at, group_cols, sum_cols, minmax_cols, cur,
        broadcast_ok=n_ret_capped <= ret_cap))


def _spec_pair_cols(df: DataFrame, group_cols, sum_cols,
                    minmax_cols) -> DataFrame:
    cols, seen = ["_change_type"], {"_change_type"}
    for c in list(group_cols) + list(sum_cols) + list(minmax_cols):
        if c not in seen:
            cols.append(c)
            seen.add(c)
    return df.select(*cols)


# ---------------------------------------------------------------------------
# Operational surface: view inspection / freshness
# ---------------------------------------------------------------------------

def _view_node(path: str):
    """ONE manifest read resolving a table's place in the view graph:
    (kind, spec, source_paths) for a maintained view, None for a base
    table — the single walker primitive refresh_view and
    _walk_views_post_order share (a view kind added to _VIEW_KINDS is
    automatically visible to both)."""
    try:
        spec = V._manifest(path, V.current_version(path)).get("app") or {}
    except FileNotFoundError:
        return None
    for kind, k in _VIEW_KINDS.items():
        if k.marker in spec:
            return kind, spec, [spec[sk] for sk, _ in k.sources]
    return None


def _view_kind(path: str) -> str | None:
    """The view kind of a versioned table, or None for a base table —
    manifest-only (zero Spark jobs)."""
    node = _view_node(path)
    return None if node is None else node[0]


def refresh_view(spark: SparkSession, view_path: str,
                 transforms: dict | None = None,
                 recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
                 max_retries: int = 3,
                 auto_compact: bool = False,
                 compact_threshold: int = 32) -> int:
    """THE refresh entry for every maintained view kind: advance the
    view to its sources' heads through _refresh_once.
    Transform views need their function — pass ``transforms`` mapping
    view path → (transform_fn, name), the pair refresh_transform_view
    takes. Each attempt runs under the OCC rebase loop
    (versioned.with_retry, ``max_retries``): a concurrent refresher's
    commit makes the loser re-read the advanced cursor instead of
    surfacing ConcurrentWriteError. ``auto_compact`` then runs
    versioned.maybe_compact(``compact_threshold``) once, for any kind —
    the segment-accreting ones (transform, join-table, the pair views
    and the text / ANN / IVF indexes) gain a segment plus a delete
    vector per refresh, and an unattended refresher must keep query
    latency and manifest size bounded; the no-op case is one manifest
    read. Returns the view's version."""
    kind = _view_kind(view_path)
    if kind is None:
        raise ValueError(f"{view_path} is not a maintained view")
    fn_and_name = ()
    if kind == "transform":
        fn_and_name = (transforms or {}).get(view_path)
        if fn_and_name is None:
            raise ValueError(
                f"{view_path} is a transform view — its function is "
                f"application code; pass transforms={{path: (fn, name)}}")
    out_v = V.with_retry(
        lambda: _refresh_once(spark, kind, view_path, recompute_fraction,
                              *fn_and_name),
        max_retries)
    if auto_compact:
        out_v = V.maybe_compact(spark, view_path, compact_threshold)
    return out_v


def _walk_views_post_order(view_path: str):
    """The ONE traversal of the manifest-declared view graph every
    graph consumer shares: post-order (sources before consumers —
    refresh order), diamond-deduplicated, cycle-guarded. Returns
    (view_nodes, base_leaves) where view_nodes is [(path, (kind, spec,
    sources)), ...] and base_leaves the non-view tables reached."""
    order: list = []
    leaves: set[str] = set()
    visiting: set[str] = set()
    done: set[str] = set()

    def _w(path: str) -> None:
        if path in done:
            return
        if path in visiting:
            raise ValueError(f"view dependency cycle through {path}")
        node = _view_node(path)
        if node is None:
            done.add(path)
            leaves.add(path)
            return
        visiting.add(path)
        for src in node[2]:
            _w(src)
        visiting.discard(path)
        done.add(path)
        order.append((path, node))

    _w(view_path)
    return order, sorted(leaves)


def refresh_cascade(spark: SparkSession, view_path: str,
                    transforms: dict | None = None,
                    recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
                    max_retries: int = 3,
                    auto_compact: bool = False,
                    compact_threshold: int = 32) -> list[str]:
    """Refresh a view AND every upstream view it depends on, bottom-up
    (post-order over the source graph — a source that is itself a view
    is refreshed before its consumer, so one call brings a whole
    composition chain to the base tables' heads; the 3-way join view
    over a join-table view is the canonical case). Views are versioned
    tables, so the graph is discovered from manifests alone — zero
    Spark jobs beyond the refreshes themselves. Returns the refreshed
    paths in refresh order. Diamond dependencies refresh once (visited
    set); a cycle (impossible to CREATE through this module, but
    manifests are just files) raises instead of spinning. Each node
    refreshes through refresh_view — OCC-retried, with auto-compaction
    available for the segment-accreting kinds."""
    nodes, _leaves = _walk_views_post_order(view_path)
    for path, _node in nodes:
        refresh_view(spark, path, transforms=transforms,
                     recompute_fraction=recompute_fraction,
                     max_retries=max_retries, auto_compact=auto_compact,
                     compact_threshold=compact_threshold)
    return [p for p, _ in nodes]


def vacuum_source_safely(path: str, keep_last: int = 1,
                         retain_seconds: float | None = None,
                         views=(), dry_run: bool = False) -> list[str]:
    """versioned.vacuum CLAMPED to the given views' refresh cursors:
    the view-refresh contract says a source must retain manifests back
    to every dependent view's cursor (a reaped interval turns the next
    refresh into the named vacuum error, or a heal-recompute), and
    until now honoring it was the operator's manual arithmetic. Pass
    the views that read ``path`` (directly or through a composition —
    the graph walker finds the edges) and keep_last is raised so the
    oldest needed cursor's manifest survives; views that do NOT read
    this source are ignored, so one fleet-wide view list works for
    every source's vacuum. Zero Spark jobs; returns vacuum()'s deleted
    segment list."""
    cursors = _cursors_into(path, views)
    if cursors:
        keep_last = max(int(keep_last),
                        V.current_version(path) - min(cursors) + 1)
    return V.vacuum(path, keep_last=keep_last,
                    retain_seconds=retain_seconds, dry_run=dry_run)


def _cursors_into(path: str, views) -> list[int]:
    """Every dependent view cursor that reads ``path`` (directly or
    through a composition — the graph walker finds the edges). The ONE
    copy of the cursor scan: vacuum_source_safely clamps with it and
    the refresh streams derive their vacuum floors from it. Manifest
    reads only, zero Spark jobs."""
    import os as _os

    ap = _os.path.abspath(path)
    cursors: list[int] = []
    for vw in views:
        nodes, _leaves = _walk_views_post_order(vw)
        for _p, (kind, spec, _srcs) in nodes:
            for src_key, cur_key in _VIEW_KINDS[kind].sources:
                if _os.path.abspath(spec[src_key]) == ap:
                    cursors.append(int(spec[cur_key]))
    return cursors


def describe_cascade(view_path: str) -> list[dict]:
    """describe_view for a whole composition chain, bottom-up (the
    refresh_cascade order): one entry per VIEW node with its kind,
    per-source freshness, and lag — the dashboard call for "is this
    pipeline keeping up, and where is it behind?". Manifest-only, zero
    Spark jobs."""
    nodes, _leaves = _walk_views_post_order(view_path)
    if not nodes:
        raise ValueError(f"{view_path} is not a maintained view")
    return [describe_view(p) for p, _ in nodes]


def view_base_tables(view_path: str) -> list[str]:
    """The BASE tables (non-view leaves) a view composition ultimately
    reads, discovered from manifests alone — what a cascade-refresh
    stream tails: waking on base commits (and only base commits) means
    the cascade's own intermediate-view commits never wake the stream
    that issued them. Sorted, deduplicated."""
    return _walk_views_post_order(view_path)[1]


def describe_view(view_path: str) -> dict:
    """Metadata-only view report (versioned.describe plus the VIEW
    layer): kind, spec, and per-source FRESHNESS — cursor version,
    source head, and ``lag`` (head − cursor commits; 0 = fresh). All
    driver-side manifest reads, zero Spark jobs — the monitoring entry
    point for "is this view keeping up?" that a refresh-scheduler or
    dashboard polls. Raises ValueError for a versioned table that is
    not a maintained view."""
    base = V.describe(view_path)
    spec = base.get("app") or {}

    def _src_entry(src: str, cursor: int) -> dict:
        head = V.current_version(src)
        return {"path": src, "cursor_version": int(cursor),
                "head_version": head, "lag": head - int(cursor)}

    for kind, k in _VIEW_KINDS.items():
        if k.marker in spec:
            sources = [_src_entry(spec[sk], spec[vk])
                       for sk, vk in k.sources]
            return base | {
                "view_kind": kind,
                "sources": sources,
                "fresh": all(s["lag"] == 0 for s in sources),
            }
    raise ValueError(f"{view_path} is not a maintained view "
                     f"(no view spec in its manifest app namespace)")


def describe_index(view_path: str) -> dict:
    """DESCRIBE INDEX — the operator-facing window into a maintained
    index kind (text/ANN/IVF): everything describe_view reports (kind,
    per-source cursor lag, freshness) plus the index's key, its
    at-rest layout (flat vs bucketed + n_buckets, from the base
    manifest), row/segment counts, the kind-specific spec parameters,
    and — for IVF — the drift-governance readout
    (ivfindex.ivf_drift_report: cell-distribution TV + mean
    quantization error vs the create-time baseline, with the alarm
    verdict). Purely driver-side manifest math, ZERO Spark jobs: a
    dashboard can poll it per index per minute for the cost of two KB
    reads."""
    from . import indexkind as IK  # local: IK imports this module

    out = describe_view(view_path)
    kind = IK.kinds().get(out.get("view_kind"))
    if kind is None:
        raise ValueError(f"{view_path} is a {out.get('view_kind')} view, "
                         f"not a maintained index "
                         f"({' / '.join(IK.kinds())})")
    spec = out.get("app") or {}
    out["index_kind"] = kind.name
    out["key"] = spec.get(f"{kind.prefix}_key")
    return out | kind.describe(view_path, spec)


# ---------------------------------------------------------------------------
# Row-level JOIN TABLE views: the maintained DENORMALIZATION table
# ---------------------------------------------------------------------------

_PAIR_KEY = "_pair_key"
_PAIR_SEP = "\x01"  # unlikely in key renderings; keys are row identities


def create_join_table_view(
    spark: SparkSession, left_path: str, right_path: str, view_path: str,
    on: str | list[str], left_key: str, right_key: str,
    how: str = "inner",
) -> int:
    """Materialize the JOIN ROWS themselves — ``SELECT l.*, r.* FROM
    left {INNER|LEFT} JOIN right USING (on...)`` — as a maintained
    denormalization table (the pre-joined serving table every star
    schema wants without re-running the join). ``on`` is the equi-join
    column or COLUMN LIST (composite keys). Each row carries
    ``_pair_key`` = left_key + SEP + right_key, the row identity the
    incremental maintenance deletes by; both source keys must be
    UNIQUE row identities (the same contract transform views place on
    their source), which makes every join pair unique. Column names
    must be unique across the two schemas except ``on``.

    ``how='left'`` keeps unmatched left rows null-extended (right
    columns NULL, pair key's right half the NULL sentinel — unique per
    left row because left_key is unique). Maintenance adds the
    null-extension delta terms; a right-side append can RETRACT
    null-extensions (a key's first match arrives), so the delete-free
    append fast path additionally requires the right cursor to be
    unchanged for the outer flavor."""
    on = _on_cols(on)
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")

    def check(l_df, r_df):
        _validate_join_sources(l_df, r_df, on)
        # enforce the documented key contract at create time: a NULL row
        # identity would make pair keys collide (and the delete vector
        # delete the wrong row); refresh-time NULLs hit the sentinel
        # below. ONE job for both sides (union of limit-1 probes).
        bad = (
            l_df.where(F.col(left_key).isNull())
            .select(F.lit("left").alias("side")).limit(1)
            .unionByName(
                r_df.where(F.col(right_key).isNull())
                .select(F.lit("right").alias("side")).limit(1))
            .collect()
        )
        if bad:
            side = bad[0]["side"]
            key = left_key if side == "left" else right_key
            raise ValueError(
                f"{side} key {key!r} has NULL values — join table views "
                f"need non-null unique row identities on both sources")

    return _create(spark, "join_table", view_path, {
        "jt_left": left_path, "jt_right": right_path, "jt_on": on,
        "jt_left_key": left_key, "jt_right_key": right_key,
        "jt_how": how,
    }, prepare=check)


def _with_pair_key(pairs: DataFrame, left_key: str,
                   right_key: str) -> DataFrame:
    # F.concat (not concat_ws) with NULL-sentinel coalesce: concat_ws
    # SKIPS null operands, which would collide (NULL, '7') with
    # ('7', NULL); create_join_table_view rejects null keys up front,
    # the sentinel keeps even an escaped null distinct per side
    def _k(c):
        return F.coalesce(F.col(c).cast("string"),
                          F.lit(_PAIR_SEP + "null"))

    return pairs.withColumn(
        _PAIR_KEY,
        F.concat(_k(left_key), F.lit(_PAIR_SEP), _k(right_key)))


def _jt_net_and_split(pairs, lk, rk, r: "_Refresh"):
    """NET the raw delta by full row (sum of ±1 per distinct
    pair content). Load-bearing, not an optimization: in a both-sides-
    advanced interval a left-insert ⋈ right-deleted-row pair appears
    as +1 in term 1 and −1 in term 2 with IDENTICAL content, and
    applying the two un-netted as vector+append would let the appended
    copy escape the vector's scope (delete_and_append vectors only
    cover pre-existing segments). After netting, per unique pair key
    at most one −1 row (the old content) and one +1 row (the new)
    remain. Returns (ret_keys, ins_rows)."""
    row_cols = [c for c in pairs.columns if c != "_change_type"]
    netted = r.persist(
        pairs.groupBy(*row_cols)
        .agg(F.sum(_signed_change()).alias("_net"))
        .where(F.col("_net") != 0))
    ret_keys = _with_pair_key(
        netted.where(F.col("_net") < 0), lk, rk).select(_PAIR_KEY)
    ins_rows = _with_pair_key(
        netted.where(F.col("_net") > 0).drop("_net"), lk, rk)
    return ret_keys, ins_rows


def _jt_state(spark, spec, frames):
    return _with_pair_key(_join_of(spec, "jt", *frames), spec["jt_left_key"],
                          spec["jt_right_key"]), {}


def _jt_delta(r: "_Refresh") -> int:
    lk, rk = r.spec["jt_left_key"], r.spec["jt_right_key"]
    # the interval's RAW signed delta pairs, unioned with
    # allowMissingColumns (source schema evolution between the cursors
    # widens one term's delta columns — mergeSchema semantics, the
    # absent side reads NULL)
    frames, ch_r_absent = _join_delta_frames(r, "jt")
    pairs = frames[0]
    for p in frames[1:]:
        pairs = pairs.unionByName(p, allowMissingColumns=True)
    # fast path — a provably append-only interval on BOTH sides
    # (manifest-only check): every CDC row is +1 and no cross-term
    # duplicate pair can exist (term 1 pairs use R_old, term 2 a NEW
    # right row), so the netting shuffle is skipped and the raw pairs
    # commit directly. The LEFT flavor additionally needs the right
    # cursor UNCHANGED: a right append gives keys their first match,
    # which RETRACTS pre-existing null-extension rows (term B emits
    # deletes even though both sources only appended).
    if (all(_interval_append_only(*iv) for iv in r.intervals)
            and (r.spec.get("jt_how", "inner") == "inner" or ch_r_absent)):
        return r.commit(V.append,
                        _with_pair_key(pairs.drop("_change_type"), lk, rk))
    ret_keys, ins_rows = _jt_net_and_split(pairs, lk, rk, r)
    # ONE commit: −1 rows become the delete vector and +1 rows the
    # appended segment, so updates are replaces and a reader never sees
    # half. Deterministic branch: a rewrite interval whose retractions
    # all netted away still commits a plain append (no vector).
    if ret_keys.limit(1).count():
        return r.commit(V.delete_and_append, ret_keys, _PAIR_KEY, ins_rows)
    return r.commit(V.append, ins_rows)


def refresh_join_table_view(
    spark: SparkSession, view_path: str,
    recompute_fraction: float | None = _RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Advance a join TABLE view to both sources' heads: the same signed
    delta rule as the aggregate join view (ΔL⋈R_old + L_new⋈ΔR, multiset
    feeds), but applied at ROW level. The raw delta pairs are first
    NETTED by full row (sum of ±1 per distinct pair content) — this is
    load-bearing, not an optimization: in a both-sides-advanced interval
    a left-insert ⋈ right-deleted-row pair appears as +1 in term 1 and
    −1 in term 2 with IDENTICAL content, and applying the two sides
    un-netted as vector+append would let the appended copy escape the
    vector's scope (delete_and_append vectors only cover pre-existing
    segments). After netting, per unique pair key at most one −1 row
    (the old content) and one +1 row (the new) remain: −1 rows become
    the delete vector, +1 rows the appended segment, published together
    as ONE commit — updates are replaces, a reader never sees half.

    An append-only interval on either source nets to pure +1 rows and
    the refresh is a delete-free append of delta ⋈ matching rows —
    O(ingest) at any table size, with the same size-guarded key-pruning
    as the aggregate join view.

    The LEFT-outer flavor (spec ``jt_how='left'``) adds the
    null-extension delta terms: unmatched left rows live in the table
    with NULL right columns and a (left_key, NULL-sentinel) pair key,
    and match-flips replace them with (or restore them from) their
    matched pair rows through the same net-then-vector+append commit.

    Like transform views, each refresh accretes a segment (plus a
    vector on rewrites); refresh_view(auto_compact=True) folds them."""
    return _refresh_once(spark, "join_table", view_path, recompute_fraction)


# ---------------------------------------------------------------------------
# The view-kind registry
# ---------------------------------------------------------------------------


class _Refresh(NamedTuple):
    """One refresh attempt's consistent read, handed to a kind's delta:
    the view at ``path`` / ``view_v`` with its ``spec``, the
    ``intervals`` [(source, cursor, head), ...], the (path, version)
    ``reads`` the kind's state materializes from, the advanced ``app``
    (spec + the heads as cursors), the dispatch's per-interval change
    ``bounds`` (None when it computed none), and the frames the delta
    persisted (_refresh_once unpersists them)."""
    spark: SparkSession
    path: str
    view_v: int
    spec: dict
    intervals: list
    reads: list
    app: dict
    bounds: list | None
    persisted: list

    def persist(self, df: DataFrame) -> DataFrame:
        self.persisted.append(df.persist())
        return df

    def commit(self, verb, *args, app: dict | None = None) -> int:
        """Commit through versioned ``verb`` pinned to the view version
        read (OCC parent), with the advanced cursors (plus ``app``)
        under the carried-forward ``app`` namespace — a top-level extra
        would let the parent's stale cursor carry forward, and the next
        refresh would re-apply an overlapping interval."""
        return verb(self.spark, self.path, *args,
                    extra={"app": self.app | (app or {})},
                    parent_version=self.view_v)


class _ViewKind(NamedTuple):
    """One maintained view kind, as data and two functions:

    * ``marker`` — the ``app`` field whose presence marks the kind;
    * ``sources`` — its (source field, cursor field) pairs;
    * ``state(spark, spec, frames[, transform]) -> (DataFrame, app)`` —
      the full materialization from the frames read at the heads, plus
      the app fields it derives: ``_create`` writes it, and so does the
      recompute path of ``_refresh_once``;
    * ``delta(refresh[, transform]) -> version`` — the incremental body
      over a _Refresh, which commits through ``refresh.commit``;
    * ``cost_model`` — whether the row-scan cost model may choose
      recompute; when False, recompute only heals;
    * ``heads(spark, path, spec, fraction) -> (heads, reads)`` —
      optional: how the kind reads its source heads and the pinned
      (path, version) reads its state takes (default: each source at
      its current version)."""
    marker: str
    sources: list
    state: Callable
    delta: Callable
    cost_model: bool
    heads: Callable | None = None


class _CursorVacuumed(RuntimeError):
    """The named error of a source vacuumed past a view cursor."""


def _heads(spark: SparkSession, k: _ViewKind, view_path: str, spec: dict,
           fraction) -> tuple[list, list]:
    if k.heads is not None:
        return k.heads(spark, view_path, spec, fraction)
    reads = [(spec[s], V.current_version(spec[s])) for s, _ in k.sources]
    return [v for _p, v in reads], reads


def _cursors(k: _ViewKind, heads: list) -> dict:
    return {c: h for (_s, c), h in zip(k.sources, heads)}


def _create(spark: SparkSession, kind: str, view_path: str, spec: dict,
            *fn, prepare: Callable | None = None,
            parent_version: int | None = None) -> int:
    """Create a ``kind`` view from its spec: read the heads, let
    ``prepare`` check the frames read at them (it may return spec
    fields derived from them), write the kind's state and stamp the
    heads as the cursors. ``fn`` is the transform view's function.
    With ``parent_version`` the state instead overwrites the existing
    view at that version (OCC-checked) — a re-create in place."""
    k = _VIEW_KINDS[kind]
    heads, reads = _heads(spark, k, view_path, spec, None)
    frames = [_read_source(spark, p, v) for p, v in reads]
    spec = spec | ((prepare(*frames) if prepare else None) or {})
    state, app = k.state(spark, spec, frames, *fn)
    extra = {"app": spec | app | _cursors(k, heads)}
    if parent_version is None:
        return V.create(spark, view_path, state, extra=extra)
    return V.overwrite(spark, view_path, state, extra=extra,
                       parent_version=parent_version)


def _refresh_once(spark: SparkSession, kind: str, view_path: str,
                  recompute_fraction: float | None, transform=None,
                  name: str | None = None) -> int:
    """ONE refresh attempt of any view kind — refresh_view wraps it in
    the OCC loop. In order: one consistent read (the view version, then
    the spec AT it: cursor, state and OCC parent from different versions
    would let a concurrent refresher's interval double-apply silently);
    the heads; the fresh early return; the heal + cost dispatch; then
    the recompute as one overwrite, or the kind's delta. The one heal
    rule: a source rolled back below, or vacuumed past, its cursor heals
    by recompute when ``recompute_fraction`` is set and raises the named
    RuntimeError when it is None. Returns the view's version."""
    k = _VIEW_KINDS[kind]
    view_v = V.current_version(view_path)
    spec = _spec(view_path, view_v, kind)
    fn = () if transform is None else (transform,)
    if kind == "transform" and spec["tv_name"] != name:
        raise ValueError(
            f"refresh with transform {name!r} but the view was created "
            f"with {spec['tv_name']!r} — mixing transforms would corrupt "
            f"the view")
    heads, reads = _heads(spark, k, view_path, spec, recompute_fraction)
    intervals = [(spec[s], int(spec[c]), h)
                 for (s, c), h in zip(k.sources, heads)]
    if all(c == h for _s, c, h in intervals):
        return view_v
    app = spec | _cursors(k, heads)
    recompute, bounds = _dispatch_recompute(recompute_fraction, intervals,
                                            k.cost_model)
    r = _Refresh(spark, view_path, view_v, spec, intervals, reads, app,
                 bounds, [])
    try:
        if not recompute:
            try:
                return k.delta(r, *fn)
            except _CursorVacuumed:
                if recompute_fraction is None:
                    raise
        state, derived = k.state(
            spark, spec, [_read_source(spark, p, v) for p, v in reads], *fn)
        return V.overwrite(spark, view_path, state,
                           extra={"app": app | derived},
                           parent_version=view_v)
    finally:
        for df in r.persisted:
            df.unpersist()


def _lazy(module: str, name: str, kind: str) -> Callable:
    """``module.name`` with the kind name bound first — a kind function
    defined in a module that imports this one."""
    def call(*args):
        return getattr(importlib.import_module(module, __package__),
                       name)(kind, *args)

    return call


def _kind_in(module: str, kind: str, prefix: str,
             heads: bool = False) -> _ViewKind:
    """A single-source kind whose ``state`` / ``delta`` (and ``heads``)
    live in ``module``; its recompute only heals."""
    src = f"{prefix}_source"
    return _ViewKind(src, [(src, f"{prefix}_source_version")],
                     _lazy(module, "state", kind), _lazy(module, "delta", kind),
                     False, _lazy(module, "heads", kind) if heads else None)


# kind -> _ViewKind: the SINGLE registry every view kind must appear in
# — _create, _refresh_once, refresh_view, describe_view, the graph
# walker and cursor-safe vacuum all read it, so adding a kind here is
# the whole wiring
_VIEW_KINDS = {
    "agg": _ViewKind("mv_source", [("mv_source", "mv_source_version")],
                     _agg_state, _agg_delta, True),
    "transform": _ViewKind("tv_source",
                           [("tv_source", "tv_source_version")],
                           _transform_state, _transform_delta, True),
    "topk": _ViewKind("kv_source", [("kv_source", "kv_source_version")],
                      _topk_state, _topk_delta, True),
    "join": _ViewKind("jv_left", [("jv_left", "jv_left_version"),
                                  ("jv_right", "jv_right_version")],
                      _jv_state, _jv_delta, True),
    "join_table": _ViewKind("jt_left", [("jt_left", "jt_left_version"),
                                        ("jt_right", "jt_right_version")],
                            _jt_state, _jt_delta, True),
    # maintained near-dup pair tables (sources/neardup_view.py): their
    # heads entry converges the two internal index views (ordinary
    # transform views, whose cursors never trail the pairs cursor, so
    # clamping vacuum to the pairs cursor is sufficient) and reads them
    # pinned
    "near_dup": _kind_in(".neardup_view", "near_dup", "nd", heads=True),
    "embed_near_dup": _kind_in(".neardup_view", "embed_near_dup", "ed",
                               heads=True),
    # maintained indexes (sources/indexkind.py): full-text BM25
    # postings, hyperplane-LSH ANN buckets, IVF cells
    "text_index": _kind_in(".indexkind", "text_index", "ti"),
    "ann_index": _kind_in(".indexkind", "ann_index", "ai"),
    "ivf_index": _kind_in(".indexkind", "ivf_index", "ii"),
}
