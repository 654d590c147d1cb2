"""Versioned table layout: a manifest log over immutable parquet segments —
snapshot isolation, time travel, optimistic concurrency, and vacuum on plain
parquet.

Why this exists: the flat write path (writer.upsert_parquet / soft_delete)
gives MERGE semantics with an atomic swap, but a swap DESTROYS the previous
state — no reader isolation across a concurrent rewrite, no audit trail, no
rollback. Table formats (the Delta transaction-log and Iceberg snapshot
designs — both published) solve this with one idea: data files are IMMUTABLE,
and a tiny commit log says which file set IS the table at each version. This
module is that idea at its minimum viable size:

    path/
      seg-<uuid>/           immutable parquet segment dirs (never modified)
      _snapshots/v%08d.json manifest: the segment list that IS version n
      _latest               head-version CACHE (never read for correctness)

* **Snapshot isolation**: a reader resolves ONE manifest, then reads only
  immutable segments — concurrent commits cannot shear it mid-query
  (the flat layout's swap can unlink files under a running scan).
* **Optimistic concurrency, single commit point**: the manifest JSON is
  fully written (and fsync'd) to a hidden temp file, then atomically
  ``os.link``-ed to the v(n+1) path — link fails with EEXIST if the
  version exists, so exactly one of two racing writers publishes v(n+1)
  and the loser gets ``ConcurrentWriteError`` (the Delta-log protocol,
  with the filesystem as the arbiter). The link IS the whole commit:
  ``current_version`` derives the head from the max manifest present, so
  a crash at ANY point leaves either a fully committed version or no
  trace (a temp file, ignored and reap-able) — never a wedged table or a
  half-written manifest. ``_latest`` is only a best-effort cache for
  humans inspecting the directory.
* **Time travel**: ``read(path, version=k)`` — the manifest for k still
  names its segments because vacuum is the only deleter.
* **Vacuum**: delete segments unreferenced by the kept manifests; the ONLY
  operation that removes data, and it never touches the head.

Scale notes: manifests hold segment names, not row data — KB-sized at any
table size. ``append`` commits are O(batch) (new segment + manifest listing
parent segments + it). ``upsert``/overwrite commits rewrite the merged state
into one new segment — the honest plain-parquet cost. The BUCKETED
layout below (``create_bucketed``/``convert_to_bucketed``) bounds that
cost while keeping every manifest guarantee: the manifest maps bucket id
→ immutable segment list, an upsert rewrites only the touched buckets'
segments and commits ONE new manifest atomically across all of them — so
bucketed tables keep snapshot isolation during a rewrite, time travel,
and OCC.
A real multi-writer object-store deployment would put the manifest-create
behind a conditional-put; single-filesystem ``os.link`` is the atomic,
exclusive arbiter here.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..functions.localrel import values_df

_SNAP_DIR = "_snapshots"
_LATEST = "_latest"
# commit logs a compaction hint at every multiple of this segment count
_SEGMENT_HINT_THRESHOLD = 256
_MANIFEST_RE = re.compile(r"^v(\d{8})\.json$")
# commit ops that only ADD rows — an interval of these has zero
# retractions (table_changes fast path, matview broadcast sizing)
APPEND_OPS = ("append", "append-bucketed", "stream-append",
              "stream-append-bucketed",
              # metadata-only schema ADD (bucketed add_column): zero
              # row changes by definition — the CDC fast path emits
              # its new segments (none), instead of a wasteful
              # snapshot-diff recompute of an unchanged table
              "add-column")


# the bucketed layout's hash column (hive-style ``__bucket=<b>`` segment
# dirs); user tables may not declare a column of this name
_BUCKET_COL = "__bucket"


def _bucket_expr(key, n_buckets: int):
    """The bucket of a key: ``pmod(xxhash64(cast(key as string)), n)``.
    ``key`` is a column name or a Column (a literal ``F.lit(value)``
    too). xxhash64 is seed-fixed in Spark, so a key lands in the same
    bucket across runs, sessions and cluster sizes; functions/xxh.py
    computes the same value driver-side."""
    import pyspark.sql.functions as F

    col = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(col.cast("string")),
                  F.lit(n_buckets)).cast("int")


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first — re-read the head,
    re-apply the change, retry."""


def _snap_path(path: str, version: int) -> str:
    return os.path.join(path, _SNAP_DIR, f"v{version:08d}.json")


def _manifest_versions(path: str) -> list[int]:
    """Committed versions, ascending — exactly the well-named manifest
    files in _snapshots/. Temp files (crash leftovers) never match."""
    snap_dir = os.path.join(path, _SNAP_DIR)
    out = []
    for name in os.listdir(snap_dir):
        m = _MANIFEST_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


# Head-resolution checkpoint (the Delta _last_checkpoint idea, filesystem
# form): every _CHECKPOINT_EVERY commits (and at each vacuum) a tiny JSON
# {"version": k} is renamed into place. Head resolution then PROBES
# forward from k — versions are dense above the vacuum cutoff because
# every commit is parent+1 — instead of LISTING _snapshots, so a table
# with 10^5 retained manifests resolves its head in O(commits since the
# last checkpoint) stat calls, flat in history length. The hint carries
# no correctness weight: a missing/stale/corrupt checkpoint (or one
# pointing at a vacuumed version) falls back to the full listing.
_CHECKPOINT = "_last_checkpoint"
_CHECKPOINT_EVERY = 64


def _read_checkpoint(path: str) -> int | None:
    try:
        with open(os.path.join(path, _SNAP_DIR, _CHECKPOINT)) as f:
            return int(json.load(f)["version"])
    except (OSError, ValueError, KeyError, TypeError,
            json.JSONDecodeError):
        # TypeError covers valid-JSON-wrong-shape ({"version": null}, a
        # bare list): the hint must NEVER carry correctness weight
        return None


def _write_checkpoint(path: str, version: int) -> None:
    """Best-effort atomic hint update (rename, last writer wins)."""
    try:
        tmp = os.path.join(path, _SNAP_DIR,
                           f".ckpt-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump({"version": int(version)}, f)
        os.rename(tmp, os.path.join(path, _SNAP_DIR, _CHECKPOINT))
    except OSError:
        pass


def current_version(path: str) -> int:
    """The committed head = the max manifest PRESENT. Publishing the
    manifest is the single commit point, so this is correct after a crash
    at any step — `_latest` is only a cache and is never consulted.

    Resolution is checkpoint-probed when a `_last_checkpoint` hint
    exists and still names a live manifest (O(commits since checkpoint)
    existence checks — flat in history length); otherwise the full
    `_snapshots` listing (O(#versions), always correct)."""
    hint = _read_checkpoint(path)
    if hint is not None and os.path.exists(_snap_path(path, hint)):
        v = hint
        while os.path.exists(_snap_path(path, v + 1)):
            v += 1
        return v
    versions = _manifest_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    return versions[-1]


def _manifest(path: str, version: int) -> dict:
    with open(_snap_path(path, version)) as f:
        return json.load(f)


def _write_segment(df: DataFrame, path: str) -> str:
    seg = f"seg-{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(os.path.join(path, seg))
    return seg


def _commit(path: str, version: int, segments: list[str], op: str,
            batch_id: int | None = None, extra: dict | None = None) -> None:
    """Single-point atomic commit: the manifest JSON is fully written and
    fsync'd to a hidden temp file, then ``os.link``-ed to the versioned
    path — link is atomic AND exclusive (EEXIST when the version is
    already taken), so publication and arbitration are ONE filesystem
    operation. A crash before the link leaves only an ignorable temp
    file; a crash after it leaves a fully committed version. The
    `_latest` cache update afterwards is best-effort and carries no
    correctness weight."""
    manifest = {"version": version, "segments": segments, "op": op,
                "parent": version - 1 if version > 1 else None}
    if batch_id is not None:
        manifest["batch_id"] = int(batch_id)
    if extra:
        manifest.update(extra)
    # explicit commit clock INSIDE the manifest: time travel and
    # DESCRIBE HISTORY resolve against this, not the file mtime, so an
    # rsync/cp/restore of the table directory that loses mtimes cannot
    # silently rewrite history (legacy manifests without the field
    # fall back to mtime). A committer may seed it through ``extra``
    # (test fixtures spreading a deterministic clock).
    if "committed_at" not in manifest:
        manifest["committed_at"] = time.time()
    # per-segment row counts, carried from the parent for retained
    # segments and read from parquet FOOTERS for new ones (metadata-only,
    # no Spark job) — so table_row_count() answers any version's size
    # from the manifest alone, and planners never pay a count() scan
    from .catalog import table_row_count as _footer_rows

    try:
        parent_m = _manifest(path, version - 1) if version > 1 else {}
    except FileNotFoundError:
        parent_m = {}
    parent_rows = parent_m.get("seg_rows", {})
    # application metadata namespace: the "app" dict (e.g. a materialized
    # view's spec + refresh cursor) is carried forward through EVERY
    # commit op unless the committer explicitly replaces it — so an
    # append, delete-vector, or compaction on a view table cannot
    # silently drop the spec the next refresh needs
    if "app" not in manifest and parent_m.get("app") is not None:
        manifest["app"] = parent_m["app"]
    # a committer may SEED seg_rows through extra (clone() passes the
    # source's counts through so a zero-copy clone never re-opens the
    # source's footers); unseeded segments fall back to parent-carry
    # then footer reads as before
    seeded = manifest.get("seg_rows") or {}
    manifest["seg_rows"] = {
        s: seeded[s] if s in seeded
        else parent_rows[s] if s in parent_rows
        else _footer_rows(os.path.join(path, s))
        for s in _manifest_segments(manifest)
    }
    # Manifest size bound: seg_rows (and seg_stats when tracked) grow
    # O(#segments), ~100 bytes each — metadata-sized only while segment
    # counts stay compacted. Hint (once per threshold multiple, so a
    # runaway append loop logs O(n/threshold) lines, not O(n)) rather
    # than auto-compact: compaction is a data rewrite the OWNER schedules.
    n_segs = len(manifest["seg_rows"])
    if n_segs >= _SEGMENT_HINT_THRESHOLD and \
            n_segs % _SEGMENT_HINT_THRESHOLD == 0:
        logging.getLogger(__name__).warning(
            "versioned table %s has %d segments at v%d; manifests and "
            "commit-time footer reads grow with segment count — run "
            "compact() to fold them",
            path, n_segs, version,
        )
    target = _snap_path(path, version)
    snap_dir = os.path.join(path, _SNAP_DIR)
    tmp = os.path.join(snap_dir, f".tmp-{uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)
    except FileExistsError:
        os.remove(tmp)
        raise ConcurrentWriteError(
            f"version {version} already committed at {target}"
        ) from None
    # the version is published: nothing below may raise, so a caller
    # that cleans up its staged segments on failure (_publish) never
    # deletes the files of a committed version
    _suppress_remove(tmp)
    # periodic head-resolution checkpoint: keeps current_version() at
    # O(commits since checkpoint) stat calls however long the retained
    # history grows (10^5 streaming micro-batch commits)
    if version % _CHECKPOINT_EVERY == 0:
        _write_checkpoint(path, version)
    try:
        lt = os.path.join(path, f"{_LATEST}.tmp.{uuid.uuid4().hex[:8]}")
        with open(lt, "w") as f:
            f.write(str(version))
        os.rename(lt, os.path.join(path, _LATEST))
    except OSError:
        pass  # cache only — the manifest is already the source of truth


def _json_stat(v):
    """JSON-encodable stat value; timestamps as ISO strings (ISO order ==
    time order, so string comparison prunes correctly)."""
    import datetime

    if v is None or isinstance(v, (int, float, bool, str)):
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def _zone_stats(spark: SparkSession, path: str, parent: dict,
                live: list[str], types: dict | None = None,
                cols: list[str] | None = None) -> dict:
    """The ONE zone-map writer: ``{stat_cols, seg_stats}`` for a child
    manifest whose data segments are ``live`` (empty when the table
    tracks no stats). Retained segments keep the parent's entries; the
    NEW ones are measured from their WRITTEN files — a nondeterministic
    source must not yield stats that miss the rows on disk (read_pruned's
    no-false-prune guarantee) — in ONE aggregate grouped by segment dir,
    however many segments the commit wrote. The read is pinned to the
    stat columns' committed ``types``: no footer-inference job, and a
    column a batch omitted reads as NULL (min/max NULL, nulls = row
    count). A zero-row segment records NULL min/max with zero nulls."""
    import pyspark.sql.functions as F

    cols = list(cols or parent.get("stat_cols") or [])
    if not cols:
        return {}
    old = _manifest_segments(parent)
    new = [s for s in live if s not in old]
    kept = set(live)
    seg_stats = {s: st for s, st in parent.get("seg_stats", {}).items()
                 if s in kept}
    if not new:
        return {"stat_cols": cols, "seg_stats": seg_stats}
    known = {c.lower(): t for c, t in
             (types or parent.get("col_types") or {}).items()}
    dirs = [os.path.join(path, s) for s in new]
    if all(c.lower() in known for c in cols):
        df = spark.read.schema(", ".join(
            f"`{c}` {known[c.lower()]}" for c in cols)).parquet(*dirs)
    else:
        # legacy manifest without committed types: infer, then
        # null-fill the stat columns no new segment carries
        df = spark.read.option("mergeSchema", "true").parquet(*dirs)
        have = {c.lower() for c in df.columns}
        df = df.select("*", *[F.lit(None).cast("string").alias(c)
                              for c in cols if c.lower() not in have])
    seg = F.element_at(F.split(F.input_file_name(), "/"), -2)
    aggs = [a for c in cols for a in (
        F.min(c), F.max(c), F.sum(F.col(c).isNull().cast("long")))]
    rows = {r[0]: r[1:] for r in df.groupBy(seg).agg(*aggs).collect()}
    for s in new:
        r = rows.get(os.path.basename(s), (None,) * (3 * len(cols)))
        seg_stats[s] = {
            c: {"min": _json_stat(r[3 * i]),
                "max": _json_stat(r[3 * i + 1]),
                "nulls": int(r[3 * i + 2] or 0)}
            for i, c in enumerate(cols)}
    return {"stat_cols": cols, "seg_stats": seg_stats}


def _publish(spark: SparkSession, path: str, parent_version: int,
             parent: dict, op: str, segments: list[str] | None,
             extra: dict, staged=(), batch_id: int | None = None,
             stat_cols: list[str] | None = None) -> int:
    """The commit tail every writing verb shares: add the zone map
    (_zone_stats over the child's data segments — a flat ``segments``
    list, or the ``buckets`` map in ``extra``) and publish version
    ``parent_version + 1``. Any failure before the publish, a lost OCC
    race included, removes the ``staged`` segment and vector dirs before
    re-raising, so a failed commit leaves no orphan behind. Returns the
    new version."""
    try:
        live = segments if segments is not None else [
            s for ss in extra["buckets"].values() for s in ss]
        _commit(path, parent_version + 1, segments, op, batch_id=batch_id,
                extra=extra | _zone_stats(spark, path, parent, live,
                                          extra.get("col_types"),
                                          stat_cols))
    except Exception:
        _cleanup_segments(path, staged)
        raise
    return parent_version + 1


def create(spark: SparkSession, path: str, df: DataFrame,
           stat_cols: list[str] | None = None,
           extra: dict | None = None) -> int:
    """Create the versioned table as version 1. Returns the version.

    ``stat_cols`` declares zone-map columns ONCE at table level: every
    subsequent commit (append/upsert/overwrite/stream-append) records
    per-segment min/max/null-count for them in the manifest, and
    ``read_pruned`` skips whole segments at MANIFEST-resolution time —
    the Delta/Iceberg file-skipping idea at segment granularity. At
    100 TB with daily appends, a time-range query opens the overlapping
    days' segments and zero others, decided without touching storage.

    ``extra`` lets a caller record application metadata in the manifest
    (e.g. matview's refresh cursor); reserved keys (segments/op/
    col_types/...) always win over caller entries."""
    os.makedirs(os.path.join(path, _SNAP_DIR), exist_ok=False)
    seg = _write_segment(df, path)
    return _publish(spark, path, 0, {}, "create", [seg],
                    dict(extra or {}) | {"col_types": _col_types(df)},
                    staged=[seg], stat_cols=stat_cols)


def _reconcile_declared(df: DataFrame, m: dict) -> DataFrame:
    """Surface DECLARED-but-unwritten columns as typed NULLs — the
    bucketed layout's answer to the flat path's zero-row evolved
    segment + mergeSchema (add_column is metadata-only there). The ONE
    copy of the schema-reconciliation contract: every bucketed read
    (_read_segments) and the bucketed z-sort route through it."""
    import pyspark.sql.functions as F

    for c, t in m.get("col_types", {}).items():
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(t))
    return df


def _apply_ranges(df: DataFrame, ranges: dict) -> DataFrame:
    """Residual row predicates of a zone-pruned read (read_pruned)."""
    import pyspark.sql.functions as F

    for c, (c_lo, c_hi) in ranges.items():
        if c_lo is not None:
            df = df.where(F.col(c) >= F.lit(c_lo))
        if c_hi is not None:
            df = df.where(F.col(c) <= F.lit(c_hi))
    return df


def _apply_hidden(df: DataFrame, m: dict) -> DataFrame:
    """Project out logically-dropped columns (``drop_column`` — a
    metadata-only commit; the bytes stay in old segments until a
    rewrite materializes the drop). Applied at the single flat-read
    choke point so read / read_pruned / every consumer built on them
    see the post-drop schema."""
    hidden = [c for c in m.get("hidden_cols", []) if c in df.columns]
    return df.drop(*hidden) if hidden else df


def _pinned_schema(m: dict) -> str | None:
    """Explicit read schema from the manifest's committed col_types
    (minus logically-dropped columns) — the serving-path alternative
    to mergeSchema footer inference. Safe BECAUSE the commit layer
    enforces it: _check_schema_compat blocks type changes, so every
    segment's columns are a by-name subset of col_types at identical
    types, and parquet fills absent-by-name columns with NULL (which
    IS the evolution semantics mergeSchema reconstructs by reading
    every footer). At 100 TB this is the difference between zero
    planning IO and an O(n_files) footer job per query. Returns None
    when the manifest predates col_types (legacy → caller falls back
    to mergeSchema)."""
    types = m.get("col_types") or {}
    if not types:
        return None
    hidden = {c.lower() for c in m.get("hidden_cols", [])}
    kept = {c: t for c, t in types.items() if c.lower() not in hidden}
    if not kept:
        return None
    return ", ".join(f"`{c}` {t}" for c, t in kept.items())


def _read_with_deletes(spark: SparkSession, path: str, m: dict,
                       segs: list[str],
                       pin_schema: bool = False) -> DataFrame:
    """Read the given data segments applying the manifest's pending delete
    vectors with their SCOPES: each vector filters only the segments that
    existed when it was committed, so a key deleted and later re-appended
    is visible again (Delta delete-then-insert semantics) — the vector is
    a statement about rows that existed at delete time, not a tombstone
    on the key forever. Segments are grouped by their applicable-vector
    set (≤ one group per delete commit + 1), each group anti-joins the
    union of its vectors' keys (broadcast — vectors are KB-sized), and
    the groups union back together. Vectors committed without a recorded
    scope (legacy) conservatively apply to every segment.

    ``pin_schema`` reads with the manifest's committed schema instead
    of mergeSchema footer inference (_pinned_schema) — zero Spark jobs
    at plan time, for serving paths that build a query per request."""
    pinned = _pinned_schema(m) if pin_schema else None

    def _rd(paths: list[str]) -> DataFrame:
        if pinned is not None:
            return spark.read.schema(pinned).parquet(*paths)
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    dsegs = m.get("delete_segs") or []
    if not segs:
        raise FileNotFoundError("no segments to read")
    if not dsegs:
        return _apply_hidden(
            _rd([os.path.join(path, s) for s in segs]), m)
    scopes = m.get("delete_scopes", {})
    key = m["delete_key"]
    groups: dict[tuple, list[str]] = {}
    for s in segs:
        vs = tuple(d for d in dsegs
                   if scopes.get(d) is None or s in scopes[d])
        groups.setdefault(vs, []).append(s)
    parts = []
    for vs, ss in groups.items():
        df = _rd([os.path.join(path, s) for s in ss])
        if vs:
            # the vector schema is pinned from the manifest too (one
            # key column at its committed type) — but ONLY for vectors
            # the manifest MARKS as written at that pinned type
            # (delete_typed, recorded by every vector commit since the
            # marker landed). A legacy vector of a different physical
            # width can coexist with a col_types manifest, and reading
            # it under the pinned schema would throw at execution on
            # the serving path — unmarked vectors keep the mergeSchema
            # read that tolerates mixed widths.
            ktype = (m.get("col_types") or {}).get(key)
            typed = set(m.get("delete_typed") or [])
            if pinned is not None and ktype \
                    and all(d in typed for d in vs):
                kd = spark.read.schema(f"`{key}` {ktype}").parquet(
                    *[os.path.join(path, d) for d in vs]).distinct()
            else:
                # unmarked (legacy) vector in the group: read each
                # vector file SEPARATELY and coerce the key — one
                # multi-file read would fail to merge mixed physical
                # widths (int vs bigint), and forcing the committed
                # type onto a wider legacy file throws at execution.
                # Vectors are KB-sized; the extra reads only exist on
                # this compatibility path.
                from pyspark.sql import functions as _F

                kparts = [spark.read.option("mergeSchema", "true")
                          .parquet(os.path.join(path, d)).select(key)
                          for d in vs]
                # unify on the WIDEST observed integral type (never a
                # narrower committed type): downcasting a wider legacy
                # vector would silently WRAP out-of-range keys — the
                # wrapped value can collide with a live key and delete
                # it, or miss the real deleted key. Non-integral /
                # mixed-class groups keep each file's own type and let
                # the union/anti-join coerce (the pre-marker behavior).
                rank = {"tinyint": 1, "smallint": 2, "int": 3,
                        "bigint": 4}
                seen = {kp.schema[key].dataType.simpleString()
                        for kp in kparts} | ({ktype} if ktype else set())
                if seen <= set(rank):
                    want = max(seen, key=rank.get)
                    kparts = [kp.select(_F.col(key).cast(want)
                                        .alias(key)) for kp in kparts]
                kd = kparts[0]
                for kp in kparts[1:]:
                    kd = kd.unionByName(kp)
                kd = kd.distinct()
            df = df.join(kd, [key], "left_anti")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return _apply_hidden(out, m)


def _layout_segments(m: dict, buckets: list[int] | None = None
                     ) -> list[str]:
    """The data segments a read of manifest ``m`` names: a flat table's
    segment list, or — on the bucketed layout — the segments of the
    listed ``buckets`` (all when None). Restricting buckets is directory
    pruning at MANIFEST-resolution time: the other buckets' segments
    never enter the plan."""
    if "buckets" not in m:
        if buckets is not None:
            raise ValueError("buckets= restricts a bucketed table's read; "
                             "this table is flat")
        return m["segments"]
    bmap = m["buckets"]
    ids = sorted(bmap) if buckets is None else [str(b) for b in buckets]
    return [s for b in ids for s in bmap.get(b, [])]


def _read_segments(spark: SparkSession, path: str, m: dict,
                   segs: list[str], pin_schema: bool = False) -> DataFrame:
    """Read ``segs`` of the resolved manifest ``m`` with its delete
    vectors applied. On the bucketed layout, declared-but-unwritten
    columns surface as typed NULLs (_reconcile_declared), and an empty
    selection — an empty table, or a bucket subset nothing hashed to —
    is the zero-row frame of the committed schema (_pinned_schema, which
    also drops logically-hidden columns like the non-empty read)."""
    if "buckets" not in m:
        return _read_with_deletes(spark, path, m, segs,
                                  pin_schema=pin_schema)
    if not segs:
        schema = _pinned_schema(m)
        if schema:
            return spark.createDataFrame([], schema)
        raise FileNotFoundError(
            f"version {m['version']} holds no segments to read")
    return _reconcile_declared(
        _read_with_deletes(spark, path, m, segs, pin_schema=pin_schema), m)


def read(spark: SparkSession, path: str, version: int | None = None,
         pin_schema: bool = False, buckets: list[int] | None = None
         ) -> DataFrame:
    """Read the table AT a version (default: head), whichever layout its
    manifest records. Resolves the manifest once — the returned plan
    names immutable segment dirs, so concurrent commits and even a head
    overwrite cannot shear this reader. Pending delete vectors
    (delete_rows) are applied as scoped broadcast anti-joins.
    ``pin_schema`` reads with the manifest's committed schema instead of
    mergeSchema footer inference (zero Spark jobs at plan time — serving
    paths; see _pinned_schema for why it's safe). ``buckets`` restricts
    a bucketed table's read to those buckets (ValueError on a flat
    table)."""
    v = current_version(path) if version is None else int(version)
    m = _manifest(path, v)
    return _read_segments(spark, path, m, _layout_segments(m, buckets),
                          pin_schema=pin_schema)


def read_pruned(
    spark: SparkSession, path: str, col: str | None = None, lo=None, hi=None,
    version: int | None = None, ranges: dict | None = None,
    buckets: list[int] | None = None,
) -> DataFrame:
    """Range read with MANIFEST-level segment skipping: keep only segments
    whose recorded [min, max] overlaps the predicate ranges (all-NULL
    segments never match a range predicate and are skipped; segments
    without stats are kept conservatively), then apply the row predicates
    inside the survivors — parquet row-group stats prune further below.
    The skip decision costs a KB-sized manifest read, zero file opens:
    pruning BEFORE the storage layer is what keeps a point-in-time range
    query O(overlap) instead of O(table) at 100 TB. On the bucketed
    layout ``buckets`` adds the bucket-subset layer (key-equi questions)
    under the zone maps (range questions), and after cluster_zorder the
    row groups inside each bucket are range-disjoint on the z key, so
    all three layers compose.

    Single-column form: ``read_pruned(spark, path, col, lo, hi)``.
    Multi-column form: ``ranges={"ts": (t0, t1), "value": (None, 100)}``
    — a segment must overlap EVERY range to survive (conjunction), so
    each additional tracked predicate column can only prune further."""
    if ranges is None:
        if col is None:
            raise ValueError("pass either col/lo/hi or ranges={...}")
        ranges = {col: (lo, hi)}
    v = current_version(path) if version is None else int(version)
    m = _manifest(path, v)
    stats = m.get("seg_stats", {})
    keep = [seg for seg in _layout_segments(m, buckets)
            if zone_survives(stats.get(seg, {}), ranges)]
    if not keep:
        return read(spark, path, v).limit(0)
    return _apply_ranges(_read_segments(spark, path, m, keep), ranges)


def zone_survives(seg_stats: dict, ranges: dict) -> bool:
    """Pure segment-skip decision: may a segment with the recorded
    per-column stats contain a row matching every range in ``ranges``?
    The SAFETY property (no false prune: if any actual value satisfies
    the conjunction, this must return True) is hypothesis-tested against
    a brute-force oracle in tests/test_properties.py; pruning is allowed
    to be conservative (keep when unsure), never aggressive."""
    for c, (c_lo, c_hi) in ranges.items():
        if c_lo is None and c_hi is None:
            # fully-unbounded range = no predicate at all: read_pruned
            # applies no row filter for it, so it must not prune anything
            # — including all-NULL segments (NULL rows match "no filter")
            continue
        st = seg_stats.get(c)
        if st is None:
            continue  # no stats for this col: cannot prune on it
        mn, mx = st["min"], st["max"]
        if mn is None and mx is None:
            return False  # all NULL: a range predicate matches nothing
        if c_lo is not None and mx is not None and mx < _json_stat(c_lo):
            return False
        if c_hi is not None and mn is not None and mn > _json_stat(c_hi):
            return False
    return True


class SchemaDriftError(TypeError):
    """An appended batch changes an existing column's TYPE — silent
    corruption for every downstream reader. New columns are evolution
    (mergeSchema reads them as NULL on old segments) and pass; type
    changes fail the commit."""


def _col_types(df: DataFrame) -> dict:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _check_schema_compat(parent: dict, batch: DataFrame, op: str) -> dict:
    """Enforce append-path schema compatibility against the types the
    table has already committed: a column may APPEAR (evolution) or be
    absent (reads as NULL), but an existing column's type may not change
    — the drift a producer-side refactor silently introduces and the
    single most common way an ingest pipeline corrupts a 100 TB table.
    Returns the updated col_types map to record in the child manifest."""
    known = dict(parent.get("col_types", {}))
    mine = _col_types(batch)
    hidden = {c.lower() for c in parent.get("hidden_cols", [])}
    ghosts = sorted(c for c in mine if c.lower() in hidden)
    if ghosts:
        # re-appending a logically-dropped name would stay invisible
        # (the read projection hides it) — a silent data black hole
        raise SchemaDriftError(
            f"{op}: column(s) {ghosts} were dropped from this table "
            f"(drop_column) — rename them, or RESTORE a pre-drop "
            f"version to resurrect the column")
    conflicts = {
        c: (known[c], t) for c, t in mine.items()
        if c in known and known[c] != t
    }
    if conflicts:
        detail = ", ".join(f"{c}: table={a!r} batch={b!r}"
                           for c, (a, b) in sorted(conflicts.items()))
        raise SchemaDriftError(
            f"{op}: batch changes committed column types ({detail}); "
            f"cast the batch to the table's types, or use overwrite() "
            f"for an intentional full-schema replacement"
        )
    known.update(mine)
    return {"col_types": known}


def _constraints(m: dict) -> dict:
    """The table's CHECK constraints ({name: sql_expr}): stored under
    the manifest's auto-carried ``app`` namespace so every commit op
    preserves them without each committer threading a key."""
    return dict((m.get("app") or {}).get("table_constraints") or {})


def _apply_constraints(batch: DataFrame, m: dict, op: str) -> DataFrame:
    """Inline CHECK enforcement (Delta table-constraint semantics): wrap
    incoming rows with ``assert_true`` so the WRITE JOB ITSELF fails on
    the first violating row — zero extra pass over the batch, no
    separate validation action (Delta pays a metric pass; this is
    strictly cheaper and fails faster). NULL predicates PASS (SQL
    CHECK's unknown-is-satisfied rule). The violating row is embedded
    in the error as JSON, so a failed 100 TB ingest names its poison
    row instead of a stage id."""
    cons = _constraints(m)
    if not cons:
        return batch
    from pyspark.sql import functions as F

    # the check is threaded INTO a written column's expression —
    # when(cond, col).otherwise(raise_error(...)) — because a column
    # added for the check alone (assert_true + drop) is pruned out of
    # the plan by Catalyst and the assertion never runs. Wrapping a
    # column the write actually persists cannot be pruned.
    cols = list(batch.columns)
    first = cols[0]
    ftype = batch.schema[first].dataType.simpleString()
    # a batch may legally omit declared columns (they read as NULL —
    # _check_schema_compat): evaluate the predicate against typed-NULL
    # stand-ins so the unknown-is-satisfied rule applies instead of
    # failing resolution; the final select keeps the batch's own
    # columns, so the written schema is untouched
    have = {c.lower() for c in cols}
    for c, t in (m.get("col_types") or {}).items():
        if c.lower() not in have:
            batch = batch.withColumn(c, F.lit(None).cast(t))
    row_json = F.to_json(F.struct(*[F.col(c) for c in cols]))
    wrapped = F.col(first)
    for name, expr in sorted(cons.items()):
        cond = F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
        wrapped = F.when(cond, wrapped).otherwise(
            F.raise_error(F.concat(
                F.lit(f"CHECK constraint {name} ({expr}) violated "
                      f"during {op} by row: "),
                row_json)).cast(ftype))
    return batch.select(wrapped.alias(first), *cols[1:])


def _set_constraints(spark: SparkSession, path: str, v: int, m: dict,
                     cons: dict, op: str) -> int:
    """Metadata-only commit that replaces the table's CHECK constraints
    and carries EVERYTHING else (layout, vectors, hidden cols, zone
    maps) — the add/drop-constraint twin of drop_column's carry."""
    app = dict(m.get("app") or {})
    app["table_constraints"] = cons
    extra = {"col_types": m.get("col_types", {}), "app": app}
    extra |= _layout_meta(m) | _carry_deletes(m) | _carry_hidden(m)
    return _publish(spark, path, v, m, op, m.get("segments"), extra)


def add_constraint(spark: SparkSession, path: str, name: str,
                   expr: str) -> int:
    """ALTER TABLE ADD CONSTRAINT nm CHECK (expr): validates the
    EXISTING data first (one filter-count over the head snapshot —
    refused with the violation count if any row fails; the one honest
    O(table) step, same as Delta), then commits the constraint
    metadata-only under the auto-carried app namespace. Every later
    batch entering through append / upsert / MERGE / overwrite /
    stream sinks is enforced INLINE in its write job
    (_apply_constraints)."""
    from pyspark.sql import functions as F

    v = current_version(path)
    m = _manifest(path, v)
    cons = _constraints(m)
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists on "
                         f"{path}: CHECK ({cons[name]})")
    df = read(spark, path, v)
    try:
        cond = F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
        bad = df.where(~cond).count()
    except Exception as ex:
        raise ValueError(f"bad CHECK expression {expr!r}: {ex}") from ex
    if bad:
        raise ValueError(
            f"cannot add constraint {name!r}: {bad} existing row(s) "
            f"violate CHECK ({expr})")
    return _set_constraints(spark, path, v, m, cons | {name: expr},
                            "add-constraint")


def drop_constraint(spark: SparkSession, path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT nm: metadata-only removal."""
    v = current_version(path)
    m = _manifest(path, v)
    cons = _constraints(m)
    if name not in cons:
        raise ValueError(f"no constraint {name!r} on {path} "
                         f"(constraints: {sorted(cons)})")
    del cons[name]
    return _set_constraints(spark, path, v, m, cons, "drop-constraint")


def _layout_meta(m: dict, added: dict | None = None) -> dict:
    """A bucketed manifest's layout fields for its child commit, with
    the ``added`` {bucket: segment} map appended to those buckets'
    lists (accretion); {} on the flat layout, whose segment list
    travels as the commit's ``segments`` argument."""
    if "buckets" not in m:
        return {}
    bmap = dict(m["buckets"])
    for b, s in (added or {}).items():
        bmap[str(b)] = bmap.get(str(b), []) + [s]
    return {"bucket_key": m["bucket_key"], "n_buckets": m["n_buckets"],
            "buckets": bmap}


def _check_vector_key(m: dict, key_col: str) -> None:
    if m.get("delete_segs") and m["delete_key"] != key_col:
        raise ValueError(f"pending delete vectors use key "
                         f"{m['delete_key']!r}; cannot mix with {key_col!r}")


def _add_vector(m: dict, path: str, dseg: str, scope: list[str],
                key_col: str, ktype: str | None) -> dict:
    """Register the just-written delete vector ``dseg`` on top of the
    parent's pending ones. Its SCOPE (the segments it filters) is the
    parent's segments — rows appended later, or in the same commit, are
    new segments outside it, so re-inserts of a deleted key are visible
    (Delta delete-then-insert semantics) — shrunk on the bucketed layout
    to the deleted keys' own buckets (_vector_scope). An EMPTY scope (no
    keys, or keys hashing to empty buckets) could never filter a row and
    no rewrite would ever clear it (OPTIMIZE rewrites scoped buckets),
    so that vector is removed instead of registered."""
    if not scope:
        shutil.rmtree(os.path.join(path, dseg))
        return _carry_deletes(m)
    return {"delete_key": key_col,
            "delete_segs": (m.get("delete_segs") or []) + [dseg],
            "delete_scopes": m.get("delete_scopes", {}) | {dseg: scope},
            "delete_typed": m.get("delete_typed", [])
            + ([dseg] if ktype else [])}


def _carry_hidden(parent: dict) -> dict:
    """Logically-dropped columns survive every accreting commit — a
    single append without the carry would resurrect the column on the
    next mergeSchema read (the bytes are still in old segments).
    Rewriting commits (overwrite / compact / zorder / upsert) build
    from read(), where the projection already removed the column, so
    they deliberately do NOT carry — the rewrite materializes the
    drop."""
    if parent.get("hidden_cols"):
        return {"hidden_cols": list(parent["hidden_cols"])}
    return {}


def _carry_deletes(parent: dict) -> dict:
    """Pending delete vectors survive appends (new rows are unaffected by
    old deletes only if their keys differ — the vector filters by KEY, so
    carrying it preserves the pending deletes across ingest; each
    vector's SCOPE limits it to the segments that existed when it was
    committed, so later-appended rows — including re-inserts of a deleted
    key — are never filtered by an older vector)."""
    if parent.get("delete_segs"):
        return {"delete_segs": parent["delete_segs"],
                "delete_key": parent["delete_key"],
                "delete_scopes": parent.get("delete_scopes", {}),
                "delete_typed": parent.get("delete_typed", [])}
    return {}


def _prune_vectors(m: dict, live_segs: set[str]) -> dict:
    """Carry pending delete vectors across a PARTIAL rewrite
    (upsert_bucketed / the bucketed compact), dropping vectors whose scope
    no longer names any live segment — every row such a vector could
    hide was just materialized out by the rewrite, so carrying it
    would only grow the manifest forever. Vectors still scoped to an
    untouched bucket's segments survive verbatim. A legacy vector
    with no recorded scope conservatively survives everything short
    of a full rewrite."""
    dsegs = m.get("delete_segs") or []
    scopes = m.get("delete_scopes", {})
    keep = [d for d in dsegs
            if scopes.get(d) is None or set(scopes[d]) & live_segs]
    if not keep:
        return {}
    return {"delete_key": m["delete_key"], "delete_segs": keep,
            "delete_scopes": {d: scopes[d] for d in keep if d in scopes},
            "delete_typed": [d for d in m.get("delete_typed", [])
                             if d in keep]}


def _vector_scope(m: dict, kdf: DataFrame, key_col: str,
                  path: str | None = None,
                  dseg: str | None = None) -> list[str]:
    """A delete vector's segment scope: every current segment of a flat
    table. On the bucketed layout, when the vector keys
    the table's BUCKET key (the SQL layer's only case — bucketed
    tables hash-route by the declared row identity), a deleted key's
    rows can only live in that key's own hash bucket, so the scope
    shrinks to the touched buckets' current segments: reads and
    rewrites of every other bucket never even see the anti-join (at
    65536 buckets, a 100-key GDPR erasure scopes ~100 buckets). Any
    other key column scopes conservatively to every current segment.
    Cost: ZERO Spark jobs when ``path``/``dseg`` name the written
    vector segment — the keys are read back driver-side (pyarrow over
    the KB-sized files) and routed through functions.xxh.bucket_of,
    the parity-pinned twin of ``_bucket_expr``; vectors
    too large, NULL-keyed, or typed outside the pinned string/integral
    set fall back to one distinct-bucket-ids Spark job over the (tiny,
    already materialized) key segment — bounded by n_buckets."""
    if "buckets" not in m:
        return m["segments"]
    bkey, n_buckets, bmap = _bucketed_meta(m)
    if key_col != bkey:
        return sorted(_manifest_segments(m))
    touched = None
    if path is not None and dseg is not None:
        touched = _bucket_ids_local(
            os.path.join(path, dseg), key_col, n_buckets)
    if touched is None:
        touched = _bucket_ids(kdf.select(
            _bucket_expr(key_col, n_buckets).alias(_BUCKET_COL)))
    return [s for b in touched for s in bmap.get(str(b), [])]


def _bucket_ids_local(seg_dir: str, key_col: str,
                      n_buckets: int) -> list[int] | None:
    """Distinct bucket ids of an already-written key segment, computed
    DRIVER-SIDE from its parquet bytes — no Spark job. Returns None
    (caller falls back to the one-job Spark path) when the segment is
    larger than a driver-friendly bound or any key falls outside
    bucket_of's parity-pinned string/integral set (incl. NULL)."""
    import pyarrow.parquet as pq

    from ..functions.xxh import bucket_of

    files = [os.path.join(r, f) for r, _, fs in os.walk(seg_dir)
             for f in fs if f.endswith(".parquet")]
    if not files or sum(os.path.getsize(f) for f in files) > (16 << 20):
        return None
    try:
        ids: set[int] = set()
        for fp in files:
            col = pq.ParquetFile(fp).read(columns=[key_col]).column(0)
            ids |= {bucket_of(v, n_buckets) for v in col.to_pylist()}
        return sorted(ids)
    except (TypeError, KeyError):
        return None


def _write_delete_vector(spark: SparkSession, path: str, keys,
                         key_col: str, key_type: str | None = None
                         ) -> tuple[str, DataFrame]:
    """Materialize the delete-key set as a tiny ``del-*`` parquet
    segment; returns (segment_name, a re-read of it) so callers that
    need a second pass over the keys (bucket-scope computation) read
    the KB-sized segment back instead of re-running the caller's
    possibly table-sized key plan.

    ``key_type`` (the table's declared type for ``key_col``) pins the
    vector's physical type: a Python-list key set infers BIGINT while
    a DataFrame-sourced one carries the table's (possibly narrower)
    type — two pending vectors of different physical types would fail
    the one multi-file read that unions them."""
    if isinstance(keys, DataFrame):
        kdf = keys
    elif keys and all(isinstance(k, str) for k in keys):
        kdf = values_df(spark, [(k,) for k in keys], f"{key_col} string")
    elif keys and all(
        isinstance(k, int) and not isinstance(k, bool) for k in keys
    ):
        kdf = values_df(spark, [(k,) for k in keys], f"{key_col} bigint")
    else:
        kdf = spark.createDataFrame([(k,) for k in keys], [key_col])
    col = kdf[key_col].cast(key_type) if key_type else kdf[key_col]
    dseg = f"del-{uuid.uuid4().hex[:12]}"
    dpath = os.path.join(path, dseg)
    kdf.select(col.alias(key_col)).distinct().write.parquet(dpath)
    return dseg, spark.read.parquet(dpath)


def append(spark: SparkSession, path: str, batch: DataFrame,
           extra: dict | None = None,
           parent_version: int | None = None) -> int:
    """O(batch) append commit: write the batch as new segment(s), the
    manifest = parent segments + them. The ingest-path commit — never
    reads or rewrites existing data. A bucketed table routes the rows
    into per-bucket segments appended to the touched buckets' lists
    (compact folds them back down); a batch that touches no bucket
    commits nothing and returns the parent version. Pending delete
    vectors carry forward — the new segments are outside every vector's
    scope. Zone-map stats (when the table tracks them) cost one extra
    aggregate over the written segments, never a table scan. ``extra``:
    caller metadata (reserved keys win), same contract as create().

    ``parent_version`` pins the OCC parent: the commit targets
    parent_version+1, so a writer that decided WHAT to append based on
    state read at that version loses with ConcurrentWriteError if anyone
    committed in between (read-modify-write protection — plain appends
    are order-independent and don't need it; view refreshes do)."""
    v = current_version(path) if parent_version is None \
        else int(parent_version)
    return _append(spark, path, v, batch, "append", extra)


def _append(spark: SparkSession, path: str, v: int, batch: DataFrame,
            op: str, extra: dict | None = None,
            batch_id: int | None = None) -> int:
    """The one append body behind append and append_exactly_once
    (``batch_id`` recorded in the manifest; an exactly-once commit
    lands even when the batch is empty, so its id enters the log)."""
    m = _manifest(path, v)
    if "buckets" in m:
        op += "-bucketed"
    compat = _check_schema_compat(m, batch, op)
    batch = _apply_constraints(batch, m, op)
    extra = dict(extra or {}) | _carry_deletes(m) | _carry_hidden(m) \
        | compat
    if "buckets" not in m:
        seg = _write_segment(batch, path)
        return _publish(spark, path, v, m, op, m["segments"] + [seg],
                        extra, staged=[seg], batch_id=batch_id)
    bb = batch.withColumn(_BUCKET_COL, _bucket_expr(
        m["bucket_key"], int(m["n_buckets"])))
    touched = _bucket_ids(bb)
    if not touched and batch_id is None:
        return v
    segs = _write_bucket_segments(bb, path, touched) if touched else {}
    return _publish(spark, path, v, m, op, None,
                    extra | _layout_meta(m, segs), staged=segs.values(),
                    batch_id=batch_id)


def delete_rows(spark: SparkSession, path: str, keys, key_col: str,
                extra: dict | None = None,
                parent_version: int | None = None) -> int:
    """O(delete-set) point deletes via DELETE VECTORS — the Delta
    deletion-vector idea at manifest altitude: the keys are written as a
    tiny ``del-*`` parquet segment and the commit only EXTENDS the
    manifest's delete list; no data segment is read or rewritten. Readers
    of the committed version (read / read_pruned / table_changes'
    snapshot diff) apply the vectors as a broadcast anti-join; the next
    rewrite commit (upsert/overwrite/compact) materializes them — its
    new segments are built from the delete-filtered snapshot — and drops
    them, after which vacuum reaps the unreferenced ``del-*`` segments.
    On the bucketed layout the vector is scoped to the deleted keys' own
    hash buckets when it keys the bucket key, so reads of every other
    bucket stay anti-join-free (_vector_scope).

    This is the versioned-layer completion of B5: the flat writer's
    soft_delete rewrites the table, a bucketed upsert rewrites the
    touched buckets, this rewrites NOTHING — at 100 TB a compliance
    delete (GDPR erasure, takedown) costs the key list, not a scan.
    Note: table_row_count reports pre-delete counts while vectors are
    pending (exact again after materialization) — documented there.

    ``keys`` is a list of key values or a single-column DataFrame.
    ``parent_version`` pins the OCC parent (same contract as append)."""
    v = current_version(path) if parent_version is None \
        else int(parent_version)
    m = _manifest(path, v)
    _check_vector_key(m, key_col)
    ktype = m.get("col_types", {}).get(key_col)
    dseg, kset = _write_delete_vector(
        spark, path, keys, key_col, key_type=ktype)
    try:
        vec = _add_vector(m, path, dseg, _vector_scope(
            m, kset, key_col, path=path, dseg=dseg), key_col, ktype)
    except Exception:
        _cleanup_segments(path, [dseg])
        raise
    # carry the table's committed column types: without them the next
    # append's schema-drift guard starts from an empty known-types map
    # (silently disabled) and resets col_types to the batch's columns,
    # narrowing the versioned_cdc source's declared schema
    extra = dict(extra or {}) | _layout_meta(m) \
        | {"col_types": m.get("col_types", {})} | _carry_hidden(m) | vec
    return _publish(spark, path, v, m, "delete", m.get("segments"), extra,
                    staged=[dseg])


def delete_and_append(
    spark: SparkSession, path: str, keys, key_col: str, batch: DataFrame,
    extra: dict | None = None, parent_version: int | None = None,
    precommit=None,
) -> int:
    """ONE commit that both deletes by key (delete vector, zero rewrite)
    and appends new segment(s) — the atomic replace primitive a derived
    view's update refresh and conditional UPDATE / MERGE need: a reader
    either sees the pre-refresh state or the fully-refreshed state,
    never retracted keys without their replacement rows (two separate
    commits would expose that window, permanently so after a crash
    between them).

    The vector's SCOPE is the PARENT's segments (on the bucketed layout,
    those of the retracted keys' own buckets), so the rows appended in
    this same commit are never hidden by it — the delete-then-insert
    semantics of delete_rows + append, collapsed into one manifest
    publication. Cost is O(matched + appended): at 100 TB a conditional
    MERGE touching 1k keys writes one KB-sized vector plus the new row
    images, zero existing bytes read. ``parent_version`` pins the OCC
    parent (same contract as append). ``precommit(dseg, seg)``, when
    given, runs after both writes and before the manifest link —
    raising aborts the commit and cleans up the staged segments (the
    MERGE dup-key guard checks the WRITTEN files' footer stats here
    instead of paying a separate validation job). On the bucketed
    layout it receives ``(dseg or None, {bucket: segment})``."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    v = current_version(path) if parent_version is None \
        else int(parent_version)
    m = _manifest(path, v)
    _check_vector_key(m, key_col)
    bucketed = "buckets" in m
    compat = _check_schema_compat(m, batch, "delete-append")
    batch = _apply_constraints(batch, m, "delete-append")
    ktype = m.get("col_types", {}).get(key_col)

    # the vector chain (write keys → resolve scope) and the batch chain
    # (segment write; on the bucketed layout stage → per-bucket
    # segments) are INDEPENDENT jobs over the same (usually persisted)
    # batch — submit them from two driver threads so one chain's tasks
    # back-fill the other's task tail (guide-§2.6 overlap) instead of
    # paying two sequential per-job floors; both threads inherit this
    # one's local properties (job group included), so job censuses
    # keyed on the caller's group count their jobs
    def _chain_vector():
        dseg, kset = _write_delete_vector(
            spark, path, keys, key_col, key_type=ktype)
        return dseg, _vector_scope(m, kset, key_col, path=path, dseg=dseg)

    def _chain_batch():
        if not bucketed:
            return {None: _write_segment(batch, path)}
        bb = _stage_bucketed_batch(batch, m["bucket_key"],
                                   int(m["n_buckets"]))
        try:
            touched = _bucket_ids(bb)
            return _write_bucket_segments(bb, path, touched) \
                if touched else {}
        finally:
            bb.unpersist()

    with ThreadPoolExecutor(max_workers=2) as _ex:
        _fv = _ex.submit(inheritable_thread_target(spark)(_chain_vector))
        _fb = _ex.submit(inheritable_thread_target(spark)(_chain_batch))
        _errs, dseg, scope, segs = [], None, [], {}
        try:
            dseg, scope = _fv.result()
        except Exception as exc:  # noqa: BLE001 — re-raised below
            _errs.append(exc)
        try:
            segs = _fb.result()
        except Exception as exc:  # noqa: BLE001
            _errs.append(exc)
    staged = ([dseg] if dseg else []) + list(segs.values())
    try:
        if _errs:
            raise _errs[0]
        vec = _add_vector(m, path, dseg, scope, key_col, ktype)
        if precommit is not None:
            precommit(dseg if scope else None,
                      segs if bucketed else segs[None])
    except Exception:
        _cleanup_segments(path, staged)
        raise
    extra = dict(extra or {}) | _layout_meta(m, segs) | _carry_hidden(m) \
        | compat | vec
    return _publish(spark, path, v, m, "delete-append",
                    None if bucketed else m["segments"] + [segs[None]],
                    extra, staged=staged)


def overwrite(spark: SparkSession, path: str, df: DataFrame,
              extra: dict | None = None,
              parent_version: int | None = None,
              op: str = "overwrite") -> int:
    """Full-replace commit (B18-flavored reload target): the new
    segment(s) are the whole new state — pending delete vectors and
    hidden columns are definitionally materialized. A bucketed table
    writes a fresh per-bucket segment map (same deterministic hash
    routing, bucket count preserved). Old versions remain readable until
    vacuum. ``extra``: caller metadata recorded in the manifest
    (reserved keys win), same contract as create(). ``parent_version``
    pins the OCC parent (same read-modify-write contract as append).
    ``op`` labels the commit in DESCRIBE HISTORY (truncate() reuses this
    path)."""
    v = current_version(path) if parent_version is None \
        else int(parent_version)
    parent = _manifest(path, v)
    # CHECK constraints apply to the replacement state inline in the
    # write job (truncate's empty frame passes trivially)
    df = _apply_constraints(df, parent, op)
    extra = dict(extra or {})
    types = {"col_types": _col_types(df)}
    if "buckets" not in parent:
        seg = _write_segment(df, path)
        return _publish(spark, path, v, parent, op, [seg], extra | types,
                        staged=[seg])
    key, n_buckets, _ = _bucketed_meta(parent)
    if key not in df.columns:
        raise ValueError(f"overwrite of a bucketed table needs "
                         f"its bucket key {key!r} (columns: "
                         f"{df.columns})")
    # ONE pass: _write_bucket_segments skips absent partition dirs, so
    # probing all bucket ids costs nothing extra, while a separate
    # _bucket_ids() job would execute the caller's whole source plan a
    # second time
    segs = _write_bucket_segments(
        df.withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets)), path,
        list(range(n_buckets)))
    return _publish(spark, path, v, parent, op, None,
                    extra | _layout_meta(parent)
                    | {"buckets": {str(b): [s] for b, s in segs.items()}}
                    | types, staged=segs.values())


def truncate(spark: SparkSession, path: str) -> int:
    """Delta-style TRUNCATE TABLE: one commit whose new state is the
    zero-row frame of the CURRENT user-visible schema (pending delete
    vectors and hidden columns are definitionally materialized — the
    new state is empty). Old versions stay readable until vacuum and
    RESTORE undoes it, so this is the reversible "reload from scratch"
    primitive (reference B18 full-reload, rclip_server.py:393-401,
    completed at manifest altitude). Layout-dispatched through
    overwrite(): a bucketed table keeps its bucket key + count (the
    manifest's bucket map just goes empty), so post-truncate INSERTs
    hash-route exactly as before. Cost: one empty-segment write —
    zero data read, zero data-sized job, same at 100 TB."""
    v = current_version(path)
    return overwrite(spark, path, read(spark, path, v).limit(0),
                     op="truncate")


_CLONE_DIR = "_clones"


def _register_clone_ref(owner_path: str, clone_path: str,
                        segs: list[str]) -> str:
    """Pin ``owner_path``'s segments for a shallow clone: one ref file
    per (owner, clone) under the owner's ``_clones/``, written
    atomically (fsync + rename). The owner's vacuum reads these refs
    and keeps every segment a LIVE clone's manifests still name; a ref
    whose clone directory is gone (DROPped) is dead and reaped by the
    next vacuum — same liveness-by-filesystem contract as the catalog
    lock and the version floors. ``segs`` (the owner's segment names
    the clone starts from) tells vacuum they were committed, so once
    unpinned they are reaped at once, not aged like an uncommitted
    write."""
    croot = os.path.join(owner_path, _CLONE_DIR)
    os.makedirs(croot, exist_ok=True)
    p = os.path.join(croot, f"ref-{uuid.uuid4().hex[:12]}.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"clone": os.path.realpath(clone_path), "segs": segs}, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, p)
    return p


def clones_still_referencing(path: str) -> list[str]:
    """Live clones whose RETAINED MANIFESTS still name this table's
    segments — the manifest-walking liveness check DROP TABLE blocks
    on (ADVICE r11: a guard on the mere existence of registered clones
    permanently blocked dropping a source even after every clone had
    been localized by OPTIMIZE + VACUUM). Consistent with vacuum's
    ``_clone_pinned_segments``: a clone whose history no longer
    references us releases the block exactly when it would release
    the segment pins. A registered clone with no manifests yet
    (mid-creation) blocks conservatively — its first commit is about
    to reference us."""
    croot = os.path.join(path, _CLONE_DIR)
    if not os.path.isdir(croot):
        return []
    me = os.path.realpath(path)
    out: set[str] = set()
    for f in sorted(os.listdir(croot)):
        if not f.endswith(".json"):
            continue
        try:
            with open(os.path.join(croot, f)) as fh:
                clone = json.load(fh)["clone"]
        except (OSError, ValueError, KeyError):
            continue
        if not os.path.isdir(os.path.join(clone, _SNAP_DIR)):
            continue  # clone DROPped: dead ref (vacuum owns reaping)
        versions = _manifest_versions(clone)
        if not versions:
            out.add(clone)  # mid-creation clone: conservative block
            continue
        for v in versions:
            try:
                m = _manifest(clone, v)
            except FileNotFoundError:
                continue  # the clone's own vacuum raced us
            segs = list(_manifest_segments(m)) + list(
                m.get("delete_segs") or [])
            if any(os.path.isabs(s)
                   and os.path.realpath(os.path.dirname(s)) == me
                   for s in segs):
                out.add(clone)
                break
    return sorted(out)


def _clone_pinned_segments(path: str, reap: bool = True,
                           committed: set[str] | None = None
                           ) -> set[str] | None:
    """Segment NAMES of ``path`` that live clones still reference —
    unioned into vacuum's keep set. Returns ``None`` (pin everything,
    skip this run's segment deletion) when a registered clone exists
    but has no manifests yet: that's a clone mid-creation, whose ref
    landed before its first commit precisely so a racing vacuum backs
    off. Dead refs (clone directory gone) are reaped here; ref temp
    files from a crashed registration are reaped after the same
    minimum age as commit temp files. Every ref's registered segment
    names, live or dead, are added to ``committed``."""
    import time as _time

    croot = os.path.join(path, _CLONE_DIR)
    if not os.path.isdir(croot):
        return set()
    me = os.path.realpath(path)
    now = _time.time()
    out: set[str] = set()
    pin_all = False
    for f in sorted(os.listdir(croot)):
        p = os.path.join(croot, f)
        if f.endswith(".json.tmp"):
            if reap and now - os.path.getmtime(p) >= 300.0:
                _suppress_remove(p)
            continue
        if not f.endswith(".json"):
            continue
        try:
            with open(p) as fh:
                ref = json.load(fh)
            clone = ref["clone"]
        except (OSError, ValueError, KeyError):
            continue  # unreadable ref: never a reason to reap data
        if committed is not None:
            committed.update(ref.get("segs", ()))
        if not os.path.isdir(os.path.join(clone, _SNAP_DIR)):
            if reap:
                _suppress_remove(p)  # clone dropped — dead ref
            continue
        versions = _manifest_versions(clone)
        if not versions:
            pin_all = True
            continue
        for v in versions:
            try:
                m = _manifest(clone, v)
            except FileNotFoundError:
                continue  # the clone's own vacuum raced us
            for s in list(_manifest_segments(m)) + list(
                    m.get("delete_segs") or []):
                if os.path.isabs(s) and \
                        os.path.realpath(os.path.dirname(s)) == me:
                    out.add(os.path.basename(s))
    return None if pin_all else out


def clone(src_path: str, dst_path: str, version: int | None = None
          ) -> int:
    """SHALLOW clone (Delta CLONE semantics, plus the vacuum safety
    Delta doesn't give you): the clone's v1 manifest references the
    source's segment directories by ABSOLUTE path — zero bytes copied,
    O(manifest) time at any table size. Every read/DML/OPTIMIZE verb
    works on the clone unchanged because all segment resolution goes
    through ``os.path.join(table, seg)``, which passes absolute refs
    through; writes land as clone-local segments, so the two tables
    diverge from the shared base without ever touching each other's
    data. Layout (bucket map), pending delete vectors (with scopes),
    zone maps, hidden columns, and per-segment row counts all carry
    over — a clone of a bucketed table IS bucketed.

    Vacuum safety: before the clone's first commit, a ref file is
    registered under every owner table's ``_clones/`` (ref-first
    ordering: a source vacuum that sees a manifest-less clone pins
    everything and backs off). The owner's vacuum keeps every segment
    a live clone's manifests still name and reaps refs whose clone
    directory is gone. OPTIMIZE on the clone materializes it (fresh
    local segments); once the clone's own history drops the foreign
    refs, the source's vacuum reclaims them.

    Remaining race (documented): a source vacuum that listed
    ``_clones/`` before our ref landed may delete segments after we
    read the manifest — the post-commit existence re-check below turns
    that into a clean error instead of a broken table. Delta shallow
    clones have no protection at all here; ours narrows the window to
    an in-flight vacuum."""
    v = current_version(src_path) if version is None else int(version)
    m = _manifest(src_path, v)
    src_abs = os.path.realpath(src_path)

    def _abs(s: str) -> str:
        return s if os.path.isabs(s) else os.path.join(src_abs, s)

    extra: dict = {"col_types": m.get("col_types", {}),
                   "cloned_from": {"path": src_abs, "version": v}}
    # CHECK constraints carry over (Delta CLONE copies table
    # constraints/properties): without this an insert into the clone
    # of a constrained table would silently bypass enforcement. View-
    # spec app keys are deliberately NOT carried — a clone of a
    # maintained view is an ordinary table snapshot, not a second
    # refresher racing the original's cursor.
    cons = _constraints(m)
    if cons:
        extra["app"] = {"table_constraints": cons}
    for k in ("hidden_cols", "delete_key", "stat_cols"):
        if m.get(k) is not None:
            extra[k] = m[k]
    if m.get("delete_segs"):
        extra["delete_segs"] = [_abs(d) for d in m["delete_segs"]]
        scopes = m.get("delete_scopes") or {}
        extra["delete_scopes"] = {
            _abs(d): (None if ss is None else [_abs(s) for s in ss])
            for d, ss in scopes.items()}
        # the typed marker follows its vectors through the _abs
        # rewrite — losing it would silently demote every pinned
        # serving read of the clone to the mergeSchema compat path
        extra["delete_typed"] = [_abs(d) for d in
                                 m.get("delete_typed", [])]
    for k in ("seg_stats", "seg_rows"):
        if m.get(k):
            extra[k] = {_abs(s): val for s, val in m[k].items()}
    segments = None
    if "buckets" in m:
        extra |= {"bucket_key": m["bucket_key"],
                  "n_buckets": m["n_buckets"],
                  "buckets": {b: [_abs(s) for s in ss]
                              for b, ss in m["buckets"].items()}}
        data_refs = [s for ss in extra["buckets"].values() for s in ss]
    else:
        segments = [_abs(s) for s in m["segments"]]
        data_refs = list(segments)
    all_refs = data_refs + list(extra.get("delete_segs", []))
    # claim the DESTINATION ROOT exclusively (not just the _snap leaf):
    # the failure path below rmtree's dst_path, so proceeding over a
    # pre-existing non-table directory would wipe the user's data on a
    # later error. makedirs(exist_ok=False) is the atomic claim.
    os.makedirs(dst_path, exist_ok=False)
    os.makedirs(os.path.join(dst_path, _SNAP_DIR))
    refs = []
    try:
        for owner in sorted({os.path.dirname(s) for s in all_refs}):
            refs.append(_register_clone_ref(owner, dst_path, sorted(
                os.path.basename(s) for s in all_refs
                if os.path.dirname(s) == owner)))
        _commit(dst_path, 1, segments, "clone", extra=extra)
        missing = [s for s in all_refs if not os.path.isdir(s)]
        if missing:
            raise FileNotFoundError(
                f"clone source segment(s) vanished under a racing "
                f"vacuum: {missing[:3]} — re-run the clone")
    except BaseException:
        for r in refs:
            _suppress_remove(r)
        shutil.rmtree(dst_path, ignore_errors=True)
        raise
    return 1


def upsert(spark: SparkSession, path: str, updates: DataFrame, key: str) -> int:
    """MERGE-on-key commit: read the head snapshot, left-anti + union merge
    (writer.upsert_parquet's plan), write the merged state as one new
    segment. Readers of older versions are untouched; a concurrent commit
    between our read and our commit raises ConcurrentWriteError so the
    caller re-merges against the new head instead of silently losing it
    (write-write conflict detection, the Delta-log rule)."""
    v = current_version(path)
    m0 = _manifest(path, v)
    if "buckets" in m0:
        # layout dispatch (same contract as append/delete_rows): the
        # bucketed twin rewrites only the touched buckets, but only
        # merges on the BUCKET key — any other key would need rows
        # moved across buckets
        if key != m0["bucket_key"]:
            raise ValueError(
                f"bucketed upsert merges on the bucket key "
                f"{m0['bucket_key']!r}, got {key!r}")
        return upsert_bucketed(spark, path, updates)
    # ghost guard: an updates batch carrying a logically-dropped
    # column (drop_column) must not resurrect it through the merged
    # rewrite — the same refusal append/delete_and_append enforce
    _check_schema_compat(m0, updates, "upsert")
    updates = _apply_constraints(updates, m0, "upsert")
    target = read(spark, path, v)
    merged = target.join(
        updates.select(key).distinct(), [key], "left_anti"
    ).unionByName(updates, allowMissingColumns=True)
    seg = _write_segment(merged, path)
    return _publish(spark, path, v, m0, "upsert", [seg],
                    {"col_types": _col_types(merged)}, staged=[seg])


def add_column(spark: SparkSession, path: str, col: str, dtype: str,
               parent_version: int | None = None) -> int:
    """METADATA-ONLY column add for the BUCKETED layout: commit a new
    version whose ``col_types`` carries the evolved column — no
    segment is written (the flat path appends a zero-row evolved
    segment and lets mergeSchema surface the column; a bucketed table
    has no natural bucket for an empty segment, so the declaration
    lives in the manifest and the bucketed ``read`` reconciles
    declared-but-unwritten columns as typed NULLs). Existing rows read
    NULL; batches appended with or without the column both work (the
    drift guard knows the declared type)."""
    v = current_version(path) if parent_version is None \
        else int(parent_version)
    m = _manifest(path, v)
    if "buckets" not in m:
        raise ValueError("flat tables add columns via a zero-row "
                         "evolved-schema append (the SQL ALTER path)")

    if col.lower() == _BUCKET_COL:
        # the internal routing column: a bucketed append overwrites it
        # and _write_bucket_segments strips it from the files — user
        # data under this name would silently read back NULL forever
        raise ValueError(f"{_BUCKET_COL!r} is the bucketed layout's "
                         f"reserved routing column")
    types = m.get("col_types", {})
    clash = next((c for c in types if c.lower() == col.lower()), None)
    if clash:
        raise ValueError(f"column {clash!r} already exists on {path}")
    hidden = next((c for c in m.get("hidden_cols", [])
                   if c.lower() == col.lower()), None)
    if hidden:
        raise ValueError(
            f"column {hidden!r} was dropped from this table — rename "
            f"it, or RESTORE a pre-drop version to resurrect it")
    # validate + normalize the type string through Spark's DDL parser
    try:
        field = spark.createDataFrame([], f"`{col}` {dtype}") \
            .schema.fields[0]
    except Exception as ex:
        raise ValueError(f"bad column type {dtype!r}: {ex}") from ex
    extra = _layout_meta(m) | {
        "col_types": dict(types) | {col: field.dataType.simpleString()},
    }
    extra |= _carry_deletes(m) | _carry_hidden(m)
    return _publish(spark, path, v, m, "add-column", None, extra)


def drop_column(spark: SparkSession, path: str, col: str,
                parent_version: int | None = None) -> int:
    """METADATA-ONLY column drop (the Delta column-mapping idea at
    manifest altitude): commit a new version whose ``hidden_cols``
    carries the dropped name — the read projection (_apply_hidden)
    removes it at the single flat-read choke point, no byte of a
    100 TB table is read or rewritten. The bytes stay in old segments
    until the next REWRITING commit (overwrite / compact / zorder /
    upsert builds from read(), where the column is already gone) —
    the same deferred-materialization contract delete vectors follow.
    Time travel below this version still shows the column; RESTORE to
    a pre-drop version resurrects it (hidden_cols travels in the
    manifest, so history is schema-accurate). Re-appending the
    dropped name is refused by the drift guard until then.

    Flat tables only. The delete-vector key, zone-map stat columns,
    and the last remaining column are refused — each is load-bearing
    for reads of retained versions."""
    v = current_version(path) if parent_version is None \
        else int(parent_version)
    m = _manifest(path, v)
    types = m.get("col_types", {})
    real = next((c for c in types if c.lower() == col.lower()), None)
    if real is None:
        raise ValueError(f"no column {col!r} on {path} "
                         f"(columns: {sorted(types)})")
    if "buckets" in m and real == m["bucket_key"]:
        raise ValueError(f"cannot drop {real!r}: it is the bucket "
                         f"key — the physical layout hashes on it")
    if m.get("delete_segs") and m.get("delete_key", "").lower() == \
            real.lower():
        raise ValueError(
            f"cannot drop {real!r}: pending delete vectors key on it "
            f"— compact() first to materialize them")
    if real in (m.get("stat_cols") or []):
        raise ValueError(f"cannot drop {real!r}: it carries zone-map "
                         f"stats — recluster without it first")
    if len(types) <= 1:
        # col_types already excludes previously dropped columns, so
        # its size IS the visible-column count
        raise ValueError("cannot drop the last visible column")
    extra = {
        "col_types": {c: t for c, t in types.items() if c != real},
        "hidden_cols": list(m.get("hidden_cols", [])) + [real],
    }
    # on the bucketed layout the bytes stay in the per-bucket segments
    # until a full OPTIMIZE pass materializes the drop (compact
    # rewrites every non-empty bucket while hidden_cols is set, then
    # clears it)
    extra |= _carry_deletes(m) | _layout_meta(m)
    return _publish(spark, path, v, m, "drop-column", m.get("segments"),
                    extra)


def compact(spark: SparkSession, path: str, min_segments: int = 2) -> int:
    """Fold accreted segments as a normal committed version: the new
    segments are built from the head snapshot with pending delete
    vectors applied — so deletes are MATERIALIZED by the rewrite and
    the vector list clears — and readers of older versions stay
    isolated (old segments live until vacuum). A flat table folds into
    ONE segment once it holds ``min_segments`` or more; a bucketed one
    rewrites only the buckets holding >= ``min_segments`` segments or a
    pending vector's scope (the rest keep their names — maintenance
    cost tracks ingest churn, not table size). Pending logical column
    drops and foreign (clone) segment refs force the rewrite on either
    layout.

    Why this is table maintenance, not a luxury: the manifest carries
    ~100 bytes per segment (seg_rows, plus seg_stats when zone maps are
    tracked), and every commit reads new segments' parquet footers — both
    O(#segments). Under many small appends the manifest balloons
    linearly (pinned by test_manifest_growth_and_compaction); periodic
    compaction restores it to O(1). Returns the new version (current
    version when already compact)."""
    v = current_version(path)
    m = _manifest(path, v)
    if "buckets" in m:
        return _compact_buckets(spark, path, v, m, min_segments)
    if (len(m["segments"]) < min_segments and not m.get("delete_segs")
            and not m.get("hidden_cols")
            and not any(os.path.isabs(s) for s in m["segments"])):
        # nothing to fold, no deletes and no logical drops to
        # materialize, and no foreign (clone) refs to localize: the
        # head is already compact
        return v
    seg = _write_segment(read(spark, path, v), path)
    return _publish(spark, path, v, m, "compact", [seg],
                    {"col_types": m.get("col_types", {})}, staged=[seg])


def cluster_zorder(
    spark: SparkSession, path: str, x_col: str, y_col: str,
    n_segments: int = 8, bits: int = 16,
) -> int:
    """OPTIMIZE ZORDER as a committed version (the Delta/Databricks idea
    at manifest altitude). A flat table's head snapshot is rewritten
    into ``n_segments`` range-disjoint segments ordered by the Morton
    key of ``(x_col, y_col)``, with zone maps recorded for BOTH columns
    — after which a range predicate on EITHER column maps to O(few)
    contiguous z-ranges, so ``read_pruned`` skips most segments at
    manifest resolution (pinned by test: the same 2-D range query
    survives fewer segments after clustering). Appends after clustering
    accrete unclustered segments as usual; re-run to fold them in. A
    bucketed table is clustered WITHIN each bucket instead
    (_zorder_buckets; ``n_segments`` does not apply — every bucket
    folds to one segment).

    Plan shape: one boundary sample (approxQuantile over the z column),
    one hash repartition on the computed bucket id with a within-
    partition sort, one partitioned write — never a global sort to a
    single task. Pending delete vectors are materialized by the rewrite.
    Readers of older versions stay isolated (old segments live until
    vacuum)."""
    import pyspark.sql.functions as F

    from .writer import zorder_value

    v = current_version(path)
    m = _manifest(path, v)
    if "buckets" in m:
        return _zorder_buckets(spark, path, v, m, x_col, y_col, bits)
    df = read(spark, path, v)
    z = zorder_value(F.col(x_col), F.col(y_col), int(bits))
    zdf = df.withColumn("__z", z)
    n = max(1, int(n_segments))
    if n > 1:
        qs = [i / n for i in range(1, n)]
        bounds = zdf.stat.approxQuantile("__z", qs, 0.01)
        bucket = F.lit(0)
        for b in bounds:
            bucket = bucket + (F.col("__z") > F.lit(int(b))).cast("int")
    else:
        bucket = F.lit(0)
    tmp = os.path.join(path, f".zorder-{uuid.uuid4().hex[:12]}")
    (
        zdf.withColumn("__zb", bucket)
        .repartition(n, "__zb")
        .sortWithinPartitions("__zb", "__z")
        .drop("__z")
        .write.partitionBy("__zb").parquet(tmp)
    )
    segs: list[str] = []
    try:
        for d in sorted(os.listdir(tmp)):
            if not d.startswith("__zb="):
                continue
            seg = f"seg-z{uuid.uuid4().hex[:12]}"
            os.rename(os.path.join(tmp, d), os.path.join(path, seg))
            segs.append(seg)
        if not segs:
            # empty head (e.g. every row delete-vectored): commit ONE
            # empty schema-bearing segment — a zero-segment manifest
            # would make read() of the head raise FileNotFoundError
            segs.append(_write_segment(df.limit(0), path))
    except OSError:
        _cleanup_segments(path, segs)
        raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return _publish(spark, path, v, m, "cluster-zorder", segs,
                    {"col_types": m.get("col_types", {})}, staged=segs,
                    stat_cols=sorted(set(m.get("stat_cols") or [])
                                     | {x_col, y_col}))


def _commit_epoch(path: str, v: int, m: dict | None = None) -> float:
    """The commit clock for one version: the explicit ``committed_at``
    epoch recorded inside the manifest at _commit time (survives
    cp/rsync/restore of the table directory), falling back to the
    manifest file's mtime for legacy manifests written before the
    field existed."""
    if m is None:
        m = _manifest(path, v)
    ca = m.get("committed_at")
    if ca is not None:
        return float(ca)
    return os.path.getmtime(_snap_path(path, v))


def _rewrite_commit_epoch(path: str, version: int, epoch: float) -> None:
    """TEST-SUPPORT ONLY: rewrite one committed manifest's
    ``committed_at`` (and the file mtime, keeping the legacy fallback
    clock consistent). Fixtures spread the commit clock
    deterministically because real commits can land within one clock
    tick; production code never rewrites a published manifest."""
    p = _snap_path(path, version)
    with open(p) as f:
        m = json.load(f)
    m["committed_at"] = float(epoch)
    with open(p, "w") as f:
        json.dump(m, f)
    os.utime(p, (epoch, epoch))


def version_at_timestamp(path: str, ts) -> int:
    """Largest RETAINED version committed at or before ``ts`` — the
    timestamp half of time travel (Delta's TIMESTAMP AS OF). The
    commit clock is the ``committed_at`` epoch recorded inside each
    manifest (mtime fallback for legacy manifests), so a directory
    copy that loses mtimes cannot rewrite history. ``ts``: epoch
    seconds, or an ISO-8601 string (naive = UTC — the engine session
    is pinned to UTC). Manifest-listing only, zero Spark jobs."""
    import datetime as _dt

    if isinstance(ts, str):
        try:
            t = _dt.datetime.fromisoformat(ts)
        except ValueError as ex:
            raise ValueError(f"bad timestamp {ts!r}: {ex}") from ex
        if t.tzinfo is None:
            t = t.replace(tzinfo=_dt.timezone.utc)
        target = t.timestamp()
    else:
        target = float(ts)
    best = None
    versions = _manifest_versions(path)
    for v in versions:
        mt = _commit_epoch(path, v)
        # quantize to the MICROSECOND clock history()/DESCRIBE HISTORY
        # report (datetime truncates sub-µs nanoseconds), so a
        # reported commit timestamp always resolves to its own version
        # — comparing the raw float would land sub-µs AFTER the
        # reported timestamp and skip back one version
        mt = _dt.datetime.fromtimestamp(
            mt, _dt.timezone.utc).timestamp()
        if mt <= target:
            best = v
    if best is None:
        oldest = f"v{versions[0]}" if versions else "-none-"
        raise ValueError(
            f"no retained version of {path} existed at or before "
            f"{ts!r} (oldest retained: {oldest})")
    return best


def committed_batch_ids(path: str) -> set[int]:
    """Batch ids recorded by ``append_exactly_once`` commits still in the
    log. Vacuum trims old manifests, so the streaming engine's checkpoint
    (which bounds how far back a replay can reach) must be retained at
    least as long as the manifest window — the standard sink-log pairing."""
    out: set[int] = set()
    head = current_version(path)
    for v in _manifest_versions(path):
        if v > head:  # defensive: only committed history counts
            continue
        m = _manifest(path, v)
        if "batch_id" in m:
            out.add(int(m["batch_id"]))
    return out


def append_exactly_once(
    spark: SparkSession, path: str, batch: DataFrame, batch_id: int
) -> int | None:
    """EXACTLY-ONCE streaming append: the micro-batch's id is recorded IN
    the commit manifest, so a crash-replay of the same batch (foreachBatch
    is at-least-once) finds its id already in the log and skips — the
    transactional-sink recipe from the Structured Streaming docs, with the
    manifest log as the transaction record. Same O(batch), zero-rewrite
    commit as append on either layout (a table converted to bucketed
    mid-stream keeps its sink working). Returns the committed version,
    or None when the batch was already committed (replay)."""
    if int(batch_id) in committed_batch_ids(path):
        return None
    return _append(spark, path, current_version(path), batch,
                   "stream-append", batch_id=int(batch_id))


def with_retry(attempt, max_retries: int = 3):
    """The ONE optimistic-concurrency rebase loop: call ``attempt()``
    until it commits, re-running it on ConcurrentWriteError — each
    attempt re-reads the NEW head and re-applies its change against it,
    so the loser's update is re-based, never lost or double-applied (the
    Delta commit-retry protocol). Raises after ``max_retries`` rebases.
    Writers (upsert_with_retry, the bucketed SQL MERGE) and the view
    refreshers all run under it."""
    for _ in range(max_retries):
        try:
            return attempt()
        except ConcurrentWriteError:
            pass
    return attempt()


def upsert_with_retry(
    spark: SparkSession, path: str, updates: DataFrame, key: str,
    max_retries: int = 3,
) -> int:
    """MERGE (upsert) under the OCC rebase loop (with_retry)."""
    return with_retry(lambda: upsert(spark, path, updates, key),
                      max_retries)


def table_row_count(path: str, version: int | None = None) -> int:
    """EXACT row count of a version from the manifest's recorded
    per-segment counts — zero Spark jobs, zero file opens (counts were
    read once from parquet footers at commit time). Falls back to a
    footer walk for segments committed before counts were recorded.
    While delete vectors are pending (delete_rows), this is the
    PRE-DELETE upper bound — exact counting would need the anti-join the
    vectors defer; the next rewrite commit materializes the deletes and
    restores exactness."""
    v = current_version(path) if version is None else int(version)
    return _manifest_row_count(path, _manifest(path, v))


def _manifest_row_count(path: str, m: dict) -> int:
    """Row total for an already-loaded manifest: recorded seg_rows, with
    a parquet-footer fallback for legacy segments — the ONE copy of the
    counting fold (table_row_count and describe both call it, so the
    contract cannot silently diverge between them)."""
    from .catalog import table_row_count as _footer_rows

    rows = m.get("seg_rows", {})
    total = 0
    for s in _manifest_segments(m):
        n = rows.get(s)
        total += int(n) if n is not None else _footer_rows(
            os.path.join(path, s))
    return total


def history(path: str) -> list[dict]:
    """The commit log, oldest first: version, op, parent, segment
    count, and the commit timestamp (the manifest's ``committed_at``
    epoch as ISO-8601 UTC, mtime fallback for legacy manifests — the
    value TIMESTAMP AS OF / RESTORE ... TO TIMESTAMP resolve
    against)."""
    import datetime as _dt

    out = []
    for v in _manifest_versions(path):
        m = _manifest(path, v)
        mt = _commit_epoch(path, v, m)
        out.append({"version": m["version"], "op": m["op"],
                    "parent": m["parent"],
                    "n_segments": len(_manifest_segments(m)),
                    "timestamp": _dt.datetime.fromtimestamp(
                        mt, _dt.timezone.utc).isoformat()})
    return out


def _manifest_segments(m: dict) -> set[str]:
    """Every segment a manifest references — flat tables list them under
    ``segments``; bucketed tables map bucket id → segment list under
    ``buckets``."""
    if "segments" in m and m["segments"] is not None:
        return set(m["segments"])
    return {s for segs in m.get("buckets", {}).values() for s in segs}


_FLOOR_RE = re.compile(r"^\.floor-[0-9a-f]{12}\.json$")


def register_version_floor(path: str, version: int,
                           owner: str = "") -> str:
    """Pin versions >= ``version`` against vacuum: a reader that will
    KEEP reading the table across an unbounded window (a refresh
    stream tailing the manifest log) registers a floor; vacuum keeps
    every manifest at or above the lowest LIVE floor regardless of
    keep_last/retain_seconds, so the stream's next refresh interval
    (cursor → head) can never be reaped out from under it. Returns the
    floor id for advance_version_floor / release_version_floor.

    Crash safety: the floor file records the holder's pid; a floor
    whose process is gone is ignored and reaped by the next vacuum
    (same same-machine liveness contract as the catalog lock), so a
    crashed stream cannot pin the log forever."""
    fid = f".floor-{uuid.uuid4().hex[:12]}.json"
    p = os.path.join(path, _SNAP_DIR, fid)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"floor_version": int(version), "pid": os.getpid(),
                   "owner": owner}, f)
    os.replace(tmp, p)
    return fid


def advance_version_floor(path: str, floor_id: str,
                          version: int) -> None:
    """Move a floor forward (each stream micro-batch advances it to
    the new cursor, keeping the pinned window O(in-flight), not
    O(stream lifetime)). Never moves a floor backward, and never
    resurrects a RELEASED floor: release writes a ``.released``
    tombstone before removing the file, and advance checks it both
    before and after its atomic replace — so a release interleaving
    anywhere inside an in-flight advance still wins (the recreated
    file is removed immediately), closing the check-then-write race
    that would otherwise re-pin the table with no handle left."""
    p = os.path.join(path, _SNAP_DIR, floor_id)
    tomb = p + ".released"
    if os.path.exists(tomb):
        _suppress_remove(p)
        return
    try:
        with open(p) as f:
            cur = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        # missing (released) or mid-replace: skip this advance — the
        # next micro-batch advances again
        return
    if cur.get("floor_version", -1) >= int(version):
        return
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"floor_version": int(version), "pid": os.getpid(),
                   "owner": cur.get("owner", "")}, f)
    os.replace(tmp, p)
    if os.path.exists(tomb):  # release raced the replace: it wins
        _suppress_remove(p)


def _suppress_remove(p: str) -> None:
    try:
        os.remove(p)
    except OSError:
        pass


def release_version_floor(path: str, floor_id: str) -> None:
    """Release a floor. Tombstone-first: the marker is what makes a
    racing in-flight advance unable to resurrect the floor file (see
    advance_version_floor); vacuum reaps aged tombstones."""
    p = os.path.join(path, _SNAP_DIR, floor_id)
    try:
        open(p + ".released", "w").close()
    except OSError:
        pass
    _suppress_remove(p)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _live_floor(path: str, reap: bool = True) -> int | None:
    """Lowest live floor version. With ``reap`` (vacuum's mode),
    dead-pid and tombstoned floor files are removed on the way so
    leaks self-heal; read-only callers (describe) pass reap=False —
    a metadata report must not mutate the table directory (and must
    not reap floors on behalf of a vacuum it isn't)."""
    snap_dir = os.path.join(path, _SNAP_DIR)
    lowest = None
    for name in os.listdir(snap_dir):
        if not _FLOOR_RE.match(name):
            continue
        p = os.path.join(snap_dir, name)
        if os.path.exists(p + ".released"):
            # released; the file is race residue (advance recreated it)
            if reap:
                _suppress_remove(p)
            continue
        try:
            with open(p) as f:
                d = json.load(f)
            ver, pid = int(d["floor_version"]), int(d["pid"])
        except (json.JSONDecodeError, KeyError, ValueError, TypeError,
                FileNotFoundError):
            # mid-replace or corrupt: skip, do not reap (the writer
            # may be about to os.replace the real content in)
            continue
        if not _pid_alive(pid):
            if reap:
                _suppress_remove(p)
            continue
        lowest = ver if lowest is None else min(lowest, ver)
    return lowest


def vacuum(path: str, keep_last: int = 1,
           retain_seconds: float | None = None,
           dry_run: bool = False) -> list[str]:
    """Drop manifests older than the last ``keep_last`` versions and delete
    segments no kept manifest references. Returns the deleted segment names.
    The only destructive operation — time travel reaches exactly the kept
    window afterwards.

    ``retain_seconds`` is the drain guard for in-flight readers: a
    manifest whose commit time (file mtime) is within the window is kept
    even when it falls outside ``keep_last``, so a reader that resolved a
    just-expired version finishes against still-present segments before
    any later vacuum can reap them — the Delta ``deletedFileRetentionDuration``
    idea. Also reaps orphaned commit temp files older than the window.

    ``dry_run=True`` previews: the same keep/reap decision (floors,
    clone pins, retention — all live side effects suppressed) returns
    the segment names a real run would delete, and deletes nothing —
    the operator's "what am I about to lose?" check before an
    aggressive KEEP 1."""
    import time as _time

    head = current_version(path)
    cutoff = head - int(keep_last) + 1
    # a LIVE version floor (register_version_floor — refresh streams
    # pin their in-read window) lowers the cutoff: everything at or
    # above the lowest live floor survives regardless of keep_last
    # (dry run reads floors without reaping dead-pid/tombstone files —
    # a preview must not mutate the table directory)
    floor = _live_floor(path, reap=not dry_run)
    if floor is not None:
        cutoff = min(cutoff, int(floor))
    now = _time.time()
    keep_segs: set[str] = set()
    # segments known committed: a manifest read here or a clone ref names it
    committed: set[str] = set()
    snap_dir = os.path.join(path, _SNAP_DIR)
    for v in _manifest_versions(path):
        p = _snap_path(path, v)
        recent = (
            retain_seconds is not None
            and now - os.path.getmtime(p) < float(retain_seconds)
        )
        m = _manifest(path, v)
        segs = set(_manifest_segments(m)) | set(m.get("delete_segs") or [])
        committed |= segs
        if v >= cutoff or recent:
            keep_segs |= segs
        elif not dry_run:
            os.remove(p)
    # Orphaned commit temp files: only reap when OLDER than a minimum
    # age — a concurrent committer's fsync'd-but-not-yet-linked temp file
    # must survive vacuum, or the racing _commit fails with
    # FileNotFoundError instead of ConcurrentWriteError and its orphan-
    # segment cleanup never runs. A live commit's fsync→link gap is
    # milliseconds; minutes of slack is decisively safe.
    _TMP_MIN_AGE_SEC = 300.0
    tmp_cutoff = max(float(retain_seconds or 0.0), _TMP_MIN_AGE_SEC)
    for name in os.listdir(snap_dir):
        if name.startswith((".tmp-", ".ckpt-")) or (
                name.startswith(".floor-")
                and name.endswith((".tmp", ".released"))):
            p = os.path.join(snap_dir, name)
            if not dry_run and now - os.path.getmtime(p) >= tmp_cutoff:
                os.remove(p)
    # shallow clones pin segments across tables: keep everything a
    # LIVE clone's manifests still reference (None = a clone is
    # mid-creation; pin everything this run and let the next vacuum
    # see its manifest)
    clone_pins = _clone_pinned_segments(path, reap=not dry_run,
                                        committed=committed)
    if clone_pins is None:
        keep_segs.update(
            d for d in os.listdir(path)
            if d.startswith("seg-") or d.startswith("del-"))
    else:
        keep_segs.update(clone_pins)
    deleted = []
    for d in sorted(os.listdir(path)):
        p = os.path.join(path, d)
        if (d.startswith("seg-") or d.startswith("del-")) \
                and d not in keep_segs:
            # a committed segment nothing keeps goes now; one that no
            # manifest or clone ref names is a write whose manifest has
            # not linked it yet (and may any moment), so it gets the
            # same min-age guard as the staging dirs below
            if d in committed or now - os.path.getmtime(p) >= tmp_cutoff:
                if not dry_run:
                    shutil.rmtree(p)
                deleted.append(d)
        elif d.startswith(".zorder-"):
            # crashed cluster_zorder staging dir: same min-age guard as
            # commit temp files (a live recluster is seconds between
            # write and rename; minutes of slack is decisively safe).
            # The dry run previews these too — the real run counts them
            # in its returned deletion list
            if now - os.path.getmtime(p) >= tmp_cutoff:
                if not dry_run:
                    shutil.rmtree(p)
                deleted.append(d)
    # Bloom sidecars of reaped segments (bloomindex.py): write-once per
    # immutable segment, so a sidecar is garbage exactly when its
    # segment is neither referenced by a kept manifest nor still on
    # disk — checked directly (not "deleted this call"), so sidecars
    # orphaned by a crash between the rmtree above and this loop, or
    # left behind by an earlier vacuum, are collected on the next run
    # instead of leaking forever. Also reaps .json.tmp orphans from a
    # crashed build_bloom_index (same min-age guard as commit temp
    # files). Stray non-directory entries under _bloom/ are skipped —
    # vacuum must never crash after segments are already gone.
    bloom_root = os.path.join(path, "_bloom")
    if dry_run:
        return deleted  # preview complete; every later step mutates
    if os.path.isdir(bloom_root):
        for col_dir in os.listdir(bloom_root):
            cd = os.path.join(bloom_root, col_dir)
            if not os.path.isdir(cd):
                continue
            for f in os.listdir(cd):
                p = os.path.join(cd, f)
                if f.endswith(".json.tmp"):
                    if now - os.path.getmtime(p) >= tmp_cutoff:
                        os.remove(p)
                elif f.endswith(".json"):
                    seg = f[:-5]
                    if seg not in keep_segs \
                            and not os.path.isdir(os.path.join(path, seg)):
                        os.remove(p)
    # ANALYZE sidecars (_stats/vN.json): keep the most recent one at
    # or below head (describe_stats serves it, stale-marked) and any
    # within the kept version window; reap the rest + aged tmp orphans
    sdir = os.path.join(path, _STATS_DIR)
    if os.path.isdir(sdir):
        svs = []
        for f in os.listdir(sdir):
            mm = re.match(r"v(\d+)\.json$", f)
            if mm:
                svs.append(int(mm.group(1)))
            elif ".json.tmp-" in f:
                p = os.path.join(sdir, f)
                if now - os.path.getmtime(p) >= tmp_cutoff:
                    _suppress_remove(p)
        keep_stat = max([sv for sv in svs if sv <= head], default=None)
        for sv in svs:
            if sv != keep_stat and sv < cutoff:
                _suppress_remove(os.path.join(sdir, f"v{sv}.json"))
    # refresh the head-resolution checkpoint: reaping manifests may have
    # invalidated an old hint (its version vacuumed away), which would
    # silently degrade every current_version() to the full listing
    _write_checkpoint(path, head)
    return deleted


# ===========================================================================
# Bucketed composition: bounded-rewrite upserts UNDER the manifest log
# ===========================================================================
# Hash-bucketing bounds a MERGE's rewrite volume to the touched buckets;
# versioning the buckets in the manifest keeps that bound atomic across
# buckets, isolated from readers and time-travelable: the manifest maps
# bucket id -> list of immutable segment dirs, so
#   * an upsert writes NEW segments for the touched buckets only and
#     commits one manifest that swaps exactly those entries — atomic across
#     every touched bucket (the os.link commit point), while untouched
#     buckets keep their segment names (never read, shuffled, or written);
#   * a reader that resolved version n keeps reading version n's segments
#     unchanged through any number of concurrent commits;
#   * time travel and vacuum fall out of the same manifest walk as flat
#     tables (_manifest_segments understands both shapes).
# At 100 TB: the manifest holds n_buckets entries (a few MB at 65536
# buckets — still metadata-sized), a 1M-row update batch rewrites at most
# min(n_buckets, distinct keys) buckets, and append ingests with ZERO
# rewrite by appending per-bucket segments (compact folds them back down,
# bucket-at-a-time, as its own committed version). The layout is chosen
# once — create_bucketed, or convert_to_bucketed later — and every other
# verb reads it from the manifest and dispatches itself.


def _bucket_ids(df_b: DataFrame) -> list[int]:
    """Distinct bucket ids of a bucketed batch — bounded by n_buckets, a
    few KB collected, never data-sized."""
    return sorted(int(r[_BUCKET_COL])
                  for r in df_b.select(_BUCKET_COL).distinct().collect())


def _stage_bucketed_batch(batch: DataFrame, key: str,
                          n_buckets: int) -> DataFrame:
    """Route a batch to its buckets and persist() it so its plan runs
    ONCE. Used ONLY by the conditional-DML image path
    (delete_and_append), where the batch plan embeds joins
    against the table itself: its two consumers — the touched-bucket-ids
    collect and the per-bucket segment write — would otherwise each
    re-run those joins, re-scanning the target per consumer (measured:
    the conditional-DML bench row ran the 2-join image plan twice, ~5
    target scans per statement; staging cut the row 1.9→1.6s). The
    plain writers (append/upsert/stream-append) deliberately do NOT
    stage: their batches are caller-supplied cheap plans, and an A/B
    showed the extra materialization job is a net loss there
    (bucketed_merge_2k 1.20→1.55s). persist(), NOT localCheckpoint():
    checkpoint blocks have no unpersist path from the DataFrame API,
    and the leaked blocks measurably degrade a long-lived writer
    session (repeated-merge A/B: flat ~3.1s/statement with persist vs
    4.2→16.6→23.8s growth across three merge rounds with eager
    localCheckpoint). The CALLER must unpersist after the segments are
    written. The staged rows are the commit's own O(batch) output, so
    the materialization is bounded by what is being written anyway
    (guide §1.2: don't compute things twice; §5: unpersist when done)."""
    return batch.withColumn(
        _BUCKET_COL, _bucket_expr(key, n_buckets)
    ).persist()


def _write_bucket_segments(
    df_b: DataFrame, path: str, touched: list[int]
) -> dict[int, str]:
    """Write one immutable segment dir per touched bucket: partitionBy the
    bucket column into a temp dir, then move each bucket's subdir to its
    own seg-* name (the partition-directory layer is stripped, so segment
    files carry no layout column — same on-disk shape as flat segments).
    Returns {bucket_id: segment_name} for buckets that produced rows."""
    tmp = os.path.join(path, f".stage-{uuid.uuid4().hex[:12]}")
    df_b.write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(tmp)
    out: dict[int, str] = {}
    try:
        for b in touched:
            src = os.path.join(tmp, f"{_BUCKET_COL}={b}")
            if not os.path.exists(src):
                continue
            seg = f"seg-{uuid.uuid4().hex[:12]}"
            os.rename(src, os.path.join(path, seg))
            out[b] = seg
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _cleanup_segments(path: str, segs) -> None:
    for s in segs:
        shutil.rmtree(os.path.join(path, s), ignore_errors=True)


def _bucketed_meta(m: dict) -> tuple[str, int, dict]:
    if "buckets" not in m:
        raise ValueError("not a bucketed versioned table (no 'buckets' in "
                         "manifest) — convert_to_bucketed migrates it")
    return m["bucket_key"], int(m["n_buckets"]), m["buckets"]


def create_bucketed(
    spark: SparkSession, path: str, df: DataFrame, key: str,
    n_buckets: int = 64, stat_cols: list[str] | None = None,
) -> int:
    """Create a BUCKETED versioned table as version 1: rows are hash-routed
    by ``pmod(xxhash64(key), n_buckets)`` (``_bucket_expr``'s deterministic
    bucketing — same key, same bucket, forever) into per-bucket immutable
    segments; the manifest records the bucket map.

    ``stat_cols`` declares zone-map columns, same contract as the flat
    create(): every later commit records per-segment min/max/null-count
    for them and ``read_pruned`` skips whole segments at manifest
    resolution — the second pruning layer on top of bucket subsetting
    (bucket hash answers key-equi questions; zone maps answer RANGE
    questions, e.g. a time window over a user-bucketed table)."""
    os.makedirs(os.path.join(path, _SNAP_DIR), exist_ok=False)
    df_b = df.withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets))
    segs = _write_bucket_segments(df_b, path, _bucket_ids(df_b))
    return _publish(spark, path, 0, {}, "create-bucketed", None,
                    {"bucket_key": key, "n_buckets": int(n_buckets),
                     "buckets": {str(b): [s] for b, s in segs.items()},
                     "col_types": _col_types(df)},
                    staged=segs.values(), stat_cols=stat_cols)


def convert_to_bucketed(spark: SparkSession, path: str, key: str,
                        n_buckets: int = 64) -> int:
    """Migrate a FLAT table to the hash-bucketed layout as a normal
    committed version: read the head snapshot (pending delete vectors
    AND logical column drops are materialized by the rewrite), route
    rows by ``pmod(xxhash64(key), n_buckets)``, write one segment per
    bucket, commit a bucketed manifest — the table's declared zone-map
    columns survive with fresh per-bucket-segment stats. Readers of
    older versions stay flat (read dispatches per-manifest); RESTORE
    below this version returns to the flat layout. The migration path
    for a table whose join/upsert traffic has grown into wanting
    co-location — one rewrite buys every later key-equi join/upsert
    the touched-buckets cost model."""
    import pyspark.sql.functions as F

    v = current_version(path)
    m = _manifest(path, v)
    if "buckets" in m:
        raise ValueError(f"{path} is already bucketed "
                         f"(n_buckets={m.get('n_buckets')})")
    df = read(spark, path, v)
    if key not in df.columns:
        raise ValueError(f"no column {key!r} on {path} "
                         f"(columns: {df.columns})")
    # cluster each bucket into one task before the partitioned write:
    # without this, partitionBy fans every task across every bucket it
    # holds rows for — ~parallelism FILES PER BUCKET, the small-files
    # problem that turns a 3-bucket probe read into dozens of opens at
    # 100 TB. One shuffle at conversion time (the rewrite already
    # reads everything); incremental per-bucket APPENDS stay
    # shuffle-free (their batches are delta-sized, few files by
    # construction, folded by compact)
    df_b = df.withColumn(_BUCKET_COL, _bucket_expr(key, int(n_buckets))) \
        .repartition(int(n_buckets), F.col(_BUCKET_COL))
    segs = _write_bucket_segments(df_b, path, _bucket_ids(df_b))
    return _publish(spark, path, v, m, "convert-bucketed", None,
                    {"bucket_key": key, "n_buckets": int(n_buckets),
                     "buckets": {str(b): [s] for b, s in segs.items()},
                     "col_types": _col_types(df)},
                    staged=segs.values())


def read_probed(
    spark: SparkSession, path: str, version: int,
    bucket_key: str, probe_values=None,
) -> DataFrame:
    """The ONE layout-dispatched serving read the maintained index
    kinds share (indexkind.probed): a flat table reads all
    segments; one converted to the hash-bucketed at-rest layout on
    ``bucket_key`` resolves the caller's probe VALUES to physical
    buckets DRIVER-SIDE (functions/xxh.py — ``_bucket_expr``'s
    pmod(xxhash64(cast string), n) in pure Python, parity-pinned by
    tests/test_xxh.py) and names only those buckets' segment files in
    the plan, reading with the manifest-pinned schema — ZERO Spark
    jobs before the scan itself. A bucketed layout on a DIFFERENT key
    (or ``probe_values=None``) reads every bucket, still
    schema-pinned. Changes to this serving contract land here once,
    not per index kind."""
    m = _manifest(path, version)
    phys = None
    if probe_values is not None and m.get("bucket_key") == bucket_key:
        from ..functions.xxh import buckets_of

        phys = buckets_of(probe_values, int(m["n_buckets"]))
    return _read_segments(spark, path, m, _layout_segments(m, phys),
                          pin_schema=True)


def point_lookup_bucketed(
    spark: SparkSession, path: str, value, version: int | None = None
) -> DataFrame:
    """Key point-lookup with BOTH layers of pruning: the key's bucket is
    computed with the layout's own expression (``_bucket_expr``), only
    that bucket's segments enter the plan, and the key predicate prunes
    row groups inside them — a snapshot-isolated point read."""
    import pyspark.sql.functions as F

    v = current_version(path) if version is None else int(version)
    m = _manifest(path, v)
    key, n_buckets, _ = _bucketed_meta(m)
    # bucket resolution runs DRIVER-SIDE (functions/xxh.py, parity
    # pinned against the live Spark expression by tests/test_xxh.py)
    # — a point lookup plans with zero Spark jobs; value types outside
    # the pinned string/integral set fall back to the one-row JVM
    # evaluation of the exact layout expression
    from ..functions.xxh import bucket_of

    try:
        b = bucket_of(value, n_buckets)
    except TypeError:
        b = spark.range(1).select(
            _bucket_expr(F.lit(value), n_buckets).alias("b")).first()["b"]
    return _read_segments(spark, path, m, _layout_segments(m, [int(b)])
                          ).where(F.col(key) == value)


def upsert_bucketed(
    spark: SparkSession, path: str, updates: DataFrame,
    validate=None,
) -> int:
    """MERGE-on-key against the bucketed versioned table, rewriting ONLY
    touched buckets and committing atomically across them. Plan: bucket the
    updates, collect the touched bucket ids (bounded by n_buckets), read
    ONLY those buckets' current segments, left-anti + union merge, write
    one new segment per touched bucket, commit a manifest that swaps
    exactly those bucket entries. Readers of any resolved version are
    untouched; a concurrent commit raises ConcurrentWriteError (orphan
    segments cleaned) so the caller re-merges against the new head
    (``with_retry``).

    ``validate(nn, nk)``, when given, receives the batch's non-null and
    distinct key-value counts and may raise to abort before anything is
    written. The counts ride the SAME single aggregation job that
    collects the touched bucket ids, so a caller-side duplicate-key
    guard (the SQL MERGE contract) costs zero extra jobs here."""
    v = current_version(path)
    m = _manifest(path, v)
    key, n_buckets, bmap = _bucketed_meta(m)
    # same schema-drift/ghost-column guard as every flat write path: a
    # type-changing batch would leave touched buckets' parquet types
    # disagreeing with untouched ones (mergeSchema then fails at read)
    compat = _check_schema_compat(m, updates, "upsert-bucketed")
    updates = _apply_constraints(updates, m, "upsert-bucketed")
    ub = updates.withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets))
    if validate is not None:
        import pyspark.sql.functions as F

        r = ub.agg(
            F.collect_set(F.col(_BUCKET_COL)).alias("__bs"),
            F.count(F.col(key)).alias("__nn"),
            F.count_distinct(F.col(key)).alias("__nk"),
        ).first()
        validate(int(r["__nn"]), int(r["__nk"]))
        touched = sorted(int(b) for b in r["__bs"])
    else:
        touched = _bucket_ids(ub)
    if not touched:
        return v
    target_segs = [s for b in touched for s in bmap.get(str(b), [])]
    if target_segs:
        # _read_with_deletes: the rewrite MATERIALIZES any pending
        # delete vectors for the touched buckets (their new segments
        # are built from the delete-filtered state). pin_schema: the
        # target read plans from the manifest's committed col_types
        # instead of a mergeSchema footer-inference job per statement
        # (falls back to mergeSchema on legacy manifests) — the same
        # planning-IO fix the snapshot/serving reads got in r13.
        target = (
            _read_with_deletes(spark, path, m, target_segs,
                               pin_schema=True)
            .withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets))
        )
        # no .distinct() on the anti-join build side: left_anti drops a
        # target row on ANY key match, so duplicate build-side keys
        # cannot change the result — the distinct only added an
        # exchange (one extra AQE job) in front of the broadcast
        merged = target.join(
            ub.select(key), [key], "left_anti"
        ).unionByName(ub, allowMissingColumns=True)
    else:
        merged = ub
    segs = _write_bucket_segments(merged, path, touched)
    new_bmap = dict(bmap)
    for b in touched:
        new_bmap[str(b)] = [segs[b]] if b in segs else []
    live = {s for ss in new_bmap.values() for s in ss}
    return _publish(spark, path, v, m, "upsert-bucketed", None,
                    _layout_meta(m) | {"buckets": new_bmap} | compat
                    | _carry_hidden(m) | _prune_vectors(m, live),
                    staged=segs.values())


def _compact_buckets(spark: SparkSession, path: str, v: int, m: dict,
                     min_segments: int) -> int:
    """compact's bucketed body: fold multi-segment buckets (append
    accretion) back to one segment each. A bucket is rewritten when it
    accreted segments (>= min_segments) OR any pending delete vector
    scopes into it — so OPTIMIZE both folds the layout AND materializes
    pending deletes, still paying only for the buckets that actually
    changed. A pending COLUMN DROP (hidden_cols) forces the full pass:
    every non-empty bucket rewrites without the column, and the hidden
    list clears — the one O(table) case (user-invoked maintenance, not
    a DML tax)."""
    key, n_buckets, bmap = _bucketed_meta(m)
    hidden = m.get("hidden_cols") or []
    scoped: set[str] = set()
    for dseg in m.get("delete_segs") or []:
        sc = m.get("delete_scopes", {}).get(dseg)
        scoped |= _manifest_segments(m) if sc is None else set(sc)
    todo = sorted(int(b) for b, ss in bmap.items()
                  if ss and (hidden or len(ss) >= min_segments
                             or scoped & set(ss)
                             # foreign (clone) refs: OPTIMIZE on a
                             # clone localizes its buckets
                             or any(os.path.isabs(s) for s in ss)))
    layout = _layout_meta(m) | {"col_types": m.get("col_types", {})}
    if not todo:
        if hidden:
            # an ALL-EMPTY table still holding a pending drop: no
            # segment holds the column's bytes anywhere, so the drop
            # is already materialized — commit the metadata that says
            # so (otherwise OPTIMIZE is a no-op forever and the name
            # can never return)
            return _publish(spark, path, v, m, "compact-bucketed", None,
                            layout)
        return v
    todo_segs = [s for b in todo for s in bmap[str(b)]]
    # vector-aware rewrite: compacted buckets materialize their pending
    # deletes; vectors still scoped to an uncompacted bucket's segments
    # carry forward (_prune_vectors drops the fully-materialized ones)
    df_b = (
        _read_with_deletes(spark, path, m, todo_segs)
        .withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets))
    )
    # cluster each rewritten bucket into one task: the fold's whole
    # point is few files per bucket — without this, partitionBy fans
    # every task across every todo bucket (~parallelism files each)
    import pyspark.sql.functions as F

    df_b = df_b.repartition(max(len(todo), 1), F.col(_BUCKET_COL))
    segs = _write_bucket_segments(df_b, path, todo)
    new_bmap = dict(bmap)
    for b in todo:
        new_bmap[str(b)] = [segs[b]] if b in segs else []
    live = {s for ss in new_bmap.values() for s in ss}
    return _publish(spark, path, v, m, "compact-bucketed", None,
                    layout | {"buckets": new_bmap}
                    | _prune_vectors(m, live), staged=segs.values())


def maybe_compact(spark: SparkSession, path: str,
                  max_segments: int = 32) -> int:
    """Opt-in AUTO-COMPACTION policy: fold the table back down when the
    head manifest has accreted ``max_segments`` or more segments — flat
    tables count data + delete-vector segments (a vector is a per-read
    anti-join until a rewrite materializes it), bucketed tables trigger
    on the worst single bucket and compact only the buckets at/over the
    bound (maintenance tracks churn, not table size).

    Designed to run INLINE after refresh/ingest commits (the matview
    refreshers and streaming sinks expose it as ``auto_compact=True``):
    the common no-op case costs one manifest read and zero Spark jobs,
    and losing the OCC race to a concurrent writer skips this cycle —
    the next maintenance call re-evaluates against the new head, so
    best-effort is safe. Returns the table's current version (advanced
    when a compaction committed)."""
    v = current_version(path)
    m = _manifest(path, v)
    min_segments = 2
    if "buckets" in m:
        worst = max((len(s) for s in m["buckets"].values()), default=0)
        # TWO accretion shapes trigger (r12 endurance-proof finding):
        # (a) a HOT bucket — one bucket at/over the bound (churn
        # concentrated on few keys); (b) DIFFUSE accretion — every
        # refresh appends a segment per touched bucket, so a streamed
        # maintainer grows TOTAL file count (and with it query task
        # count, commit-time footer reads, and manifest size) without
        # any single bucket ever reaching the bound. Diffuse budget:
        # AVERAGE segments/bucket >= bound/2 (coherent with the
        # worst-bucket tolerance of `bound` per bucket, and amortized:
        # a refresh stream touching every bucket folds once per
        # ~bound/2 refreshes, not every refresh — a per-refresh
        # O(table) fold would be the exact write amplification the
        # bucketed layout exists to avoid), floored at the bound so a
        # handful of files never churns maintenance. Pending delete
        # vectors count toward the trigger too (each is a per-read
        # anti-join until materialized).
        nonempty = sum(1 for ss in m["buckets"].values() if ss)
        total = sum(len(ss) for ss in m["buckets"].values())
        diffuse = total >= max(nonempty * max_segments // 2,
                               max_segments)
        if worst < max_segments and not diffuse \
                and len(m.get("delete_segs") or []) < max_segments:
            return v
        # the diffuse trigger folds EVERY multi-segment bucket
        # (min_segments=2): under shape (b) the accretion is spread
        # across buckets, so folding only at/over-bound buckets (none
        # exist) would be a no-op and the file count would keep growing
        if not diffuse:
            min_segments = max_segments
    elif len(m["segments"]) + len(m.get("delete_segs") or []) \
            < max_segments:
        return v
    try:
        return compact(spark, path, min_segments=min_segments)
    except ConcurrentWriteError:
        return current_version(path)


def _zorder_buckets(spark: SparkSession, path: str, v: int, m: dict,
                    x_col: str, y_col: str, bits: int) -> int:
    """cluster_zorder's bucketed body: rewrite every non-empty bucket
    into one segment whose rows are sorted by the Morton key of
    ``(x_col, y_col)`` — WITHIN-bucket clustering. The bucket hash stays
    the join/upsert co-location story; the z-sort makes parquet
    row-group min/max stats selective INSIDE each bucket, so a range
    predicate on either column skips most row groups of every bucket it
    must visit (the at-rest layering Delta calls partition + ZORDER).
    Pending delete vectors and hidden columns are materialized by the
    rewrite.

    Plan shape: one hash repartition on the bucket id with a
    within-partition sort on (bucket, z) — never a global sort; cost is
    one pass over the table, the same as compact's full pass, which
    this subsumes (every bucket folds to one segment)."""
    import pyspark.sql.functions as F

    from .writer import zorder_value

    key, n_buckets, bmap = _bucketed_meta(m)
    types = m.get("col_types", {})
    by_lower = {c.lower(): c for c in types}
    if types:
        # resolve case-insensitively, like every other schema verb
        missing = [c for c in (x_col, y_col)
                   if c.lower() not in by_lower]
        if missing:
            raise ValueError(f"no column {missing[0]!r} on {path} "
                             f"(columns: {sorted(types)})")
        x_col = by_lower[x_col.lower()]
        y_col = by_lower[y_col.lower()]
    todo = sorted(int(b) for b, ss in bmap.items() if ss)
    if not todo:
        return v
    # reconcile declared-but-unwritten columns (metadata-only
    # add_column) so z-ordering by such a column sorts its NULLs
    # instead of failing resolution
    df = _read_segments(spark, path, m,
                        [s for b in todo for s in bmap[str(b)]])
    df_b = (df.withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets))
            .withColumn("__z", zorder_value(
                F.col(x_col), F.col(y_col), int(bits)))
            .repartition(len(todo), _BUCKET_COL)
            .sortWithinPartitions(_BUCKET_COL, "__z")
            .drop("__z"))
    segs = _write_bucket_segments(df_b, path, todo)
    return _publish(spark, path, v, m, "zorder-bucketed", None,
                    _layout_meta(m)
                    | {"buckets": {str(b): ([segs[b]] if b in segs else [])
                                   for b in map(int, bmap)},
                       "col_types": types},
                    staged=segs.values())


def _changes_fast_path(
    spark: SparkSession, path: str, from_version: int,
    to_version: int | None,
):
    """Shared interval header for the CDC readers: validates the
    interval, and when every commit in it is an append returns the
    O(delta) change frame (the new segments' rows as inserts — zero
    touch of pre-existing data). Returns (frame_or_None, from_v, to_v,
    ops)."""
    import pyspark.sql.functions as F

    head = current_version(path)
    to_v = head if to_version is None else int(to_version)
    from_v = int(from_version)
    if not 0 < from_v <= to_v <= head:
        raise ValueError(f"need 0 < from {from_v} <= to {to_v} <= head {head}")
    if from_v == to_v:
        raise ValueError("empty interval: from_version == to_version")
    ops, new_segs = [], []
    for v in range(from_v + 1, to_v + 1):
        m = _manifest(path, v)
        parent = _manifest(path, v - 1)
        ops.append(m["op"])
        new_segs.extend(sorted(_manifest_segments(m) - _manifest_segments(parent)))
    if not all(op in APPEND_OPS for op in ops):
        return None, from_v, to_v, ops
    if not new_segs:
        return (read(spark, path, to_v).limit(0)
                .withColumn("_change_type", F.lit("insert")),
                from_v, to_v, ops)
    dirs = [os.path.join(path, s) for s in new_segs]
    # reconcile DECLARED-but-unwritten columns as typed NULLs, same as
    # the snapshot reads: the interval's new segments may legally omit
    # a committed column (bucketed add_column is metadata-only — no
    # segment ever carries it until a DML writes it; a flat append may
    # omit an evolved column too), and a consumer selecting it (an agg
    # view summing the evolved column) must not fail resolution on an
    # append-only interval when the same read at snapshot altitude
    # would have surfaced the column as NULL.
    #
    # The read is PINNED to the manifest's committed col_types when it
    # can be (guide §5/§6: mergeSchema footer inference here was one
    # distributed footer job per refresh per changed side — r14 opt):
    # the drift guard makes every segment's columns a by-name subset
    # of col_types at identical types, and parquet fills absent-by-name
    # columns with NULL, so the pinned read needs no _reconcile pass.
    # Tables with hidden (dropped) columns fall back to the legacy
    # mergeSchema + reconcile read: a pre-drop segment inside the
    # interval may carry a column col_types no longer declares.
    m_to = _manifest(path, to_v)
    types = m_to.get("col_types") or {}
    if types and not m_to.get("hidden_cols"):
        schema = ", ".join(f"`{c}` {t}" for c, t in types.items())
        return (
            spark.read.schema(schema).parquet(*dirs)
            .withColumn("_change_type", F.lit("insert")),
            from_v, to_v, ops,
        )
    return (
        _reconcile_declared(
            spark.read.option("mergeSchema", "true").parquet(*dirs),
            m_to)
        .withColumn("_change_type", F.lit("insert")),
        from_v, to_v, ops,
    )


def _aligned_snapshots(
    spark: SparkSession, path: str, from_v: int, to_v: int,
):
    """The two snapshots of a rewriting interval, aligned to the UNION of
    their columns (schema evolution between the versions: a column absent
    on one side reads as NULL there, exactly how mergeSchema treats old
    segments) — without this a column added or dropped between the
    versions makes downstream struct projections fail on the side that
    lacks it. Returns (old, new, cols)."""
    import pyspark.sql.functions as F

    old, new = read(spark, path, from_v), read(spark, path, to_v)
    old_t = {f.name: f.dataType for f in old.schema.fields}
    new_t = {f.name: f.dataType for f in new.schema.fields}
    cols = list(new.columns) + [c for c in old.columns if c not in new_t]
    for c in cols:
        if c not in old_t:
            old = old.withColumn(c, F.lit(None).cast(new_t[c]))
        if c not in new_t:
            new = new.withColumn(c, F.lit(None).cast(old_t[c]))
    return old, new, cols


def table_changes_multiset(
    spark: SparkSession, path: str, from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """MULTISET CDC read: the signed difference of two snapshots as
    insert/delete rows with EXACT multiplicities — the change feed for
    ADDITIVE consumers when the table has no unique row key. A
    flatMap-style transform view repeats its key (one doc → many token/
    signature rows), so table_changes' key-join snapshot diff would pair
    every old row of a key with every new row and over-count; this diff
    groups by the FULL row instead (groupBy treats NULLs as equal —
    exactly multiset semantics): a row whose old multiplicity is m and
    new multiplicity is n emits |n−m| change rows, ``insert`` when n>m,
    ``delete`` when m>n. Updates therefore appear as delete+insert,
    which aggregates identically under signed-delta consumption
    (+insert/−delete) — consumers needing pre/post PAIRING (the
    transform view's delete-then-reinsert by key) keep the keyed diff
    and its unique-key contract.

    Append-only intervals take the same O(new segments) fast path as
    table_changes. The rewrite cost is one full-row hash-agg per
    snapshot plus a null-safe full-outer join on the row values —
    the same one-shuffle altitude as the keyed diff, on wider keys.
    This is what makes VIEWS COMPOSE: a view is a versioned table, so a
    downstream agg view can tail any upstream view's commits without
    assuming row identity."""
    import pyspark.sql.functions as F

    fast, from_v, to_v, _ops = _changes_fast_path(
        spark, path, from_version, to_version)
    if fast is not None:
        return fast
    old, new, cols = _aligned_snapshots(spark, path, from_v, to_v)
    oc = old.groupBy(*cols).agg(F.count(F.lit(1)).alias("_m")).alias("o")
    nc = new.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n")).alias("n")
    cond = None
    for c in cols:
        eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        cond = eq if cond is None else cond & eq
    j = oc.join(nc, cond, "full_outer")
    m_cnt = F.coalesce(F.col("o._m"), F.lit(0))
    n_cnt = F.coalesce(F.col("n._n"), F.lit(0))
    delta = n_cnt - m_cnt
    # values come from whichever side EXISTS (coalesce of the column
    # values would be wrong: a legitimately-NULL value on the present
    # side must not fall through to the absent side's column)
    vals = [
        F.when(F.col("o._m").isNotNull(), F.col(f"o.{c}"))
         .otherwise(F.col(f"n.{c}")).alias(c)
        for c in cols
    ]
    # Multiplicity expansion in BOUNDED chunks: a single
    # explode(sequence(1, _mult)) materializes one in-memory array of
    # |Δmult| elements per distinct row, and a duplicate-heavy source (a
    # low-cardinality projection, a token-only view) can put millions of
    # elements in one row's array and OOM an executor. Two-level
    # expansion caps every materialized array: the outer sequence holds
    # ceil(mult/chunk) chunk ids, the inner at most chunk elements.
    _CHUNK = 65536
    return (
        j.where(delta != 0)
        .select(
            *vals,
            F.when(delta > 0, F.lit("insert")).otherwise(F.lit("delete"))
             .alias("_change_type"),
            F.abs(delta).alias("_mult"),
        )
        .withColumn(
            "_c",
            F.explode(F.sequence(
                F.lit(0).cast("long"),
                F.floor((F.col("_mult") - 1) / F.lit(_CHUNK))
                 .cast("long"))))
        .withColumn(
            "_i",
            F.explode(F.sequence(
                F.lit(1).cast("long"),
                F.least(F.lit(_CHUNK).cast("long"),
                        F.col("_mult") - F.col("_c") * F.lit(_CHUNK)))))
        .drop("_mult", "_c", "_i")
    )


def table_changes(
    spark: SparkSession, path: str, from_version: int,
    to_version: int | None = None, key: str | None = None,
    include_preimage: bool = False,
) -> DataFrame:
    """CDC read: the rows that changed BETWEEN two committed versions,
    tagged with a ``_change_type`` column (insert / update_post / delete).

    ``include_preimage=True`` switches updates to the Delta-CDF shape:
    each updated key emits TWO rows, ``update_preimage`` (the old row)
    and ``update_postimage`` (the new row), instead of one
    ``update_post`` row. Pre-images are what make a change feed
    RETRACTABLE — an additive consumer (incremental agg view, downstream
    sync) applies +postimage and −preimage and lands exactly on the new
    state; with only post-images it cannot undo the old contribution.
    Inserts and deletes are unchanged (a delete row IS its pre-image).

    Fast path — when every commit in (from, to] is an append (flat,
    bucketed, or stream-append), the change set is EXACTLY the rows of
    the segments those commits added: an O(delta) read that never touches
    pre-existing data, which is what makes incremental consumers (feature
    refresh, downstream sync, drift monitors) cheap at 100 TB — a day of
    ingest costs a day of data, not a table scan. All rows are inserts.

    General path — any upsert/overwrite/compaction/delete in the interval
    means segment identity no longer implies row identity, so the diff
    falls back to a key-based snapshot comparison (requires ``key``): a
    full-outer join of the two snapshots on the key, comparing a
    payload hash to classify insert / update_post / delete. One shuffle
    on the key — the honest cost when the interval rewrote data in place.
    Compaction-only intervals are row-preserving, but proving that from
    the manifest alone would require row counts; the conservative
    fallback keeps the result exact.

    Contract note on delete vectors: the fast path emits appended rows
    AS COMMITTED — a vector pending from BEFORE the interval is snapshot
    state, not an interval change, so it is not applied here (the same
    contract as the versioned_cdc stream; the snapshot-diff path, which
    compares delete-filtered snapshots, reflects vectors exactly)."""
    import pyspark.sql.functions as F

    fast, from_v, to_v, ops = _changes_fast_path(
        spark, path, from_version, to_version)
    if fast is not None:
        return fast
    if key is None:
        raise ValueError(
            f"interval v{from_v}..v{to_v} contains non-append commits "
            f"({sorted(set(ops))}); a key column is required for the "
            f"snapshot-diff path"
        )
    old, new, cols = _aligned_snapshots(spark, path, from_v, to_v)
    payload = [c for c in cols if c != key]
    def _h(df):
        return df.select(
            F.col(key).alias("_k"),
            F.struct(*cols).alias("_row"),
        )
    o, n = _h(old).alias("o"), _h(new).alias("n")
    j = o.join(n, F.col("o._k") == F.col("n._k"), "full_outer")
    # payload change = any column differs under NULL-SAFE inequality.
    # A hash of cast-to-string columns is wrong here: xxhash64 SKIPS null
    # inputs, so rows differing only by WHICH column is NULL (value moved
    # from col A to col B) hash identically and the update is dropped.
    # ~(a <=> b) treats NULL vs value as different and NULL vs NULL as
    # same — exact, no sentinel collisions.
    changed = F.lit(False)
    for c in payload:
        changed = changed | ~F.col(f"o._row.{c}").eqNullSafe(
            F.col(f"n._row.{c}"))
    if include_preimage:
        # one array of (type, row) entries per joined key, exploded —
        # updates contribute BOTH images; unchanged keys an empty array.
        # Map-side on top of the join; no extra shuffle.
        def _e(t, r):
            return F.struct(F.lit(t).cast("string").alias("t"),
                            r.alias("r"))

        arr = (
            F.when(F.col("o._k").isNull(),
                   F.array(_e("insert", F.col("n._row"))))
            .when(F.col("n._k").isNull(),
                  F.array(_e("delete", F.col("o._row"))))
            .when(changed,
                  F.array(_e("update_preimage", F.col("o._row")),
                          _e("update_postimage", F.col("n._row"))))
            # unchanged key: a NULL-typed placeholder entry (keeps the
            # array type inferable), dropped right after the explode
            .otherwise(F.array(_e(None, F.col("n._row"))))
        )
        ex = j.select(F.explode(arr).alias("e")) \
             .where(F.col("e.t").isNotNull())
        return ex.select(
            *[F.col(f"e.r.{c}").alias(c) for c in cols],
            F.col("e.t").alias("_change_type"))
    out = j.select(
        F.when(F.col("o._k").isNull(), F.lit("insert"))
         .when(F.col("n._k").isNull(), F.lit("delete"))
         .when(changed, F.lit("update_post"))
         .alias("_change_type"),
        F.coalesce(F.col("n._row"), F.col("o._row")).alias("_row"),
    ).where(F.col("_change_type").isNotNull())
    return out.select(*[F.col(f"_row.{c}").alias(c) for c in cols],
                      "_change_type")


def restore(spark: SparkSession, path: str, to_version: int) -> int:
    """METADATA-ONLY rollback: commit a NEW version whose content is an
    earlier version's — the manifest re-points to the old (still
    immutable) segments, so no data is read, copied, or rewritten, and
    the bad versions stay in the log for audit (roll FORWARD to the past,
    the Delta RESTORE semantics). Works for flat and bucketed tables and
    carries the restored version's zone maps, schema, and pending delete
    vectors verbatim. Fails if vacuum already reaped the target's
    segments. Returns the new head version."""
    head = current_version(path)
    tv = int(to_version)
    if not 0 < tv <= head:
        raise ValueError(f"restore target {tv} outside 1..{head}")
    try:
        src = _manifest(path, tv)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"cannot restore v{tv}: its manifest was vacuumed"
        ) from None
    for s in sorted(_manifest_segments(src)):
        if not os.path.exists(os.path.join(path, s)):
            raise FileNotFoundError(
                f"cannot restore v{tv}: segment {s} was vacuumed"
            )
    carry_keys = ("segments", "buckets", "bucket_key", "n_buckets",
                  "stat_cols", "seg_stats", "col_types", "hidden_cols",
                  "delete_key", "delete_segs", "delete_scopes",
                  "delete_typed", "app")
    extra = {k: src[k] for k in carry_keys
             if k in src and k != "segments"}
    extra["restored_from"] = tv
    _commit(path, head + 1, src.get("segments"), "restore", extra=extra)
    return head + 1


def describe(path: str) -> dict:
    """Metadata-only table report (the DESCRIBE DETAIL idea): head
    version, layout, segment/row counts, pending delete vectors, declared
    schema, zone-map columns, and the app spec — one _snapshots listing
    plus one manifest read, zero Spark jobs (parquet footers are opened
    only for legacy segments committed before per-segment counts were
    recorded). The operational entry point for "what is this table?"
    before any query planning."""
    versions = _manifest_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {path}")
    v = versions[-1]
    m = _manifest(path, v)
    segs = sorted(_manifest_segments(m))
    row_count = _manifest_row_count(path, m)
    out = {
        "path": path,
        "version": v,
        "op": m.get("op"),
        "layout": "bucketed" if "buckets" in m else "flat",
        "n_segments": len(segs),
        "row_count": row_count,
        "pending_delete_vectors": len(m.get("delete_segs") or []),
        # lowest LIVE vacuum floor (refresh streams pin their in-read
        # window); None when nothing is pinned — the operational "why
        # is vacuum keeping history?" answer
        "version_floor": _live_floor(path, reap=False),
        "col_types": m.get("col_types", {}),
        "stat_cols": m.get("stat_cols", []),
        "constraints": _constraints(m),
        "app": m.get("app"),
        "versions_retained": len(versions),
    }
    if "buckets" in m:
        out["n_buckets"] = m.get("n_buckets")
        out["bucket_key"] = m.get("bucket_key")
    return out


_STATS_DIR = "_stats"

# analyzable column types: orderable atomics whose min/max are
# JSON-encodable via _json_stat and whose distinct counts mean
# something at table altitude (complex types are skipped, not erred —
# ANALYZE over a mixed-schema table must not fail on the one array
# column)
_ANALYZABLE = ("boolean", "tinyint", "smallint", "int", "integer",
               "bigint", "long", "float", "double", "decimal", "date",
               "timestamp", "string", "varchar")


def analyze(spark: SparkSession, path: str,
            columns: list[str] | None = None,
            exact_ndv: bool = False) -> dict:
    """ANALYZE TABLE: ONE distributed aggregation pass over the head
    snapshot computing table row count and, per analyzable column,
    null count, distinct count (HyperLogLog approx by default — the
    only choice that stays one pass at 100 TB; ``exact_ndv=True``
    switches to exact COUNT DISTINCT, which Spark plans as one expand
    + aggregate, for small tables or audits), and min/max. Results
    are written atomically to a ``_stats/v{N}.json`` sidecar keyed by
    the ANALYZED version — stats are metadata about a version, not a
    commit, so the history stays a pure data-change log and time
    travel is unaffected. ``describe_stats`` reports them with a
    staleness marker (analyzed_version vs head). Unlike the zone-map
    seg_stats (per-segment, commit-maintained, used for pruning),
    these are table-level planner/operator statistics."""
    from pyspark.sql import functions as F

    v = current_version(path)
    df = read(spark, path, v)
    types = dict(df.dtypes)
    if columns is not None:
        # resolve case-insensitively, like every other schema verb
        # (add_column / cluster_zorder / UPDATE)
        by_lower = {c.lower(): c for c in types}
        missing = [c for c in columns if c.lower() not in by_lower]
        if missing:
            raise ValueError(f"no column(s) {missing} on {path} "
                             f"(columns: {sorted(types)})")
        cols = [by_lower[c.lower()] for c in columns]
    else:
        cols = list(df.columns)
    cols = [c for c in cols
            if types[c].split("(")[0] in _ANALYZABLE]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__n{i}"),
            (F.countDistinct(c) if exact_ndv
             else F.approx_count_distinct(c)).alias(f"__d{i}"),
            F.min(c).alias(f"__lo{i}"),
            F.max(c).alias(f"__hi{i}"),
        ]
    row = df.agg(*aggs).collect()[0]  # one row — never data-sized
    stats = {
        "analyzed_version": v,
        "row_count": int(row["__rows"]),
        "exact_ndv": bool(exact_ndv),
        "columns": {
            c: {"type": types[c],
                "nulls": int(row[f"__n{i}"] or 0),
                "ndv": int(row[f"__d{i}"]),
                "min": _json_stat(row[f"__lo{i}"]),
                "max": _json_stat(row[f"__hi{i}"])}
            for i, c in enumerate(cols)
        },
    }
    sdir = os.path.join(path, _STATS_DIR)
    os.makedirs(sdir, exist_ok=True)
    tmp = os.path.join(sdir, f".v{v}.json.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(stats, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(sdir, f"v{v}.json"))
    return stats


def describe_stats(path: str) -> dict:
    """The most recent ANALYZE result at or below the head version,
    with ``stale`` marking whether data changed since (manifest-only;
    zero Spark jobs). Raises if the table was never analyzed."""
    head = current_version(path)
    sdir = os.path.join(path, _STATS_DIR)
    best = None
    if os.path.isdir(sdir):
        for f in os.listdir(sdir):
            mm = re.match(r"v(\d+)\.json$", f)
            if mm and int(mm.group(1)) <= head:
                best = max(best or 0, int(mm.group(1)))
    if best is None:
        raise FileNotFoundError(
            f"{path} has no ANALYZE result at or below v{head} — run "
            f"analyze() first")
    with open(os.path.join(sdir, f"v{best}.json")) as f:
        stats = json.load(f)
    stats["head_version"] = head
    stats["stale"] = best < head
    return stats
