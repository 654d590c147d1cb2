"""Per-segment Bloom-filter sidecars: POINT-LOOKUP segment skipping for
versioned tables, the equality twin of the manifest zone maps.

Zone maps (versioned.read_pruned) skip segments on RANGE predicates, but
they only bite when the key is clustered — on an unclustered
high-cardinality key (row ids arriving in ingest order, content hashes)
every segment's [min, max] spans the whole domain and nothing prunes. A
per-segment Bloom filter answers the other question — "can this segment
contain THIS value at all?" — so an id lookup on a 100 TB table touches
O(1) segments (the true holder plus ~FPR·#segments false positives)
instead of scanning everything, no clustering required.

Design (all public knowledge — the standard Bloom construction plus the
Delta/Iceberg-style sidecar layout):

* One sidecar JSON per (segment, column) under ``<table>/_bloom/<col>/``,
  holding a hex bitmap of ``bits`` positions set by ``k`` probes per
  value. Segments are IMMUTABLE, so a sidecar is write-once and every
  later manifest that still lists the segment reuses it — commits never
  recompute filters, and the index needs no manifest entry (zero
  manifest growth; an unindexed segment is simply kept conservatively).
* ``build_bloom_index`` computes sidecars for segments MISSING them, in
  ONE Spark job over just those segments (rows tagged with their segment
  via input_file_name, probe positions exploded, collect_set per
  segment) — append-only ingest re-indexes O(new segments), and the
  driver-side state is #segments × bits/8 bytes, KB-sized.
* Probes are md5-derived (``pmod(int(md5(value|i)[:15hex]), bits)``) so
  the LOOKUP side can recompute the exact same positions in pure Python
  (hashlib) with zero Spark jobs: the prune decision is a driver-side
  sidecar read + k bit tests per value, the same altitude as the
  manifest zone-map check. xxhash64 would be cheaper per row but has no
  guaranteed Python twin in this environment.
* ``read_point_lookup`` keeps a segment when ANY looked-up value passes
  its filter, keeps sidecar-less or parameter-mismatched segments
  conservatively (the no-false-prune rule zone maps follow), applies the
  manifest's scoped delete vectors through the standard read path, and
  finishes with the exact equality predicate — Bloom false positives
  cost an extra segment read, never a wrong row.

Sizing: FPR ≈ (1 - e^(-k·n/bits))^k for n rows per segment; the 8192-bit
default holds ~1 KiB per segment per column and stays useful to a few
thousand rows per segment — size ``bits`` at ~10 bits per row for ~1%
FPR at larger segment sizes (a 1M-row segment wants ~1.25 MB).

No reference analogue (the reference's SQLite point lookups, RS:206-213,
are B-tree reads on a single-node DB); this is the scale-path design for
the same user question.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import versioned as V

_BLOOM_DIR = "_bloom"
DEFAULT_BITS = 8192
DEFAULT_K = 4


def _sidecar_path(path: str, col: str, seg: str) -> str:
    # segment names are flat ("seg-<hex>" / bucketed "b<k>-<hex>") — safe
    # as file names
    return os.path.join(path, _BLOOM_DIR, col, f"{seg}.json")


def _probe_positions_expr(col: str, bits: int, k: int):
    """Spark-side probe positions, exactly mirroring _py_probes: position
    i = int(md5(f"{value}|{i}")[:15 hex], 16) % bits, value rendered via
    the column's CAST AS STRING (use integer/string key columns — float
    renderings are not cross-language-stable)."""
    probes = []
    for i in range(k):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col(col).cast("string"),
                                  F.lit(str(i)))),
                1, 15),
            16, 10,
        ).cast("long")
        probes.append(F.pmod(h, F.lit(int(bits))))
    return F.array(*probes)


# Key column types whose Python str() rendering is byte-identical to
# Spark's CAST AS STRING — the cross-language probe contract. Everything
# else diverges silently (bool 'True' vs 'true', bytes "b'x'" vs raw,
# float '0.1' vs '0.1000...'/scientific, timestamps by format) and a
# mismatched probe FALSE-PRUNES segments holding real matches — the one
# failure mode this module promises never happens. Enforced at build AND
# lookup time (TypeError), not by docstring.
_INDEXABLE_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}


def _check_indexable_type(col: str, t: str | None) -> None:
    if t is not None and t not in _INDEXABLE_TYPES:
        raise TypeError(
            f"Bloom index on {col!r} of type {t}: only integral and "
            f"string key columns render identically in Python str() and "
            f"Spark CAST AS STRING; other types would silently "
            f"false-prune. Project the key to BIGINT/STRING first.")


def _py_probes(value, bits: int, k: int) -> list[int]:
    if value is None:
        raise ValueError("point lookup on NULL never matches (SQL "
                         "equality); filter nulls out of the lookup set")
    # the same contract as _INDEXABLE_TYPES, enforced value-side: bool is
    # an int subclass but str()s as 'True'/'False' vs Spark's
    # 'true'/'false'; bytes/float renderings diverge too
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        raise TypeError(
            f"Bloom probes take int or str lookup values (got "
            f"{type(value).__name__}): other types render differently "
            f"in Python and Spark and would false-prune")
    s = str(value)
    return [
        int(hashlib.md5(f"{s}|{i}".encode()).hexdigest()[:15], 16) % bits
        for i in range(k)
    ]


def _bitmap_from_positions(positions, bits: int) -> str:
    buf = bytearray(bits // 8)
    for p in positions:
        buf[p >> 3] |= 1 << (p & 7)
    return bytes(buf).hex()

def _bitmap_test(bitmap_hex: str, positions: list[int]) -> bool:
    buf = bytes.fromhex(bitmap_hex)
    return all(buf[p >> 3] & (1 << (p & 7)) for p in positions)


def _load_sidecar(path: str, col: str, seg: str) -> dict | None:
    try:
        with open(_sidecar_path(path, col, seg)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def build_bloom_index(
    spark: SparkSession, path: str, col: str,
    bits: int = DEFAULT_BITS, k: int = DEFAULT_K,
    version: int | None = None,
) -> int:
    """Write Bloom sidecars for every segment of ``version`` (default
    head) that does not have one yet for ``col``. Returns the number of
    segments indexed by THIS call (0 = already fully indexed — the
    steady-state maintenance cost after an append is O(new segments)).

    One Spark job regardless of segment count: the missing segments are
    read together, each row tagged with its segment directory
    (input_file_name's parent component), probe positions exploded and
    collect_set-aggregated per segment — the shuffle carries at most
    #segments × bits position ints, never row data."""
    if bits % 8 or bits < 64:
        raise ValueError(f"bits must be a multiple of 8 and >= 64; got {bits}")
    v = V.current_version(path) if version is None else int(version)
    m = V._manifest(path, v)
    _check_indexable_type(col, (m.get("col_types") or {}).get(col))
    segs = sorted(V._manifest_segments(m))
    todo = [s for s in segs if _load_sidecar(path, col, s) is None]
    if not todo:
        return 0
    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(path, s) for s in todo])
    if col not in df.columns:
        raise ValueError(f"column {col!r} not in segments of {path}")
    # legacy manifests without col_types: fall back to the read schema
    if col not in (m.get("col_types") or {}):
        _check_indexable_type(col, dict(df.dtypes).get(col))
    pos = (
        df.select(col, F.input_file_name().alias("_f"))
        .where(F.col(col).isNotNull())
        .select(
            # .../<table>/<segment>/part-*.parquet -> <segment>
            F.element_at(F.split("_f", "/"), -2).alias("_seg"),
            F.explode(_probe_positions_expr(col, bits, k)).alias("p"),
        )
        .groupBy("_seg")
        .agg(F.collect_set("p").alias("ps"))
        .collect()
    )
    by_seg = {r["_seg"]: r["ps"] for r in pos}
    os.makedirs(os.path.join(path, _BLOOM_DIR, col), exist_ok=True)
    for seg in todo:
        # a segment with zero non-null rows still gets a sidecar (all
        # zeros — every lookup prunes it), or it would be re-read forever
        sidecar = {
            "col": col, "bits": int(bits), "k": int(k),
            "algo": "md5-15hex",
            "bitmap": _bitmap_from_positions(by_seg.get(seg, []), bits),
        }
        target = _sidecar_path(path, col, seg)
        tmp = target + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sidecar, f)
        os.replace(tmp, target)
    return len(todo)


def _norm_values(values) -> list:
    """One lookup value or a collection of them → a list, WITHOUT ever
    iterating a string/bytes value character-by-character (per-character
    probes would false-prune segments holding the real value — the exact
    violation of the no-false-prune contract this module promises)."""
    def _plain(v):
        # numpy scalars -> native Python (their str() matches, but zone
        # comparisons against recorded JSON stats need the real type)
        return v.item() if hasattr(v, "item") else v

    if isinstance(values, (str, bytes)):
        return [values]
    if isinstance(values, (list, tuple, set, frozenset)):
        return [_plain(v) for v in values]
    try:
        return [_plain(v) for v in iter(values)]  # range, gen, np array
    except TypeError:
        return [_plain(values)]  # a single scalar


def bloom_surviving_segments(
    path: str, col: str, values, version: int | None = None,
    bits: int = DEFAULT_BITS, k: int = DEFAULT_K,
    segments: list[str] | None = None,
) -> tuple[list[str], int]:
    """The pure prune decision (exposed for tests/plan audits): segments
    of ``version`` that MAY hold any of ``values``, plus the total
    segment count. Sidecar-less segments and sidecars built with other
    (bits, k, algo) parameters are kept conservatively — no false prune,
    the zone-map contract. Pass ``segments`` to skip the manifest
    SEGMENT-LIST resolution when the caller already resolved it
    (read_point_lookup does); the column-type guard still runs — one
    manifest JSON read, never a bypass of the no-false-prune contract
    (a pre-guard sidecar on a float column would silently miss)."""
    v = V.current_version(path) if version is None else int(version)
    m = V._manifest(path, v)
    _check_indexable_type(col, (m.get("col_types") or {}).get(col))
    if segments is None:
        segments = sorted(V._manifest_segments(m))
    segs = segments
    norm = _norm_values(values)
    probe_sets = [_py_probes(val, bits, k) for val in norm]
    keep = []
    for seg in segs:
        sc = _load_sidecar(path, col, seg)
        if (sc is None or sc.get("algo") != "md5-15hex"
                or sc.get("bits") != bits or sc.get("k") != k):
            keep.append(seg)
            continue
        if any(_bitmap_test(sc["bitmap"], ps) for ps in probe_sets):
            keep.append(seg)
    return keep, len(segs)


def _zone_keep(m: dict, col: str, values, segments: list[str]) -> list[str]:
    """Zone-map pass for an equality lookup: keep a segment when ANY
    looked-up value falls inside its recorded [min, max] for ``col``
    (the point predicate is the degenerate range (v, v)); segments
    without stats are kept. Complements the Bloom pass — zone maps bite
    on CLUSTERED keys without needing sidecars, Blooms on unclustered
    ones — and the two prune sets intersect, so each can only help."""
    stats = m.get("seg_stats", {})

    def _survives(seg: str) -> bool:
        for v in values:
            try:
                if V.zone_survives(stats.get(seg, {}), {col: (v, v)}):
                    return True
            except TypeError:
                # value type does not order against the recorded stats
                # (e.g. an int lookup on a string-stat column): cannot
                # decide — keep conservatively, the Bloom pass and the
                # exact predicate still apply
                return True
        return False

    return [seg for seg in segments if _survives(seg)]


def read_point_lookup(
    spark: SparkSession, path: str, col: str, values,
    version: int | None = None,
    bits: int = DEFAULT_BITS, k: int = DEFAULT_K,
) -> DataFrame:
    """Equality read (``col IN values``) with Bloom segment skipping:
    prune at the sidecar (driver-side, zero Spark jobs), read only the
    surviving segments through the standard delete-vector-scoped path,
    then apply the EXACT predicate — false positives cost an extra
    segment read, never a wrong row. Flat tables only: a bucketed
    table's bucket key already routes a point lookup to one bucket
    (versioned.point_lookup_bucketed), and its non-key columns can be
    indexed by pointing this module at the bucket segment dirs if ever
    needed."""
    values = _norm_values(values)
    if not values:
        raise ValueError("empty lookup value set")
    v = V.current_version(path) if version is None else int(version)
    m = V._manifest(path, v)
    if "buckets" in m:
        raise ValueError("read_point_lookup serves flat tables; bucketed "
                         "tables route point lookups by bucket key")
    _check_indexable_type(col, (m.get("col_types") or {}).get(col))
    segs = sorted(V._manifest_segments(m))
    # zone-map pass first (already-loaded manifest, zero file reads),
    # Bloom sidecar pass on the survivors — both conservative, so the
    # intersection never false-prunes
    segs = _zone_keep(m, col, values, segs)
    keep, _total = bloom_surviving_segments(
        path, col, values, bits=bits, k=k, segments=segs)
    # pin_schema: the point-lookup serving path plans with the
    # manifest's committed schema — no mergeSchema footer job per
    # lookup (the read here is already file-pruned to the Bloom
    # survivors; the footer job would read them all again at plan
    # time)
    if not keep:
        out = V.read(spark, path, v, pin_schema=True).limit(0)
    else:
        out = V._read_with_deletes(spark, path, m, keep,
                                   pin_schema=True)
    return out.where(F.col(col).isin(values))
