"""Count-Min sketch: bounded-memory frequency estimation over unbounded
key domains (Cormode & Muthukrishnan 2005).

Why it earns a place next to the exact counters (``corpus.token_topk``):
at 100 TB the exact (token, count) table is vocab-sized — fine for words,
hostile for URLs / n-grams / (user, item) pairs whose domains explode.
The CMS is ``depth x width`` cells NO MATTER the domain: a corpus-wide
frequency summary that fits in a broadcast variable, mergeable across
partitions/days/streams by cell-wise addition (counts are linear).

Determinism: the "random" hash family is the salted md5 hash
(``portable_hash32`` with salt ``f"{salt}{d}"``), so the sketch — not just
its estimates — is bit-identical across engines, partitionings, and runs,
and the whole operator is DuckDB-oracle-checkable.

Scale shape: building is one map-side explode (x depth) into a
``(depth, bucket)`` hash-agg whose result is d*w rows regardless of input
size; estimation broadcast-joins the tiny sketch onto the probe keys.
Guarantee: estimate >= true count always (only over-counts on collisions);
with width w the expected overshoot is corpus_size * e / w at depth ln(1/δ).

Reference tie-in: the reference's word pool (rclip_server.py:399-400) holds
every word in RAM; this is the summary you keep when the domain outgrows
that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash32
from ..functions.localrel import values_df


def _cell(col, d: int, width: int, salt: str) -> F.Column:
    h = portable_hash32(F.concat_ws("|", F.lit(f"{salt}{d}"), col.cast("string")))
    return F.struct(
        F.lit(d).cast("long").alias("d"), (h % F.lit(width)).cast("long").alias("bucket")
    )


def cms_build(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
) -> DataFrame:
    """(d, bucket, cnt): the sketch table — ``depth * width`` rows total.
    One map-side explode (each input row becomes ``depth`` cell hits) and
    one hash-agg shuffle whose output is sketch-sized, not domain-sized."""
    cells = F.array(*[_cell(F.col(col), d, width, salt) for d in range(depth)])
    return (
        df.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms",
) -> DataFrame:
    """(key, est): point-frequency estimates for every probe key —
    min over the key's ``depth`` cells, 0 for never-seen keys. The sketch
    (d*w rows) broadcasts; the probe side never shuffles."""
    cells = F.array(*[_cell(F.col(col), d, width, salt) for d in range(depth)])
    hits = (
        probes.select(F.col(col), F.explode(cells).alias("c"))
        .select(F.col(col), F.col("c.d").alias("d"), F.col("c.bucket").alias("bucket"))
    )
    joined = hits.join(F.broadcast(sketch), ["d", "bucket"], "left")
    return (
        joined.groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def hll_shard_sketches(
    df, shard_col, key_col, lg_k: int = 12,
):
    """Per-shard mergeable HLL sketches (Spark's built-in Apache
    DataSketches HllSketch): one binary sketch row per shard. The 100 TB
    pattern this enables: sketch each partition/day/source ONCE at ingest,
    then answer any cross-shard distinct-count by unioning kilobyte
    sketches — no rescan of the data, unlike exact distinct (a full
    shuffle) or approx_count_distinct (which cannot merge across runs)."""
    return df.groupBy(shard_col).agg(
        F.hll_sketch_agg(F.col(key_col).cast("string"), F.lit(lg_k)).alias("hll")
    )


def hll_union_estimate(sketches, group_cols=None):
    """Merge shard sketches (optionally per group) and estimate the
    distinct count. Input is the tiny sketch table, not the data."""
    agg = F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("approx_distinct")
    if group_cols:
        return sketches.groupBy(*group_cols).agg(agg)
    return sketches.agg(agg)


# ---------------------------------------------------------------------------
# Bloom filter: the runtime-filter / incremental-skip sketch
# ---------------------------------------------------------------------------
# Why next to CMS/HLL: the reference's incremental indexer skips
# already-indexed ids with an anti-join against the full key set
# (index_wikimedia.py:148-156, re-expressed at sources/writer.py:30). That is
# the right plan while the key set broadcasts; at 100 TB the "skip list" is
# billions of keys — too big to broadcast, and shuffling the whole new batch
# against it is the bottleneck. A Bloom filter is the standard fix: ~10 bits
# per key at 0.1% false positives (8-60x smaller than the raw 8-byte-plus
# keys), shipped once to every executor, pruning the batch map-side so only
# the ~fpp sliver that *might* collide pays the exact anti-join shuffle.
# Exactness is preserved because Bloom "no" is definitive: false positives
# are re-checked by the real join, false negatives cannot occur.

import math

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


def bloom_params(n_keys: int, fpp: float = 0.001) -> tuple[int, int]:
    """Textbook sizing: m = -n ln p / (ln 2)^2 bits (rounded up to whole
    64-bit words), k = (m/n) ln 2 hash functions."""
    if n_keys < 1:
        n_keys = 1
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1); got {fpp}")
    m = int(math.ceil(-n_keys * math.log(fpp) / (math.log(2.0) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, int(round(m / n_keys * math.log(2.0))))
    return m, k


def bloom_hashes(col, salt: str = "bf"):
    """(h1, h2) double-hashing base pair from ONE salted md5 per key
    (Kirsch & Mitzenmacher 2006: ``pos_i = (h1 + i*h2) mod m`` preserves
    the Bloom fpp with two hash draws instead of k — measured ~2x on the
    scan, since k=10 independent md5 draws dominated). h1 = hex chars 1-8,
    h2 = hex chars 9-16 forced odd; engine/run/layout-portable like every
    md5-based hash here; arithmetic stays under 2^38, far inside ANSI
    int64."""
    md5 = F.md5(F.concat_ws("|", F.lit(salt), col.cast("string")))
    h1 = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long") * 2 + 1
    return h1, h2


def bloom_positions(col, m: int, k: int, salt: str = "bf"):
    """array<bigint> of the key's k bit positions (JVM-side affine math
    over ``bloom_hashes``) — used by the build; the probe path ships the
    (h1, h2) pair instead and expands positions in numpy."""
    h1, h2 = bloom_hashes(col, salt)
    return F.array(*[((h1 + F.lit(i) * h2) % F.lit(m)).cast("long") for i in range(k)])


def bloom_build(
    df: DataFrame, col: str, fpp: float = 0.001, salt: str = "bf",
    n_keys: int | None = None,
) -> tuple[np.ndarray, int, int]:
    """Distributed build -> (int64 bitmap words, m, k). One map-side explode
    of the k positions and ONE hash-agg shuffle whose output is m/64 rows
    (the sketch size, not the key-set size); the driver collects kilobytes.
    ``n_keys`` sizes the filter (defaults to df.count(); duplicates only
    oversize it, which is the safe direction)."""
    n = int(n_keys) if n_keys is not None else df.count()
    m, k = bloom_params(n, fpp)
    words = (
        df.select(F.explode(bloom_positions(F.col(col), m, k, salt)).alias("p"))
        .select(
            F.shiftright("p", 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitmap = np.zeros(m // 64, dtype=np.int64)
    for r in words:
        bitmap[r.w] = r.bits
    return bitmap, m, k


def bloom_might_contain(bitmap: np.ndarray, m: int, k: int):
    """boolean pandas_udf over the two ``bloom_hashes`` columns. The bitmap
    rides the task closure (m/8 bytes, shipped once per executor); the k
    position expansions happen IN numpy (an (n, k) broadcasted affine —
    vectorized, and 5x less Arrow payload than shipping a k-element
    position array per row), then gather + shift + all. No per-row Python.
    Closure-self-contained per the executor sys.path rule."""
    bm = bitmap.astype(np.uint64)
    mm, kk = np.uint64(m), int(k)

    @pandas_udf("boolean")
    def might(h1: pd.Series, h2: pd.Series) -> pd.Series:
        if len(h1) == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        H1 = h1.to_numpy(dtype=np.uint64)[:, None]
        H2 = h2.to_numpy(dtype=np.uint64)[:, None]
        P = (H1 + np.arange(kk, dtype=np.uint64)[None, :] * H2) % mm
        hit = (bm[P >> np.uint64(6)] >> (P & np.uint64(63))) & np.uint64(1)
        return pd.Series(hit.all(axis=1))

    return might


def bloom_prune_anti_join(
    big: DataFrame,
    keys: DataFrame,
    big_key: str,
    keys_key: str | None = None,
    fpp: float = 0.001,
    salt: str = "bf",
) -> DataFrame:
    """EXACT ``big LEFT ANTI JOIN keys`` with Bloom map-side pruning: rows
    whose key is definitely absent (Bloom "no") skip the shuffle entirely;
    only the might-contain sliver (true hits + ~fpp false positives) pays
    the exact anti-join. Result is bit-identical to the plain anti-join —
    the Bloom is a router, not an approximation.

    Scale shape: build is one sketch-sized agg over ``keys``; ``big`` is
    scanned with a map-side vectorized predicate (two column-pruned scans,
    one per branch — persist upstream if the source is not a cheap
    re-scan); the surviving anti-join input is |matches| + fpp*|big| rows
    instead of |big|. Worth it exactly when ``keys`` outgrows the broadcast
    threshold — below it, writer.anti_join_skip's BroadcastHashJoin is
    already optimal."""
    kk = keys_key or big_key
    key_set = keys.select(F.col(kk).alias(kk)).distinct()
    bitmap, m, k = bloom_build(key_set, kk, fpp=fpp, salt=salt)
    might = bloom_might_contain(bitmap, m, k)
    h1, h2 = bloom_hashes(F.col(big_key), salt)
    tagged = big.withColumn("__maybe", might(h1, h2))
    miss = tagged.where(~F.col("__maybe")).drop("__maybe")
    suspects = tagged.where(F.col("__maybe")).drop("__maybe")
    checked = suspects.join(
        key_set, on=suspects[big_key] == key_set[kk], how="left_anti"
    )
    return miss.unionByName(checked)


# ---------------------------------------------------------------------------
# Equi-width histogram: the mergeable quantile/distribution sketch
# ---------------------------------------------------------------------------
# Where it sits in the family: CMS answers "how often is KEY x", HLL "how
# many distinct", Bloom "is x present"; the histogram answers "how is VALUE v
# distributed" — quantiles, tail mass, drift — from a sketch of n_bins cells
# NO MATTER the input size. Unlike percentile_approx (per-query, not
# persistable) a histogram built per shard/day/source is mergeable by
# cell-wise addition, so corpus-wide quantiles come from summing KB-sized
# sketches, never rescanning 100 TB. And unlike a sampled quantile, the bin
# counts are EXACT integers — deterministic across engines, partitionings,
# and runs, which makes the whole operator DuckDB-oracle-checkable
# (interpolation is fixed-order IEEE double math on those integers).

def _hist_bin(col, lo: float, hi: float, n_bins: int):
    """clamp(floor((x - lo) * n_bins / (hi - lo)), 0, n_bins-1) — the same
    op order on both engines, so binning is bit-deterministic. Values
    outside [lo, hi] clamp into the edge bins (document the range or widen
    it; a production build would track under/overflow separately)."""
    raw = F.floor(
        ((col.cast("double") - F.lit(float(lo))) * F.lit(float(n_bins)))
        / F.lit(float(hi) - float(lo))
    )
    return F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), raw.cast("int"))).cast(
        "long"
    )


def histogram_build(
    df: DataFrame, col: str, lo: float, hi: float, n_bins: int = 64,
    shard_cols: list[str] | None = None,
) -> DataFrame:
    """(shard..., bin, cnt): one map-side binning pass + one hash-agg whose
    output is sketch-sized. With ``shard_cols`` you get one mergeable
    histogram per shard (merge = groupBy(bin).sum(cnt))."""
    keys = list(shard_cols or []) + ["bin"]
    return (
        df.where(F.col(col).isNotNull())
        .withColumn("bin", _hist_bin(F.col(col), lo, hi, n_bins))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_merge(hists: DataFrame, shard_cols: list[str] | None = None) -> DataFrame:
    """Merge shard histograms by cell-wise addition (counts are linear)."""
    keys = (list(shard_cols) if shard_cols else []) + ["bin"]
    return hists.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(
    hist: DataFrame, qs: list[float], lo: float, hi: float, n_bins: int = 64
) -> DataFrame:
    """(q, est): linear-interpolated quantiles from the bin counts (the
    numpy/Prometheus rule at bin granularity). Error bound: one bin width.
    All arithmetic is fixed-order double math over exact integer counts —
    bit-identical across engines.

    Executes as ONE bounded collect of the sketch plus a driver fold:
    ``bin`` is clamped to [0, n_bins) at build time, so a merged
    histogram is at most n_bins rows no matter the input size — the
    cumsum/probe/argmin chain that used to run as four sketch-sized Spark
    stages (two windows, a crossJoin, a groupBy — each paying the
    per-stage scheduling floor) is a loop over ≤64 driver rows (guide
    §1.2: the ideal plan for KB-sized state is no plan at all; §5:
    driver work bounded by the sketch, never the data). The float ops
    replicate the old column expressions' exact order — long cumsum,
    cast-to-double compare, ``lo + bin*width + ((q*n - (cum-cnt))/cnt)
    *width`` — so results are bit-identical (oracle-pinned)."""
    width = (float(hi) - float(lo)) / float(n_bins)
    rows = sorted(hist.select("bin", "cnt").collect(),
                  key=lambda r: r["bin"])
    if len({r["bin"] for r in rows}) != len(rows):
        raise ValueError(
            "histogram_quantiles needs a MERGED histogram (unique bins) "
            "— pass the output of histogram_merge"
        )
    n = 0
    cums: list[tuple[int, int, int]] = []  # (bin, cnt, cum) — exact ints
    for r in rows:
        n += int(r["cnt"])
        cums.append((int(r["bin"]), int(r["cnt"]), n))
    out = []
    for q in qs:
        q = float(q)
        target = q * float(n)
        for bin_, cnt, cum in cums:
            if float(cum) >= target:
                est = (
                    float(lo)
                    + float(bin_) * width
                    + ((q * float(n) - float(cum - cnt)) / float(cnt))
                    * width
                )
                out.append((q, est))
                break
    return values_df(hist.sparkSession, out, "q double, est double")


def histogram_drift(
    old: DataFrame, new: DataFrame, col: str,
    lo: float, hi: float, n_bins: int = 64,
) -> DataFrame:
    """Distribution-drift report between two table versions/days/sources:
    per-bin counts of both sides plus the total-variation distance
    ``TV = 0.5 * Σ |p_i - q_i|`` — THE monitoring primitive for "did
    yesterday's crawl shift the length/quality/score distribution", and the
    natural consumer of persisted per-day histogram sketches (drift between
    two days then costs two KB-sized sketch reads, zero data rescans).

    Exactness at any scale: the per-bin work is two sketch-sized hash-aggs;
    TV is computed in INTEGER cross-multiplied fixed point
    (``|cnt_old*n_new - cnt_new*n_old|`` summed as int64, divided once at
    the end), so the sum is reorder-free and bit-identical across engines
    — a float Σ|p-q| would depend on aggregation order. Bounded by
    ``n_old*n_new*2`` per term: safe in int64 up to ~2 billion rows per
    side; beyond that, decimal-widen the products.

    Output: one row per bin present on either side (cnt_old, cnt_new) plus
    the scalar drift repeated per row (tv_num/tv_den kept as exact integers
    alongside the ready-to-read double)."""
    h_old = histogram_build(old, col, lo, hi, n_bins).withColumnRenamed("cnt", "cnt_old")
    h_new = histogram_build(new, col, lo, hi, n_bins).withColumnRenamed("cnt", "cnt_new")
    joined = (
        h_old.join(h_new, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("cnt_old", F.lit(0)).alias("cnt_old"),
            F.coalesce("cnt_new", F.lit(0)).alias("cnt_new"),
        )
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    n_old = F.sum("cnt_old").over(w)
    n_new = F.sum("cnt_new").over(w)
    term = F.abs(F.col("cnt_old") * n_new - F.col("cnt_new") * n_old)
    tv_num = F.sum(term).over(w)
    tv_den = F.lit(2) * n_old * n_new
    return joined.select(
        "bin", "cnt_old", "cnt_new",
        tv_num.alias("tv_num"), tv_den.alias("tv_den"),
        (tv_num.cast("double") / tv_den.cast("double")).alias("tv_distance"),
    )


def histogram_quantiles_by_group(
    hist: DataFrame, qs: list[float], lo: float, hi: float,
    n_bins: int = 64, group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., q, est): ``histogram_quantiles`` independently per group —
    the scalable "p95 per endpoint / length quantiles per language" shape.
    Input is a per-group histogram (``histogram_build(..., shard_cols=
    group_cols)``), so the windows run over (groups x n_bins) sketch rows,
    never the data; one hash exchange on the group columns. Same
    fixed-order interpolation over exact integer counts as the global
    form — bit-deterministic cross-engine."""
    groups = list(group_cols or [])
    width = (float(hi) - float(lo)) / float(n_bins)
    wcum = Window.partitionBy(*groups).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy(*groups).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        *groups, "bin", "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    probe = cum.crossJoin(
        F.broadcast(
            values_df(hist.sparkSession, [(float(q),) for q in qs], "q double")
        )
    )
    hit = (
        probe.where(
            F.col("cum").cast("double") >= F.col("q") * F.col("n").cast("double")
        )
        .groupBy(*groups, "q")
        .agg(
            F.min(F.struct("bin", "cnt", "cum")).alias("s"),
            F.first("n").alias("n"),
        )
        .select(*groups, "q", F.col("s.bin").alias("bin"),
                F.col("s.cnt").alias("cnt"), F.col("s.cum").alias("cum"), "n")
    )
    est = (
        F.lit(float(lo))
        + F.col("bin").cast("double") * F.lit(width)
        + (
            (F.col("q") * F.col("n").cast("double")
             - (F.col("cum") - F.col("cnt")).cast("double"))
            / F.col("cnt").cast("double")
        )
        * F.lit(width)
    )
    return hit.select(*groups, "q", est.alias("est"))
