"""Maintained NEAR-DUP CANDIDATE-PAIRS view: the banded-LSH MinHash
pair table (id_a, id_b, jaccard) kept incrementally fresh as the
document corpus ingests — "dedup today's crawl against 100 TB without
re-pairing the corpus".

The batch-vs-corpus algebra already exists
(operators/dedup.py:minhash_near_dup_incremental): a new batch's bands
probe the corpus band index, so pair discovery costs O(batch), never
O(corpus²). This module turns that one-shot call into a maintained
view with DELETE retraction:

* two internal TRANSFORM views over the source (each O(changed rows)
  per refresh, sources/matview.py:create_transform_view):
    - ``<view>_grams``: (key, gs) — 60-bit hashed shingle sets, the
      exact-verification payload (stored ONCE per doc, never
      duplicated across bands);
    - ``<view>_bands``: (key, band, bh, sig) — the banded signature
      index the probe equi-joins on (at fleet scale this table is
      bucketed by (band, bh) so probes are co-located joins).
* the PAIRS table itself, refreshed per source interval as ONE
  delete_and_append commit:
    - retraction: pairs touching a deleted/updated key become a
      delete vector (found by a broadcast semi-join of the Δ keys
      against the current pair rows — row volume is the touched
      pairs, the scan prunes on two key columns);
    - discovery: the Δ docs' bands probe the refreshed band index —
      new-vs-corpus and new-vs-new pairs only, with the same
      first-matching-band dedup + signature-agreement prefilter +
      exact Jaccard verification as the full pipeline, so the
      maintained state is row-identical to recomputing
      minhash_near_dup over the head (the oracle row
      ``vt_near_dup_pairs_view`` pins exactly that).

Refresh cost is bounded by Δ docs × band collisions — flat in corpus
size (tools/scale_bench.py neardup; BASELINE.md). The view registers
in matview's graph (_VIEW_KINDS "near_dup"), so refresh_view /
refresh_cascade / describe_view / vacuum_source_safely all dispatch
to it; a pure insert-only interval needs no function handle at all.

Reference parity: the reference has no incremental dedup (B4 is a
one-shot SELECT, RS:214-223); this is the scale-path extension the
LLM-ingest pipeline needs.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.hashing import (
    hash32_from_md5,
    hash60_from_md5,
    minhash_params,
    minhash_signature_over_hashed,
)
from ..operators.dedup import (_first_band_only, _jaccard_verified,
                               _sig_agreement)
from . import matview as M
from . import versioned as V
from .matview import _INSERTING, _RETRACTING  # canonical CDC classes

PAIR_COL = "_nd_pair"
_SEP = "\x01"
GRAMS_SUFFIX = "_grams"
BANDS_SUFFIX = "_bands"


def _grams_transform(key: str, text_col: str, shingle_n: int):
    def fn(df: DataFrame) -> DataFrame:
        m5 = F.transform(TXT.char_shingles(F.col(text_col), shingle_n),
                         F.md5)
        return df.select(
            key, F.array_distinct(F.transform(m5, hash60_from_md5))
            .alias("gs"))

    return fn


def _bands_transform(key: str, text_col: str, shingle_n: int,
                     num_hashes: int, bands: int, seed: int):
    params = minhash_params(num_hashes, seed)
    rpb = num_hashes // bands

    def fn(df: DataFrame) -> DataFrame:
        m5 = df.select(
            key,
            F.transform(TXT.char_shingles(F.col(text_col), shingle_n),
                        F.md5).alias("m5"))
        sig = m5.select(
            key, F.transform("m5", hash32_from_md5).alias("hs")
        ).select(key, minhash_signature_over_hashed("hs", params)
                 .alias("sig"))
        return sig.select(
            key, "sig",
            F.explode(F.array(*[
                F.struct(F.lit(i).alias("band"),
                         F.slice("sig", i * rpb + 1, rpb).alias("bh"))
                for i in range(bands)
            ])).alias("bk"),
        ).select(key, F.col("bk.band").alias("band"),
                 F.col("bk.bh").alias("bh"), "sig")

    return fn


def _index_fns(spec: dict) -> list:
    """The (transform, name) of the grams and bands index views."""
    tag = (f"{spec['nd_shingle_n']}:{spec['nd_num_hashes']}:"
           f"{spec['nd_bands']}:{spec['nd_seed']}")
    key, col, n = spec["nd_key"], spec["nd_text_col"], spec["nd_shingle_n"]
    return [(_grams_transform(key, col, n), f"nd_grams:{tag}"),
            (_bands_transform(key, col, n, spec["nd_num_hashes"],
                              spec["nd_bands"], spec["nd_seed"]),
             f"nd_bands:{tag}")]


def _verified_pairs(cands: DataFrame, grams: DataFrame, key: str,
                    threshold: float) -> DataFrame:
    """Exact Jaccard verification over candidate (id_a, id_b) pairs —
    the one-shot pipeline's verifier over the grams index."""
    g = grams.select(F.col(key).alias("id"), "gs")
    return _jaccard_verified(cands, g, g, threshold)


def _with_pair_col(pairs: DataFrame) -> DataFrame:
    return pairs.withColumn(
        PAIR_COL,
        F.concat(F.col("id_a").cast("string"), F.lit(_SEP),
                 F.col("id_b").cast("string")))


def _full_pairs(band_df: DataFrame, gram_df: DataFrame, spec: dict
                ) -> DataFrame:
    """The complete pair set from the index views (create / heal path)
    — the same plan as minhash_near_dup's self-join, reading the
    maintained index instead of re-hashing the text."""
    key = spec["nd_key"]
    rpb = spec["nd_num_hashes"] // spec["nd_bands"]
    a, b = band_df.alias("a"), band_df.alias("b")
    ka, kb = F.col(f"a.{key}"), F.col(f"b.{key}")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh")) & (ka < kb))
        .where(_first_band_only(F.col("a.sig"), F.col("b.sig"),
                                F.col("a.band"), rpb))
        .where(_sig_agreement(spec["nd_num_hashes"], spec["nd_threshold"]))
        .select(ka.alias("id_a"), kb.alias("id_b"))
    )
    return _verified_pairs(cands, gram_df, key, spec["nd_threshold"])


def _probe_pairs(band_df: DataFrame, gram_df: DataFrame,
                 ins_keys: DataFrame, spec: dict) -> DataFrame:
    """Δ-bounded pair discovery: inserted docs' bands (probe side)
    equi-join the full band index (corpus side, which includes the
    inserted docs). Orientation rule — corpus-old×new pairs appear in
    exactly one order (the corpus side is not new), new×new pairs are
    kept only when corpus key < probe key — so each pair is emitted
    once; the stored orientation is always (lesser id, greater id)."""
    key = spec["nd_key"]
    rpb = spec["nd_num_hashes"] // spec["nd_bands"]
    # ONE broadcast and ONE pass over the band index: the Δ-key flag
    # join serves both sides — the probe side is the flagged frame
    # filtered to the new keys (no second semi-join / second broadcast
    # on the hot refresh path)
    ins = F.broadcast(ins_keys.select(F.col(key).alias("_ins_key"))
                      .distinct())
    corpus = (band_df.join(ins, band_df[key] == F.col("_ins_key"),
                           "left")
              .withColumn("_is_new", F.col("_ins_key").isNotNull())
              .drop("_ins_key"))
    probe = corpus.where(F.col("_is_new")).drop("_is_new")
    a, b = corpus.alias("a"), probe.alias("b")
    ka, kb = F.col(f"a.{key}"), F.col(f"b.{key}")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh")) & (ka != kb))
        .where(~F.col("a._is_new") | (ka < kb))
        .where(_first_band_only(F.col("a.sig"), F.col("b.sig"),
                                F.col("a.band"), rpb))
        .where(_sig_agreement(spec["nd_num_hashes"], spec["nd_threshold"]))
        .select(F.least(ka, kb).alias("id_a"),
                F.greatest(ka, kb).alias("id_b"))
    )
    return _verified_pairs(cands, gram_df, key, spec["nd_threshold"])


def create_near_dup_pairs_view(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    text_col: str = "text", shingle_n: int = 5, num_hashes: int = 32,
    bands: int = 8, threshold: float = 0.7, seed: int = 42,
) -> int:
    """Materialize the near-dup pair table over the source's head and
    record the spec + cursor; the two index transform views are created
    alongside (``<view>_grams``, ``<view>_bands``). ``key`` must be a
    unique non-null row identity (the transform-view contract)."""
    if num_hashes % bands:
        raise ValueError(f"bands {bands} must divide num_hashes "
                         f"{num_hashes}")
    return _create_pairs_view(spark, "near_dup", source_path, view_path, {
        "nd_source": source_path, "nd_key": key,
        "nd_text_col": text_col, "nd_shingle_n": int(shingle_n),
        "nd_num_hashes": int(num_hashes), "nd_bands": int(bands),
        "nd_threshold": float(threshold), "nd_seed": int(seed),
    })


def read_near_dup_pairs_view(spark: SparkSession, view_path: str,
                             version: int | None = None) -> DataFrame:
    """The pair table at a version (default head), maintenance key
    hidden."""
    return V.read(spark, view_path, version).drop(PAIR_COL)


def refresh_near_dup_pairs_view(
        spark: SparkSession, view_path: str,
        recompute_fraction: float | None = M._RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Advance the pair table to the source head: refresh the index
    views (O(changed docs)), then retract + probe against the PINNED
    index reads (``heads`` / ``delta`` below) — a concurrent refresher
    advancing the shared indexes must not leak future docs into this
    interval's probe (duplicate-pair hazard)."""
    return M._refresh_once(spark, "near_dup", view_path, recompute_fraction)


# ===========================================================================
# EMBEDDING near-dup pairs view: hyperplane-multiset LSH over an
# embedding column — the vector twin of the MinHash flavor, sharing
# the same maintenance skeleton. The candidate tier is
# ann.hyperplane_lsh_near_dup_multiset's algebra (n_sets independently
# seeded sign-bit bucketings, union, distinct), verification is exact
# cosine ≥ threshold; planes derive deterministically from the seed in
# the spec, so every refresh buckets identically and the maintained
# state is row-identical to the one-shot pipeline over the head.
# ===========================================================================

EVECS_SUFFIX = "_evecs"
EBKTS_SUFFIX = "_ebuckets"


def _evecs_transform(key: str, vec_col: str):
    def fn(df: DataFrame) -> DataFrame:
        return df.select(key, F.col(vec_col).alias("v"))

    return fn


def _ebkts_transform(key: str, vec_col: str, n_planes: int, n_sets: int,
                     seed: int, dim: int):
    from ..operators import ann as A

    def fn(df: DataFrame) -> DataFrame:
        # buckets are PRECOMPUTED into the index (the literal-planes
        # expression tree is planned once per refresh over Δ rows, and
        # probes reuse the stored column — never re-planned per probe)
        sets = [
            F.struct(
                F.lit(s).alias("pset"),
                A.hyperplane_bucket_col(
                    vec_col,
                    A.hyperplanes(n_planes, dim, seed + s)).alias("bkt"))
            for s in range(n_sets)
        ]
        return (df.select(key, F.explode(F.array(*sets)).alias("sb"))
                .select(key, F.col("sb.pset").alias("pset"),
                        F.col("sb.bkt").alias("bkt")))

    return fn


def _ed_index_fns(spec: dict) -> list:
    """The (transform, name) of the vector and bucket index views."""
    tag = (f"{spec['ed_n_planes']}:{spec['ed_n_sets']}:"
           f"{spec['ed_seed']}:{spec['ed_dim']}")
    key, col = spec["ed_key"], spec["ed_vec_col"]
    return [(_evecs_transform(key, col), f"ed_vecs:{col}"),
            (_ebkts_transform(key, col, spec["ed_n_planes"],
                              spec["ed_n_sets"], spec["ed_seed"],
                              spec["ed_dim"]), f"ed_buckets:{tag}")]


def _ed_verified(cands: DataFrame, vec_df: DataFrame, key: str,
                 threshold: float) -> DataFrame:
    from ..functions import vector as VEC

    v = vec_df.select(F.col(key).alias("_vid"), "v")
    joined = (
        cands
        .join(v.withColumnRenamed("_vid", "id_a")
               .withColumnRenamed("v", "va"), "id_a")
        .join(v.withColumnRenamed("_vid", "id_b")
               .withColumnRenamed("v", "vb"), "id_b")
    )
    return (joined.withColumn("cosine", VEC.dot("va", "vb"))
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def _ed_full_pairs(bkt_df: DataFrame, vec_df: DataFrame, spec: dict
                   ) -> DataFrame:
    key = spec["ed_key"]
    a, b = bkt_df.alias("a"), bkt_df.alias("b")
    ka, kb = F.col(f"a.{key}"), F.col(f"b.{key}")
    cands = (
        a.join(b, (F.col("a.pset") == F.col("b.pset"))
               & (F.col("a.bkt") == F.col("b.bkt")) & (ka < kb))
        .select(ka.alias("id_a"), kb.alias("id_b"))
        .distinct()  # a pair colliding in several plane sets is ONE pair
    )
    return _ed_verified(cands, vec_df, key, spec["ed_threshold"])


def _ed_probe_pairs(bkt_df: DataFrame, vec_df: DataFrame,
                    ins_keys: DataFrame, spec: dict) -> DataFrame:
    key = spec["ed_key"]
    ins = F.broadcast(ins_keys.select(F.col(key).alias("_ins_key"))
                      .distinct())
    corpus = (bkt_df.join(ins, bkt_df[key] == F.col("_ins_key"), "left")
              .withColumn("_is_new", F.col("_ins_key").isNotNull())
              .drop("_ins_key"))
    probe = corpus.where(F.col("_is_new")).drop("_is_new")
    a, b = corpus.alias("a"), probe.alias("b")
    ka, kb = F.col(f"a.{key}"), F.col(f"b.{key}")
    cands = (
        a.join(b, (F.col("a.pset") == F.col("b.pset"))
               & (F.col("a.bkt") == F.col("b.bkt")) & (ka != kb))
        .where(~F.col("a._is_new") | (ka < kb))
        .select(F.least(ka, kb).alias("id_a"),
                F.greatest(ka, kb).alias("id_b"))
        .distinct()
    )
    return _ed_verified(cands, vec_df, key, spec["ed_threshold"])


def create_embed_near_dup_pairs_view(
    spark: SparkSession, source_path: str, view_path: str, key: str,
    vec_col: str = "embedding", threshold: float = 0.95,
    n_planes: int = 6, n_sets: int = 3, seed: int = 42,
    dim: int | None = None,
) -> int:
    """Materialize the EMBEDDING near-dup pair table (cosine ≥
    threshold through the hyperplane-multiset candidate tier) over the
    source's head; the bucket/vector index transform views are created
    alongside. ``dim`` is frozen in the spec (inferred from the source
    when omitted) so every refresh derives identical planes."""
    if dim is None:
        from ..operators.ann import infer_dim

        dim = infer_dim(M._read_source(spark, source_path), vec_col)
    return _create_pairs_view(
        spark, "embed_near_dup", source_path, view_path, {
            "ed_source": source_path, "ed_key": key, "ed_vec_col": vec_col,
            "ed_threshold": float(threshold), "ed_n_planes": int(n_planes),
            "ed_n_sets": int(n_sets), "ed_seed": int(seed),
            "ed_dim": int(dim),
        })


def read_embed_near_dup_pairs_view(spark: SparkSession, view_path: str,
                                   version: int | None = None
                                   ) -> DataFrame:
    return V.read(spark, view_path, version).drop(PAIR_COL)


def refresh_embed_near_dup_pairs_view(
        spark: SparkSession, view_path: str,
        recompute_fraction: float | None = M._RECOMPUTE_BOUND_FRACTION,
) -> int:
    """Advance the embedding pair table to the source head — the same
    pinned-index contract as the MinHash flavor."""
    return M._refresh_once(spark, "embed_near_dup", view_path,
                           recompute_fraction)


# ===========================================================================
# The two flavors' view-kind entries (matview._VIEW_KINDS): ``heads``,
# ``state`` and ``delta`` take the kind name first
# ===========================================================================


class _Flavor(NamedTuple):
    """A pair-view flavor: its spec prefix, the suffixes of its payload
    and band index views, their (transform, name) pairs from the spec,
    and the complete and Δ-probed pair sets over (bands, payload)."""
    prefix: str
    suffixes: tuple
    index_fns: Callable
    full_pairs: Callable
    probe_pairs: Callable


_FLAVORS = {
    "near_dup": _Flavor("nd", (GRAMS_SUFFIX, BANDS_SUFFIX), _index_fns,
                        _full_pairs, _probe_pairs),
    "embed_near_dup": _Flavor("ed", (EVECS_SUFFIX, EBKTS_SUFFIX),
                              _ed_index_fns, _ed_full_pairs,
                              _ed_probe_pairs),
}


def _indexes(kind: str, view_path: str, spec: dict) -> list:
    """[(path, transform, name), ...] of a pair view's index views."""
    f = _FLAVORS[kind]
    return [(view_path + sfx, fn, name)
            for sfx, (fn, name) in zip(f.suffixes, f.index_fns(spec))]


def _create_pairs_view(spark: SparkSession, kind: str, source_path: str,
                       view_path: str, spec: dict) -> int:
    """Create the index transform views, then the pair table over their
    reads converged on ONE source version (a source commit can race
    between the two creates) and pinned at the index versions whose
    cursors were verified — reading the index heads would materialize
    pairs past the recorded cursor, which the first refresh would then
    re-append. ``key`` must be a unique non-null row identity (the
    transform-view contract)."""
    for path, fn, name in _indexes(kind, view_path, spec):
        M.create_transform_view(spark, source_path, path,
                                key=spec[f"{_FLAVORS[kind].prefix}_key"],
                                transform=fn, name=name)
    return M._create(spark, kind, view_path, spec)


def heads(kind: str, spark: SparkSession, view_path: str, spec: dict,
          recompute_fraction: float | None) -> tuple[list, list]:
    """Advance the index views to a COMMON source version (re-run on the
    rare race where the source commits between the refreshes) and
    return ([src_v], the index views' (path, version) reads) — the
    versions whose cursors equal src_v, so state and delta read the
    indexes PINNED (one consistent read): reading the index heads
    instead would let a concurrent refresher's later commit leak future
    docs into this interval's probe, and the next refresh would
    re-discover (duplicate) those pairs."""
    indexes = _indexes(kind, view_path, spec)
    for _ in range(5):
        for path, fn, name in indexes:
            M.refresh_view(spark, path, transforms={path: (fn, name)},
                           recompute_fraction=recompute_fraction)
        reads = [(p, V.current_version(p)) for p, _f, _n in indexes]
        cursors = {int(M._spec(p, v, "transform")["tv_source_version"])
                   for p, v in reads}
        if len(cursors) == 1:
            return list(cursors), reads
    raise RuntimeError(
        f"index views for {view_path} could not converge on one source "
        f"version after 5 rounds (source committing continuously?)")


def state(kind: str, spark: SparkSession, spec: dict, frames: list):
    """The complete pair set from the pinned index views."""
    payload, bands = frames
    return _with_pair_col(_FLAVORS[kind].full_pairs(bands, payload, spec)), {}


def delta(kind: str, r) -> int:
    """One interval as ONE delete_and_append commit: pairs touching a
    retracted key become the delete vector (found by a broadcast
    semi-join of the Δ keys against the current pair rows), and the
    inserted keys probe the pinned index.

    Cost model: "recompute" here is the full banded SELF-JOIN over the
    whole corpus, not one pass over the head — the row-scan model
    (bound > fraction x head) undercosts it by the pairing factor, and
    any interval containing a retraction has bound ~= 2 x head, which
    would trip full corpus re-pairing on EVERY delete under the 0.5
    default. So the kind registers without the cost model (the O(delta)
    retract+probe path is always preferred, per the module's "never
    re-pair the corpus" contract); recompute only heals. The index
    transform views still dispatch under the row model, where
    recompute really is one head pass."""
    f = _FLAVORS[kind]
    key = r.spec[f"{f.prefix}_key"]
    (src, v_from, v_to), = r.intervals
    ch = r.persist(M._changes_since_cursor(r.spark, src, v_from, v_to, key))
    del_keys = (ch.where(F.col("_change_type").isin(*_RETRACTING))
                .select(key).distinct())
    ins_keys = (ch.where(F.col("_change_type").isin(*_INSERTING))
                .select(key).distinct())
    cur = V.read(r.spark, r.path, r.view_v)
    dk = F.broadcast(del_keys.withColumnRenamed(key, "_dk"))
    del_pairs = (
        cur.join(dk, cur["id_a"] == F.col("_dk"), "leftsemi")
        .unionByName(cur.join(dk, cur["id_b"] == F.col("_dk"), "leftsemi"))
        .select(PAIR_COL).distinct()
    )
    payload, bands = (M._read_source(r.spark, p, v) for p, v in r.reads)
    new_pairs = _with_pair_col(f.probe_pairs(bands, payload, ins_keys,
                                             r.spec))
    return r.commit(V.delete_and_append, del_pairs, PAIR_COL, new_pairs)
