"""The scale proofs: one registry of the measurements behind BASELINE.md's
scaling claims (O(source) MERGE, O(Δ) view and index refresh, flat
indexed latency under churn, the operator scaling sweep).

Each proof runs the same operations on 1x/4x/8x (by default) id-shifted
replicas of an sf-dir fixture, asserts at every size that the fast path
is exact, and prints ONE JSON line:

    {"proof": name, "sf_dir": ..., "params": {...},
     "results": {"<n>x": {...}, ...}}

Usage:
  python tools/scale_bench.py --list
  python tools/scale_bench.py <proof> [sf_dir] [n ...]
  python tools/scale_bench.py --cores A B <proof> [sf_dir] [n ...]
      runs the proof at SPARK_GRAFT_CPUS=B and =A in subprocesses and
      adds per-row t(A cores)/t(B cores) ratios (A=8, B=32: ≈4 is
      perfect scaling, > 2 is real parallelism)

The sizes are replica factors; for the two endurance proofs they are
the text and the ANN/IVF cycle counts.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from rclip_server_spark import sql as S
from rclip_server_spark.contract import (CENTROIDS, EMB_DIM, QV_FLAGSHIP,
                                         bucket_sql, dot2_sql)
from rclip_server_spark.functions import text as TXT
from rclip_server_spark.functions import vector as VEC
from rclip_server_spark.operators import (ann, dedup, retrieval, similarity,
                                          sketches, stats)
from rclip_server_spark.session import DEFAULT_SF_DIR, get_spark
from rclip_server_spark.sources import annindex as AI
from rclip_server_spark.sources import indexkind as IK
from rclip_server_spark.sources import ivfindex as II
from rclip_server_spark.sources import load_table
from rclip_server_spark.sources import matview as MV
from rclip_server_spark.sources import neardup_view as ND
from rclip_server_spark.sources import textindex as TI
from rclip_server_spark.sources import versioned as V

SMALL_SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
QV = [0.125] * 32 + [-0.125] * 32

# name -> (proof function, default sf_dir, default sizes)
PROOFS: dict[str, tuple] = {}


def proof(name: str, sizes=(1, 4, 8), sf_dir: str = DEFAULT_SF_DIR, **kw):
    def register(fn):
        PROOFS[name] = (functools.partial(fn, **kw), sf_dir, list(sizes))
        return fn
    return register


# ---------------------------------------------------------------- shared

def replicate(df: DataFrame, copies: int, id_col: str,
              text_col: str | None = None) -> DataFrame:
    """k distinct-key copies: ids shifted by i * 10^9 per copy. When
    ``text_col`` is given, each copy's text goes through a copy-specific
    letter permutation — otherwise every copy is a TRUE near-duplicate of
    its original and the dedup input grows k^2 near-dup pairs by
    construction (measured: 4x verbatim replicas -> 5.3x minhash time,
    entirely explained by the ~1000x larger true-pair output). Perturbed
    replicas keep the pair count linear, which is what a real 4x-bigger
    corpus looks like."""
    alpha = "etaoinshrdlu"
    out = df
    for i in range(1, copies):
        c = df.withColumn(id_col, F.col(id_col) + F.lit(i * 1_000_000_000))
        if text_col is not None:
            rot = alpha[i % len(alpha):] + alpha[: i % len(alpha)]
            c = c.withColumn(text_col, F.translate(F.col(text_col), alpha, rot))
        out = out.unionByName(c)
    return out


def timed(fn, runs: int = 1, pick=min):
    """(seconds, last result) of ``runs`` monotonic timings of ``fn``:
    one shot, best-of-2 (``runs=2``) or median-of-3 (``runs=3,
    pick=statistics.median``)."""
    secs = []
    for _ in range(runs):
        t0 = time.monotonic()
        out = fn()
        secs.append(time.monotonic() - t0)
    return pick(secs), out


@contextlib.contextmanager
def workdir(name: str):
    tmp = tempfile.mkdtemp(prefix=f"scale_{name}_")
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def knn_planes(copies: int) -> int:
    # 2^n_planes tracks |right| (512 buckets over the 2000-row sf0.1 right
    # side -> 9 planes): per-left-row candidate volume stays constant, so
    # total k-NN-join work is linear in |left|
    return 9 + round(math.log2(copies))


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))


def _agg_view(spark, t, vw):
    MV.create_agg_view(spark, t, vw, key="event_id",
                       group_cols=["event_type"],
                       sum_cols=["value_cents"])


# ---------------------------------------------------------------- proofs

# Shallow CLONE costs ~the same at every size (one manifest write), its
# first read answers from the source's files, and the source's vacuum
# with a live clone stays manifest-sized (BASELINE.md, "Shallow CLONE is
# O(manifest), not O(table)").
@proof("clone")
def clone(spark, sf_dir, sizes, tmp):
    ev0 = _events(spark, sf_dir)
    results = {}
    # warm the JVM + write path once
    wsrc = os.path.join(tmp, "warm")
    V.create(spark, wsrc, ev0.limit(500))
    V.clone(wsrc, os.path.join(tmp, "warm_c"))
    V.read(spark, os.path.join(tmp, "warm_c")).count()

    for c in sizes:
        ev = replicate(ev0, c, "event_id")
        src = os.path.join(tmp, f"src{c}")
        V.create(spark, src, ev)
        # a couple of DML commits so the clone carries vectors too
        V.delete_rows(
            spark, src,
            ev.where(F.col("event_id") % 97 == 0)
              .select("event_id"), "event_id")
        n_src = V.read(spark, src).count()

        dst = os.path.join(tmp, f"cl{c}")
        t_clone, _ = timed(lambda: V.clone(src, dst))
        t_read, n_clone = timed(lambda: V.read(spark, dst).count())
        assert n_clone == n_src, (n_clone, n_src)
        assert set(V.read(spark, dst).inputFiles()) == \
            set(V.read(spark, src).inputFiles())
        # source vacuum with the live clone registered: the pinned
        # set comes from the clone's manifests (manifest-sized)
        t_vac, _ = timed(lambda: V.vacuum(src, keep_last=1))
        assert V.read(spark, dst).count() == n_src
        results[f"{c}x"] = {
            "rows": n_src,
            "clone_sec": round(t_clone, 4),
            "first_read_sec": round(t_read, 3),
            "vacuum_with_clone_sec": round(t_vac, 4),
        }
    return {"params": {}, "results": results}


# SQL MERGE full upsert against a fixed-size source costs ~the same at
# every target size (one delete vector + one appended segment, nothing
# read from the target); versioned.upsert rewrites and grows linearly
# (BASELINE.md, "Round-9: SQL MERGE O(source) proof" and the Round-14
# DML re-run).
@proof("merge")
def merge(spark, sf_dir, sizes, tmp):
    n_src = 2000
    ev0 = _events(spark, sf_dir)
    cat = S.Catalog(os.path.join(tmp, "cat"))
    results = {}
    # JVM/stage warm-up so the first measured size isn't inflated
    wpath = os.path.join(tmp, "warm")
    V.create(spark, wpath, ev0.limit(100))
    cat.register("warm", wpath, meta={"key": "event_id"})
    ev0.limit(10).createOrReplaceTempView("warm_src")
    S.execute(spark, "MERGE INTO warm USING warm_src ON "
                     "warm.event_id = warm_src.event_id "
                     "WHEN MATCHED THEN UPDATE SET * "
                     "WHEN NOT MATCHED THEN INSERT *", cat)

    # fixed source: 1k updated images of base ids + 1k new ids
    src = (ev0.orderBy("event_id").limit(n_src // 2)
           .withColumn("value_cents", F.col("value_cents") * 10)
           .unionByName(
               ev0.orderBy("event_id").limit(n_src // 2).select(
                   (F.col("event_id")
                    + F.lit(77_000_000_000)).alias("event_id"),
                   "event_type", "value_cents")))
    src.createOrReplaceTempView("merge_proof_src")
    src_keys = {r.event_id for r in src.select("event_id").collect()}

    for copies in sizes:
        name = f"tgt{copies}"
        path = os.path.join(tmp, name)
        V.create(spark, path, replicate(ev0, copies, "event_id"))
        cat.register(name, path, meta={"key": "event_id"})
        n_base = V.table_row_count(path)

        merge_s, _ = timed(lambda: S.execute(
            spark, f"MERGE INTO {name} USING merge_proof_src "
                   f"ON {name}.event_id = event_id "
                   f"WHEN MATCHED THEN UPDATE SET * "
                   f"WHEN NOT MATCHED THEN INSERT *", cat))

        # exactness: final state == target-minus-source-keys ∪ src
        got = V.read(spark, path)
        n_got = got.count()
        assert n_got == n_base + n_src // 2, (n_got, n_base)
        lo = got.where(F.col("event_id").isin(list(src_keys)))
        diff = lo.exceptAll(src).count()
        assert diff == 0, f"{diff} merged rows diverge from source"

        # matched-only flavor: one semi join on the pruned key scan
        matched_s, _ = timed(lambda: S.execute(
            spark, f"MERGE INTO {name} USING merge_proof_src "
                   f"ON {name}.event_id = event_id "
                   f"WHEN MATCHED THEN UPDATE SET *", cat))

        # the rewrite path for contrast: read + anti-join + union,
        # one full-table segment write
        rewrite_s, _ = timed(
            lambda: V.upsert(spark, path, src, "event_id"))

        results[f"{copies}x"] = {
            "target_rows": n_base,
            "merge_full_upsert_sec": round(merge_s, 3),
            "merge_matched_only_sec": round(matched_s, 3),
            "upsert_rewrite_sec": round(rewrite_s, 3),
        }
    return {"params": {"src_rows": n_src}, "results": results}


# The maintained near-dup pairs view refreshes a fixed-size document
# batch in ~constant time at every corpus size, while minhash_near_dup
# over the head grows (BASELINE.md, "Round-9: maintained near-dup pairs
# view refresh flatness"). Replicas
# are verbatim on purpose: every copy is a true near-dup of its origin.
@proof("neardup")
def neardup(spark, sf_dir, sizes, tmp):
    thresh = 0.7
    docs0 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # ~10% of one replica rides as the fixed append batch
    batch = docs0.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(900_000_000_000)).alias("doc_id"),
        "text")
    results = {}
    for copies in sizes:
        corpus = replicate(docs0, copies, "doc_id")
        src = os.path.join(tmp, f"docs_{copies}x")
        vw = os.path.join(tmp, f"pairs_{copies}x")
        V.create(spark, src, corpus)
        ND.create_near_dup_pairs_view(spark, src, vw, key="doc_id",
                                      threshold=thresh)
        V.append(spark, src, batch)

        t_refresh, _ = timed(
            lambda: ND.refresh_near_dup_pairs_view(spark, vw))
        t_recompute, n_full = timed(lambda: dedup.minhash_near_dup(
            V.read(spark, src), threshold=thresh).count())

        n_view = ND.read_near_dup_pairs_view(spark, vw).count()
        assert n_view == n_full, (copies, n_view, n_full)
        results[f"{copies}x"] = {
            "corpus_rows": corpus.count(),
            "pairs": n_view,
            "refresh_sec": round(t_refresh, 3),
            "recompute_sec": round(t_recompute, 3),
        }
    return {"params": {"threshold": thresh}, "results": results}


# An agg view refreshes a fixed-size append in ~constant time at every
# base size while a recompute grows; the cost dispatcher picks
# incremental for append-only and recompute for rewriting intervals
# (BASELINE.md, "Round-6: matview refresh O(delta) proof" and "Round-8:
# cost-based refresh-vs-recompute dispatcher proof").
@proof("matview")
def matview(spark, sf_dir, sizes, tmp):
    ev0 = _events(spark, sf_dir)
    results = {}
    for copies in sizes:
        t = os.path.join(tmp, f"t{copies}")
        vw = os.path.join(tmp, f"v{copies}")
        V.create(spark, t, replicate(ev0, copies, "event_id"))
        _agg_view(spark, t, vw)
        batch = ev0.limit(2000).withColumn(
            "event_id", F.col("event_id") + F.lit(99_000_000_000))
        V.append(spark, t, batch)
        refresh_s, _ = timed(lambda: MV.refresh_agg_view(spark, vw))
        recompute_s, _ = timed(lambda: V.read(spark, t).groupBy(
            "event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value_cents").alias("sum_value_cents"),
        ).collect())
        m = V._manifest(t, V.current_version(t))
        n_rows = sum(m["seg_rows"].values())  # metadata-only
        # the cost-based dispatcher, both interval shapes. Append-only:
        # the change bound is a subset of the head, so the dispatcher
        # must pick INCREMENTAL at every size. Then a rewriting interval
        # (upsert): the multiset diff scans BOTH snapshots (bound =
        # old+new > head), so the dispatcher must pick RECOMPUTE — and
        # we time both paths to show the pick is the cheaper side.
        v0 = V.current_version(t)
        V.append(spark, t, batch.withColumn(
            "event_id", F.col("event_id") + F.lit(1)))
        app_pick = "recompute" if MV._should_recompute(
            MV._RECOMPUTE_BOUND_FRACTION,
            [(MV._change_bound(t, v0, V.current_version(t)),
              MV._head_rows(t, V.current_version(t)))]) \
            else "incremental"
        MV.refresh_agg_view(
            spark, vw,
            recompute_fraction=MV._RECOMPUTE_BOUND_FRACTION)
        v1 = V.current_version(t)
        V.upsert(spark, t, batch.limit(500).withColumn(
            "value_cents", F.col("value_cents") + F.lit(1)),
            "event_id")
        rw_pick = "recompute" if MV._should_recompute(
            MV._RECOMPUTE_BOUND_FRACTION,
            [(MV._change_bound(t, v1, V.current_version(t)),
              MV._head_rows(t, V.current_version(t)))]) \
            else "incremental"
        rw_incremental_s, _ = timed(lambda: MV.refresh_agg_view(
            spark, vw, recompute_fraction=None))
        # replay the SAME rewrite interval through the dispatcher on a
        # second identical view (a fresh view over the pre-upsert base
        # would shift the data)
        vw2 = os.path.join(tmp, f"v{copies}_b")
        _agg_view(spark, t, vw2)
        V.upsert(spark, t, batch.limit(500).withColumn(
            "value_cents", F.col("value_cents") + F.lit(2)),
            "event_id")
        rw_dispatched_s, _ = timed(lambda: MV.refresh_agg_view(
            spark, vw2, recompute_fraction=MV._RECOMPUTE_BOUND_FRACTION))
        results[f"{copies}x"] = {
            "refresh_sec": round(refresh_s, 3),
            "full_recompute_sec": round(recompute_s, 3),
            "base_rows": n_rows,
            "append_interval_pick": app_pick,
            "rewrite_interval_pick": rw_pick,
            "rewrite_incremental_sec": round(rw_incremental_s, 3),
            "rewrite_dispatched_sec": round(rw_dispatched_s, 3),
        }
    return {"params": {"append_rows": 2000}, "results": results}


# Against a buckets=64 target, a fixed-size DELETE and a fixed-size
# conditional MERGE cost ~the same at every size (bucket-scoped delete
# vectors, zero bucket rewrites), and the post-DML scan tracks table
# size as the pre-DML scan does (BASELINE.md, "Bucketed conditional DML
# is O(matched), not O(table)").
@proof("bucketed_dv")
def bucketed_dv(spark, sf_dir, sizes, tmp):
    n_keys = 1000
    ev0 = _events(spark, sf_dir)
    cat = S.Catalog(os.path.join(tmp, "cat"))
    results = {}
    # JVM/stage warm-up so the first measured size isn't inflated
    ev0.limit(200).createOrReplaceTempView("bdv_warm_seed")
    S.execute(spark, "CREATE TABLE warm OPTIONS (key='event_id', "
                     "buckets=8) AS SELECT * FROM bdv_warm_seed",
              cat)
    S.execute(spark, "DELETE FROM warm WHERE event_id % 2 = 0", cat)
    S.execute(spark, "SELECT count(*) AS n FROM warm", cat).collect()

    # fixed merge source: 500 updated images of ids the DELETE
    # below does NOT touch (so they genuinely match) + 500 new ids
    survivors = (ev0.where(F.col("event_id") > n_keys)
                 .orderBy("event_id").limit(n_keys // 2))
    src = (survivors
           .withColumn("value_cents", F.col("value_cents") * 3)
           .unionByName(survivors.select(
               (F.col("event_id")
                + F.lit(77_000_000_000)).alias("event_id"),
               "event_type", "value_cents")))
    src.createOrReplaceTempView("bdv_src")

    for copies in sizes:
        base = replicate(ev0, copies, "event_id")
        name = f"bt{copies}"
        base.createOrReplaceTempView(f"{name}_seed")
        S.execute(spark, f"CREATE TABLE {name} OPTIONS "
                         f"(key='event_id', buckets=64) AS "
                         f"SELECT * FROM {name}_seed", cat)
        path = cat.get(name)["path"]
        n_base = V.table_row_count(path)

        # fixed-size DELETE: the first n_keys base ids
        delete_s, _ = timed(lambda: S.execute(
            spark, f"DELETE FROM {name} WHERE event_id <= {n_keys}", cat))
        m = V._manifest(path, V.current_version(path))
        assert m["delete_segs"], "vector expected"
        scoped = set(m["delete_scopes"][m["delete_segs"][-1]])
        n_scoped = len(scoped)

        # fixed-size conditional MERGE (D/U/I in one statement)
        merge_s, _ = timed(lambda: S.execute(spark, (
            f"MERGE INTO {name} t USING bdv_src AS s "
            f"ON t.event_id = s.event_id "
            f"WHEN MATCHED AND s.value_cents > 15000 THEN DELETE "
            f"WHEN MATCHED THEN UPDATE SET "
            f"value_cents = s.value_cents "
            f"WHEN NOT MATCHED THEN INSERT *"), cat))

        # post-DML full scan: untouched buckets carry no anti-join
        scan_s, n_after = timed(lambda: S.execute(
            spark, f"SELECT count(*) AS n FROM {name}", cat).first().n)

        # exactness by set algebra over the seed: matched source
        # rows delete (vc > 15000) or replace; the 77B ids insert
        matched = src.where(F.col("event_id") < 77_000_000_000)
        new = src.where(F.col("event_id") >= 77_000_000_000)
        want = (base.where(F.col("event_id") > n_keys)
                .join(src.select("event_id"), "event_id",
                      "left_anti")
                .unionByName(matched.where(
                    F.col("value_cents") <= 15000))
                .unionByName(new))
        assert n_after == want.count(), (n_after, copies)

        results[f"{copies}x"] = {
            "target_rows": n_base,
            "delete_1k_keys_sec": round(delete_s, 3),
            "vector_scoped_segments": n_scoped,
            "conditional_merge_sec": round(merge_s, 3),
            "post_dml_scan_sec": round(scan_s, 3),
        }
    return {"params": {"n_keys": n_keys}, "results": results}


# A filtered ANN probe reads the same probed buckets' files as the
# unfiltered one, so both stay ~flat with corpus size and the filter
# never widens the scan (BASELINE.md, "Round-14: filtered-serving scale
# proof").
@proof("filtered")
def filtered(spark, sf_dir, sizes, tmp):
    k, where = 10, "category = 3"
    embs0 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    n0 = embs0.count()
    results = {}
    for c in sizes:
        src_df = replicate(embs0, c, "vec_id").select(
            "vec_id", "embedding",
            (F.col("vec_id") % 7).cast("bigint").alias("category"))
        src = os.path.join(tmp, f"src{c}")
        idx = os.path.join(tmp, f"idx{c}")
        V.create(spark, src, src_df)
        AI.create_ann_index(spark, src, idx, key="vec_id", n_planes=6,
                            include_cols=["category"])
        AI.convert_index_to_bucketed(spark, idx, n_buckets=64)
        # churn + refresh so the measured state is MAINTAINED, not
        # freshly built (delete vector + appended segment in play)
        V.delete_rows(spark, src,
                      [r[0] for r in src_df.limit(500).collect()],
                      "vec_id")
        AI.refresh_ann_index(spark, idx)

        def _filtered():
            return AI.query_ann_index(spark, idx, QV, k=k,
                                      n_probe_bits=1,
                                      where=where).collect()

        def _unfiltered():
            return AI.query_ann_index(spark, idx, QV, k=k,
                                      n_probe_bits=1).collect()

        _filtered(), _unfiltered()  # warm plan shapes
        tf, _ = timed(_filtered, 3, statistics.median)
        tu, _ = timed(_unfiltered, 3, statistics.median)
        # row-identity vs brute-forcing the same probed state
        fq = AI.query_ann_index(spark, idx, QV, k=k, n_probe_bits=1,
                                where=where)
        uq = AI.query_ann_index(spark, idx, QV, k=k, n_probe_bits=1)
        planes = ann.hyperplanes(6, 64, 42)
        qb = int(sum((1 << i) for i, p in enumerate(planes)
                     if float(p @ np.asarray(QV)) >= 0))
        probes = sorted({qb} | {qb ^ (1 << i) for i in range(6)})
        want = (AI.read_ann_index(spark, idx)
                .where(F.col("bucket").isin(probes)).where(where)
                .withColumn("score", VEC.dot(F.col("embedding"),
                                             VEC.vec_lit(QV)))
                .select("vec_id", "score")
                .orderBy(F.desc("score"), F.asc("vec_id")).limit(k))
        got_rows = [(r[0], round(r[1], 9)) for r in fq.collect()]
        want_rows = [(r[0], round(r[1], 9)) for r in want.collect()]
        assert got_rows == want_rows, f"{c}x row-identity failed"
        # the predicate must not widen the scan
        ff, uf = set(fq.inputFiles()), set(uq.inputFiles())
        assert ff <= uf, f"{c}x: filtered scan read MORE files"
        results[f"{c}x"] = {
            "rows": n0 * c, "filtered_sec": round(tf, 3),
            "unfiltered_sec": round(tu, 3),
            "files_filtered": len(ff), "files_unfiltered": len(uf),
        }
    return {"params": {"where": where, "k": k}, "results": results}


# The fused TEXT+ANN query served from the two maintained bucketed
# indexes stays ~flat with corpus size: neither side scans the corpus
# (BASELINE.md, "Hybrid retrieval is flat in corpus size").
@proof("hybrid")
def hybrid(spark, sf_dir, sizes, tmp):
    terms, pool, k = ["vector", "join", "spark"], 50, 10
    docs0 = load_table(spark, sf_dir, "documents").select("doc_id",
                                                          "text")
    embs0 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    results = {}
    for c in sizes:
        d = replicate(docs0, c, "doc_id")
        e = replicate(embs0, c, "vec_id")
        tsrc = os.path.join(tmp, f"tsrc{c}")
        tidx = os.path.join(tmp, f"tidx{c}")
        asrc = os.path.join(tmp, f"asrc{c}")
        aidx = os.path.join(tmp, f"aidx{c}")
        V.create(spark, tsrc, d)
        TI.create_text_index(spark, tsrc, tidx, key="doc_id")
        # the text side runs on its bucketed at-rest layout too
        # (term-bucket file pruning), matching the ANN side
        TI.convert_index_to_bucketed(spark, tidx, n_buckets=64)
        V.create(spark, asrc, e)
        AI.create_ann_index(spark, asrc, aidx, key="vec_id",
                            n_planes=6)
        AI.convert_index_to_bucketed(spark, aidx, n_buckets=64)
        # maintained (not pristine) state: one churn + refresh
        V.delete_and_append(
            spark, tsrc,
            d.limit(100).select("doc_id"), "doc_id",
            d.limit(100).withColumn(
                "doc_id", F.col("doc_id") + 500_000_000))
        V.delete_and_append(
            spark, asrc,
            e.limit(100).select("vec_id"), "vec_id",
            e.limit(100).withColumn(
                "vec_id", F.col("vec_id") + 500_000_000))
        TI.refresh_text_index(spark, tidx)
        AI.refresh_ann_index(spark, aidx)

        def _text():
            return TI.query_text_index(spark, tidx, terms, k=pool)

        def _vec():
            return AI.query_ann_index(spark, aidx, QV, k=pool,
                                      n_probe_bits=1)

        def _fused():
            return retrieval.rrf_fusion(
                _text(),
                _vec().withColumnRenamed("vec_id", "doc_id"),
                k=k, pool=pool)

        t_text, _ = timed(lambda: _text().collect(), 3, statistics.median)
        t_vec, _ = timed(lambda: _vec().collect(), 3, statistics.median)
        t_fused, _ = timed(lambda: _fused().collect(), 3,
                           statistics.median)
        # exactness: fused-from-index == fused-from-scan at this size
        # (the ad-hoc BM25 scorer + multiprobe tier over the current
        # source state)
        cur_d = V.read(spark, tsrc)
        cur_e = V.read(spark, asrc)
        want = retrieval.rrf_fusion(
            retrieval.bm25_topk(cur_d, terms, k=pool),
            ann.lsh_topk_multiprobe(cur_e, QV, k=pool, n_planes=6,
                                    n_probe_bits=1, seed=42)
            .withColumnRenamed("vec_id", "doc_id"),
            k=k, pool=pool)
        got_rows = [(r["doc_id"], round(r["rrf"], 9))
                    for r in _fused().collect()]
        want_rows = [(r["doc_id"], round(r["rrf"], 9))
                     for r in want.collect()]
        assert got_rows == want_rows, f"{c}x fused mismatch"
        results[f"{c}x"] = {
            "docs": cur_d.count(), "vectors": cur_e.count(),
            "text_query_sec": round(t_text, 3),
            "ann_query_sec": round(t_vec, 3),
            "hybrid_fused_sec": round(t_fused, 3),
        }
    return {"params": {"pool": pool, "k": k}, "results": results}


# A JOIN view (inner and LEFT-outer) and the row-level join table
# refresh a fixed-size left append in ~constant time at every left size
# while recomputing the join grows (BASELINE.md, "Round-7: join-view
# refresh O(delta) proof", "Round-8: LEFT-outer join view refresh
# flatness" and the Round-14 re-run).
@proof("join_view")
def join_view(spark, sf_dir, sizes, tmp):
    n_dim = 1000  # right-side dimension rows (user_id % n_dim)
    ev0 = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % n_dim).alias("uk"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"))
    dim = spark.range(n_dim).select(
        F.col("id").alias("u_id"), F.col("id").alias("uk"),
        (F.col("id") % 7).cast("string").alias("cohort"))
    results = {}
    for copies in sizes:
        lt = os.path.join(tmp, f"l{copies}")
        rt = os.path.join(tmp, f"r{copies}")
        vw = os.path.join(tmp, f"v{copies}")
        V.create(spark, lt, replicate(ev0, copies, "event_id"))
        V.create(spark, rt, dim)
        MV.create_join_view(spark, lt, rt, vw, on="uk",
                            left_key="event_id", right_key="u_id",
                            group_cols=["cohort"],
                            sum_cols=["value_cents"])
        # the row-level flavor shares the SAME source and the same
        # append-only interval (independent cursors, one data copy)
        jt = os.path.join(tmp, f"jt{copies}")
        MV.create_join_table_view(spark, lt, rt, jt, on="uk",
                                  left_key="event_id",
                                  right_key="u_id")
        # LEFT-outer flavor: a HALF-coverage dimension so half the left
        # rows are genuinely null-extended; its refresh adds the
        # anti-semijoin term and must stay flat too
        rth = os.path.join(tmp, f"rh{copies}")
        lv = os.path.join(tmp, f"lv{copies}")
        V.create(spark, rth, dim.where(F.col("u_id") < n_dim // 2))
        MV.create_join_view(spark, lt, rth, lv, on="uk",
                            left_key="event_id", right_key="u_id",
                            group_cols=["cohort"],
                            sum_cols=["value_cents"], how="left")
        batch = ev0.limit(2000).withColumn(
            "event_id", F.col("event_id") + F.lit(99_000_000_000))
        V.append(spark, lt, batch)
        refresh_s, _ = timed(lambda: MV.refresh_join_view(spark, vw))
        recompute_s, direct = timed(lambda: (
            V.read(spark, lt).join(V.read(spark, rt), "uk")
            .groupBy("cohort").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("value_cents").alias("sum_value_cents"))
            .collect()))
        view = {(r.cohort, r.cnt, r.sum_value_cents) for r in
                V.read(spark, vw)
                .select("cohort", "cnt",
                        F.col("sum_value_cents").alias("sum_value_cents"))
                .collect()}
        want = {(r.cohort, r.cnt, r.sum_value_cents) for r in direct}
        assert view == want, "join view diverged from direct recompute"
        left_refresh_s, _ = timed(lambda: MV.refresh_join_view(spark, lv))
        lview = {(r.cohort, r.cnt, r.sum_value_cents) for r in
                 V.read(spark, lv).select(
                     "cohort", "cnt", "sum_value_cents").collect()}
        lwant = {(r.cohort, r.cnt, r.sum_value_cents) for r in
                 V.read(spark, lt)
                 .join(V.read(spark, rth), "uk", "left")
                 .groupBy("cohort").agg(
                     F.count(F.lit(1)).alias("cnt"),
                     F.sum("value_cents").alias("sum_value_cents"))
                 .collect()}
        assert lview == lwant, "LEFT join view diverged"
        jt_refresh_s, _ = timed(
            lambda: MV.refresh_join_table_view(spark, jt))
        # the claim under proof: the append-only interval committed
        # a PLAIN APPEND (no netting, no vector) with EXACT content
        m_jt = V._manifest(jt, V.current_version(jt))
        assert m_jt["op"] == "append", m_jt["op"]
        diff = (
            V.read(spark, jt).drop("_pair_key")
            .exceptAll(V.read(spark, lt).join(V.read(spark, rt), "uk"))
            .count())
        assert diff == 0, f"{diff} extra rows in join table"
        n_view = V.table_row_count(jt)
        n_direct = V.read(spark, lt).join(
            V.read(spark, rt), "uk").count()
        assert n_view == n_direct, (n_view, n_direct)
        m = V._manifest(lt, V.current_version(lt))
        results[f"{copies}x"] = {
            "refresh_sec": round(refresh_s, 3),
            "full_recompute_sec": round(recompute_s, 3),
            "left_outer_refresh_sec": round(left_refresh_s, 3),
            "join_table_refresh_sec": round(jt_refresh_s, 3),
            "left_rows": sum(m["seg_rows"].values()),
        }
    return {"params": {"append_rows": 2000}, "results": results}


def _knn_oracle_sql(table: str, n_planes: int, k: int) -> str:
    planes = ann.hyperplanes(n_planes, EMB_DIM, seed=42)
    masks = [0] + [1 << i for i in range(n_planes)]  # n_probe_bits=1
    masks_sql = ", ".join(str(m) for m in masks)
    return f"""
    WITH l AS (
      SELECT vec_id AS id_a, embedding AS va,
             {bucket_sql('embedding', planes)} AS b0
      FROM {table} WHERE vec_id % 17 = 0),
    lp AS (
      SELECT id_a, va, CAST(xor(b0, m) AS BIGINT) AS bucket
      FROM l CROSS JOIN (SELECT unnest([{masks_sql}]) AS m)),
    r AS (
      SELECT vec_id AS id_b, embedding AS vb,
             {bucket_sql('embedding', planes)} AS bucket
      FROM {table} WHERE vec_id % 17 <> 0),
    c AS (
      SELECT id_a, id_b, {dot2_sql('va', 'vb')} AS cosine
      FROM lp JOIN r USING (bucket)),
    ranked AS (
      SELECT id_a, id_b, cosine,
             row_number() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b)
               AS rnk
      FROM c)
    SELECT count(*) FROM ranked WHERE rnk <= {k}
    """


# lsh_knn_join against the DuckDB oracle on identical parquet under the
# 2^n_planes ∝ |right| sizing: the Spark/oracle ratio falls as data
# outgrows the fixed stage floor, and knn_join_via_index over a
# maintained bucketed ANN index never loses to the ad-hoc join
# (BASELINE.md, "Round-6: lsh_knn_join scale proof").
@proof("lsh_knn")
def lsh_knn(spark, sf_dir, sizes, tmp):
    k = 5
    emb0 = load_table(spark, sf_dir, "embeddings")
    results = {}
    # one warm-up at tiny size so Spark timings exclude JVM/codegen/python
    # worker spin-up (same protocol as bench.py)
    ann.lsh_knn_join(emb0.limit(32), emb0.limit(64), k=2, n_planes=4,
                     dim=EMB_DIM, n_left=32, n_right=64).count()

    for copies in sizes:
        path = os.path.join(tmp, f"x{copies}")
        replicate(emb0, copies, "vec_id").write.mode("overwrite") \
            .parquet(path)

        data = spark.read.parquet(path)
        left = data.where(F.col("vec_id") % 17 == 0)
        right = data.where(F.col("vec_id") % 17 != 0)
        n_left = left.count()
        n_right = right.count()
        n_planes = knn_planes(copies)

        s, n_out = timed(lambda: ann.lsh_knn_join(
            left, right, k=k, n_planes=n_planes, n_probe_bits=1,
            dim=EMB_DIM, n_left=n_left, n_right=n_right,
        ).count(), 2)

        # indexed twin: corpus side served from the maintained bucketed
        # ANN index (same planes/seed => row-identical); the build is
        # write-time cost, NOT part of the serving measurement
        src_p = os.path.join(tmp, f"src_x{copies}")
        idx_p = os.path.join(tmp, f"idx_x{copies}")
        V.create(spark, src_p, right)
        AI.create_ann_index(spark, src_p, idx_p, key="vec_id",
                            n_planes=n_planes, dim=EMB_DIM)
        AI.convert_index_to_bucketed(spark, idx_p, n_buckets=64)
        si, n_idx = timed(lambda: AI.knn_join_via_index(
            spark, left, idx_p, k=k, n_probe_bits=1,
            n_left=n_left,
        ).count(), 2)
        assert n_idx == n_out, (copies, n_idx, n_out)

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
        sql = _knn_oracle_sql("t", n_planes, k)
        d, n_duck = timed(lambda: con.execute(sql).fetchone()[0], 2)
        con.close()

        assert n_out == n_duck, (copies, n_out, n_duck)
        results[f"{copies}x"] = {
            "n_left": n_left, "n_right": n_right, "n_planes": n_planes,
            "rows_out": n_out, "spark_sec": round(s, 3),
            "indexed_sec": round(si, 3),
            "indexed_le_adhoc": si <= s,
            "duckdb_sec": round(d, 3),
            "ratio": round(s / d, 2) if d > 0 else None,
            "indexed_ratio": round(si / d, 2) if d > 0 else None,
        }
    return {"params": {"k": k}, "results": results}


# A fixed-size source change refreshes the BM25 postings index in ~the
# same time at every corpus size while a rebuild grows; the indexed
# query stays flat, and the bucketed at-rest layout answers it
# row-identically from strictly fewer bytes (BASELINE.md, "Text-index
# refresh is O(changed docs), not O(corpus)").
@proof("textindex")
def textindex(spark, sf_dir, sizes, tmp):
    batch = 200
    docs0 = load_table(spark, sf_dir, "documents").select("doc_id",
                                                          "text")
    results = {}
    # warm the plan shapes once
    wsrc = os.path.join(tmp, "warm")
    widx = os.path.join(tmp, "warm_i")
    V.create(spark, wsrc, docs0.limit(500))
    TI.create_text_index(spark, wsrc, widx, key="doc_id")
    V.append(spark, wsrc, docs0.limit(50).withColumn(
        "doc_id", F.col("doc_id") + 90_000_000))
    TI.refresh_text_index(spark, widx)
    TI.query_text_index(spark, widx, ["vector", "join"], k=10) \
        .collect()

    def _scan_bytes(q) -> tuple[int, int]:
        files = {f for f in q.inputFiles()
                 if "/del-" not in f}
        paths = [f.replace("file:", "") for f in files]
        return len(files), sum(os.path.getsize(p)
                               for p in paths
                               if os.path.exists(p))

    for c in sizes:
        d = replicate(docs0, c, "doc_id")
        src = os.path.join(tmp, f"src{c}")
        idx = os.path.join(tmp, f"idx{c}")
        V.create(spark, src, d)
        t_build, _ = timed(
            lambda: TI.create_text_index(spark, src, idx, key="doc_id"))
        # fixed-size churn: delete batch docs, insert batch new
        del_keys = d.orderBy("doc_id").limit(batch).select("doc_id")
        ins = d.orderBy("doc_id").limit(batch).withColumn(
            "doc_id", F.col("doc_id") + 500_000_000)
        V.delete_and_append(spark, src, del_keys, "doc_id", ins)
        t_refresh, _ = timed(lambda: TI.refresh_text_index(spark, idx))
        terms = ["vector", "join", "spark"]
        q_flat = TI.query_text_index(spark, idx, terms, k=10)
        files_flat, bytes_flat = _scan_bytes(q_flat)
        t_query, flat_rows = timed(lambda: [(r[0], round(r[1], 9))
                                            for r in q_flat.collect()])
        # the bucketed AT-REST layout: the same query then names only
        # the query terms' hash buckets' segment FILES in its plan
        # (conversion is write-time cost, one rewrite)
        TI.convert_index_to_bucketed(spark, idx, n_buckets=64)
        q_bk = TI.query_text_index(spark, idx, terms, k=10)
        files_bk, bytes_bk = _scan_bytes(q_bk)
        t_bquery, bk_rows = timed(lambda: [(r[0], round(r[1], 9))
                                           for r in q_bk.collect()])
        assert bk_rows == flat_rows, f"{c}x bucketed != flat"
        # BYTES is the honest cross-layout metric (a flat index is
        # few BIG files, a bucketed one many SMALL per-bucket
        # files): the probe read must plan strictly less IO than
        # the flat full-postings read
        assert bytes_bk < bytes_flat, \
            f"{c}x: bucketed read plans {bytes_bk}B vs flat " \
            f"{bytes_flat}B — no at-rest pruning"
        # exactness at every size: postings == full rebuild
        cur = V.read(spark, src)
        got = TI.read_text_index(spark, idx)
        want = TI._postings(cur, "doc_id", "text")
        assert got.exceptAll(want).count() == 0 \
            and want.exceptAll(got).count() == 0, f"{c}x mismatch"
        results[f"{c}x"] = {
            "docs": cur.count(),
            "build_sec": round(t_build, 2),
            "refresh_200_sec": round(t_refresh, 2),
            "indexed_query_sec": round(t_query, 2),
            "bucketed_query_sec": round(t_bquery, 2),
            "files_flat": files_flat,
            "files_bucketed": files_bk,
            "scan_mb_flat": round(bytes_flat / 1e6, 2),
            "scan_mb_bucketed": round(bytes_bk / 1e6, 2),
        }
    return {"params": {"batch": batch}, "results": results}


# Where incremental agg-view refresh stops paying vs recompute, by base
# size × append fraction, plus one rewriting (1% upsert) interval per
# size; calibrates matview's recompute_fraction default (BASELINE.md,
# "Round-9: recompute_fraction crossover and the shipped default").
@proof("fraction_crossover", sizes=(1, 8, 32))
def fraction_crossover(spark, sf_dir, sizes, tmp):
    append_fracs = [0.05, 0.30, 1.00]

    def _timed_refresh(vw, fraction):
        return round(timed(lambda: MV.refresh_agg_view(
            spark, vw, recompute_fraction=fraction))[0], 3)

    ev0 = _events(spark, sf_dir)
    results = {}
    for copies in sizes:
        base = replicate(ev0, copies, "event_id").persist()
        n_base = base.count()
        row = {"base_rows": n_base, "appends": {}}
        for frac in append_fracs:
            n_batch = int(n_base * frac)
            batch = base.limit(n_batch).withColumn(
                "event_id",
                F.col("event_id") + F.lit(77_000_000_000))
            # two identical tables/views: one refreshes
            # incrementally, the twin recomputes the SAME interval
            ts, vws, secs = [], [], []
            for tag, fr in (("inc", None), ("rec", 0.0)):
                t = os.path.join(tmp, f"t{copies}_{frac}_{tag}")
                vw = t + "_v"
                V.create(spark, t, base)
                _agg_view(spark, t, vw)
                V.append(spark, t, batch)
                # fraction 0.0 forces recompute (bound > 0 = frac
                # × head); None forces pure incremental
                secs.append(_timed_refresh(vw, fr))
                ts.append(t)
                vws.append(vw)
            inc_s, rec_s = secs
            row["appends"][f"{int(frac * 100)}%"] = {
                "batch_rows": n_batch,
                "incremental_sec": inc_s,
                "recompute_sec": rec_s,
                "winner": "incremental" if inc_s <= rec_s
                else "recompute",
            }
            for p in ts + vws:
                shutil.rmtree(p, ignore_errors=True)
        # one rewriting interval per size: upsert 1% of rows
        t = os.path.join(tmp, f"t{copies}_rw")
        V.create(spark, t, base)
        upd = base.limit(max(1, n_base // 100)).withColumn(
            "value_cents", F.col("value_cents") + F.lit(1))
        v1, v2 = t + "_vi", t + "_vr"
        _agg_view(spark, t, v1)
        _agg_view(spark, t, v2)
        V.upsert(spark, t, upd, "event_id")
        inc_s = _timed_refresh(v1, None)
        rec_s = _timed_refresh(v2, 0.0)
        row["rewrite_1pct"] = {
            "incremental_sec": inc_s, "recompute_sec": rec_s,
            "winner": "incremental" if inc_s <= rec_s
            else "recompute",
        }
        base.unpersist()
        results[f"{copies}x"] = row
    return {"params": {"append_fracs": append_fracs}, "results": results}


# ------------------------------------------------------------- endurance

_BATCH = 20
_COMPACT_THRESHOLD = 6
_VACUUM_EVERY = 10


def _live_counts(path: str) -> dict:
    m = V._manifest(path, V.current_version(path))
    return {
        "segments": len(V._manifest_segments(m)),
        "delete_vectors": len(m.get("delete_segs") or []),
        "manifests": len(V._manifest_versions(path)),
    }


def _retry_occ(fn, tries: int = 50):
    """OCC rebase for the loop's own source commits when the
    concurrent ingest writer is live: nothing commits on failure, and
    the versioned ops re-read head per attempt, so a plain re-run is
    the correct rebase. Linear backoff breaks the long-vs-short
    livelock (a multi-job delete_and_append re-runs its whole write
    per attempt and would otherwise always lose the commit race to a
    sub-second appender — the backoff lets it land between the
    appender's commits)."""
    for attempt in range(tries):
        try:
            return fn()
        except V.ConcurrentWriteError:
            time.sleep(min(0.1 * attempt, 2.0))
    raise RuntimeError("OCC rebase loop exhausted")


def _start_ingest(spark, src, mk_batch, stop, errors):
    """The concurrent writer: keeps appending disjoint batches into the
    source until told to stop, every commit under OCC retry."""
    def _run():
        j = 0
        try:
            while not stop.is_set():
                batch = mk_batch(j)
                _retry_occ(lambda: V.append(spark, src, batch))
                j += 1
                # ingest cadence ~1 Hz: contention on most cycles
                # without starving the loop's multi-job transactions
                time.sleep(1.0)
        except Exception as e:  # pragma: no cover
            import traceback

            errors.append(f"{type(e).__name__}: {e}\n"
                          f"{traceback.format_exc()}")

    t = threading.Thread(target=_run)
    t.start()
    return t


def _churn(spark, df, key, src):
    """Steady-state churn for cycle ``i``: retract the PREVIOUS cycle's
    inserts, insert a fresh shifted batch — the source size stays ~flat,
    and every cycle exercises both the delete-vector retraction and the
    index append."""
    n = df.count()

    def churn(i: int) -> None:
        lo, hi = (i * _BATCH) % n, (i * _BATCH) % n + _BATCH
        if i > 1:
            plo = ((i - 1) * _BATCH) % n
            dels = df.where(
                (F.col(key) >= plo)
                & (F.col(key) < plo + _BATCH)).select(
                key).withColumn(
                key, F.col(key) + (i - 1) * 1_000_000)
        else:
            dels = df.limit(0).select(key)
        ins = df.where((F.col(key) >= lo)
                       & (F.col(key) < hi)).withColumn(
            key, F.col(key) + i * 1_000_000)
        V.delete_and_append(spark, src, dels, key, ins)
    return churn


def _endure(spark, src, idx, n_cycles, churn, query, rebuild_check,
            ingest_batch=None):
    """The shared loop: churn source -> refresh_view(auto_compact) ->
    periodic view vacuum; latency + live-count checkpoints at the
    first / middle / last cycle. With ``ingest_batch`` (concurrent
    mode) a second writer thread appends throughout; every loop
    commit then rebases through OCC against live contention."""
    marks = {1, n_cycles // 2, n_cycles}
    checkpoints = []
    t_refresh_total = 0.0
    stop = threading.Event()
    errors: list[str] = []
    ingest_t = None
    if ingest_batch is not None:
        ingest_t = _start_ingest(spark, src, ingest_batch, stop,
                                 errors)
    for i in range(1, n_cycles + 1):
        _retry_occ(lambda: churn(i))
        t_refresh_total += timed(lambda: MV.refresh_view(
            spark, idx, auto_compact=True,
            compact_threshold=_COMPACT_THRESHOLD, max_retries=50))[0]
        # the SOURCE is maintained too (a production loop compacts its
        # hot tables): without this the flat source accretes a segment
        # + a scoped delete vector per churn cycle, and the refresh's
        # CDC snapshot reads pay an ever-growing anti-join-group plan
        # (~1 MiB task binaries by cycle 25 in the unmaintained run)
        _retry_occ(lambda: V.maybe_compact(spark, src,
                                           _COMPACT_THRESHOLD))
        if i % _VACUUM_EVERY == 0:
            # history maintenance a production loop schedules: the
            # SOURCE keeps enough history for the cursor (the refresh
            # just advanced it to head, so keep_last=2 is safe here);
            # the VIEW's own history has no cursor consumers.
            # keep_last=4 under concurrency: the ingest writer may
            # have advanced head past the cursor between the refresh
            # and this vacuum — keep the cursor's manifest reachable
            keep = 4 if ingest_batch is not None else 2
            _retry_occ(lambda: V.vacuum(src, keep_last=keep))
            _retry_occ(lambda: V.vacuum(idx, keep_last=2))
        if i in marks:
            checkpoints.append({
                "cycle": i,
                "query_sec": round(
                    timed(query, 3, statistics.median)[0], 3),
                "avg_refresh_sec": round(t_refresh_total / i, 3),
                **_live_counts(idx),
            })
    if ingest_t is not None:
        stop.set()
        ingest_t.join(timeout=300)
        assert not ingest_t.is_alive(), "ingest writer hung"
        assert not errors, errors[0]
        # fold in whatever landed after the last loop refresh, then
        # prove convergence: zero lost refreshes under contention
        MV.refresh_view(spark, idx, auto_compact=True,
                        compact_threshold=_COMPACT_THRESHOLD,
                        max_retries=50)
    rebuild_check()
    first, last = checkpoints[0], checkpoints[-1]
    flat = last["query_sec"] <= first["query_sec"] * 1.5 + 0.15
    # file-count bound = the diffuse budget (avg segments/bucket <=
    # bound/2 between folds; flat tables fold at the bound) plus one
    # refresh's worth of headroom (a checkpoint can land just before
    # the fold that clears it)
    m = V._manifest(idx, V.current_version(idx))
    nonempty = sum(1 for ss in m.get("buckets", {}).values() if ss) \
        if "buckets" in m else 0
    budget = max(nonempty * _COMPACT_THRESHOLD // 2, _COMPACT_THRESHOLD)
    bounded_segs = last["segments"] + last["delete_vectors"] \
        <= budget + _BATCH
    # the tight bound holds when the final cycle vacuumed (full runs:
    # n_cycles % _VACUUM_EVERY == 0); a short diagnostic run's tail
    # cycles since the last vacuum each add <=2 manifests (refresh +
    # compaction fold), which the bound must budget for
    bounded_manifests = last["manifests"] <= \
        _VACUUM_EVERY + 2 + 2 * (n_cycles % _VACUUM_EVERY)
    assert flat, f"query latency grew: {first} -> {last}"
    assert bounded_segs, f"segment growth unbounded: {last}"
    assert bounded_manifests, f"manifest growth unbounded: {last}"
    return checkpoints


# Text, ANN and IVF indexes under many churn + refresh_view(auto_compact)
# cycles with periodic vacuum: indexed-query latency stays flat, live
# segments + delete vectors and the manifest count stay bounded, and the
# final state equals a full rebuild (BASELINE.md, "Index ENDURANCE").
# endurance-concurrent adds a second writer appending into each source
# throughout, so every commit and refresh rebases through OCC.
@proof("endurance-concurrent", sizes=(60, 30), sf_dir=SMALL_SF_DIR,
       concurrent=True)
@proof("endurance", sizes=(60, 30), sf_dir=SMALL_SF_DIR)
def endurance(spark, sf_dir, sizes, tmp, concurrent=False):
    text_cycles, ann_cycles = sizes
    # the endurance corpus is hundreds of rows per cycle — 32 shuffle
    # partitions would make every tiny refresh stage pay 32 task
    # launches; 4 keeps the per-cycle cost the machinery's, not the
    # scheduler's (a production loop sizes this to its batch, and AQE
    # coalesces anyway at real scale)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    docs = load_table(spark, sf_dir, "documents").select("doc_id",
                                                         "text")
    embs = load_table(spark, sf_dir, "embeddings").select("vec_id",
                                                          "embedding")
    docs = docs.persist()
    embs = embs.persist()
    out = {}
    # ---------------- text index ----------------
    tsrc = os.path.join(tmp, "tsrc")
    tidx = os.path.join(tmp, "tidx")
    V.create(spark, tsrc, docs)
    TI.create_text_index(spark, tsrc, tidx, key="doc_id")

    def t_query() -> None:
        TI.query_text_index(spark, tidx,
                            ["vector", "join", "spark"],
                            k=10).collect()

    def t_check() -> None:
        cur = V.read(spark, tsrc)
        got = TI.read_text_index(spark, tidx)
        want = TI._postings(cur, "doc_id", "text")
        assert got.exceptAll(want).count() == 0 \
            and want.exceptAll(got).count() == 0, \
            "text postings diverged from rebuild"

    def t_ingest(j: int):
        # id space disjoint from every churn cycle's shifts
        return docs.limit(_BATCH).select(
            (F.col("doc_id") + 900_000_000_000 + j * 10_000)
            .alias("doc_id"), "text")

    out["text_index"] = _endure(
        spark, tsrc, tidx, text_cycles, _churn(spark, docs, "doc_id", tsrc),
        t_query, t_check, ingest_batch=t_ingest if concurrent else None)

    # ------------- ann index (bucketed at rest) -------------
    asrc = os.path.join(tmp, "asrc")
    aidx = os.path.join(tmp, "aidx")
    V.create(spark, asrc, embs)
    AI.create_ann_index(spark, asrc, aidx, key="vec_id",
                        n_planes=4)
    AI.convert_index_to_bucketed(spark, aidx, n_buckets=16)

    def a_query() -> None:
        AI.query_ann_index(spark, aidx, QV, k=10,
                           n_probe_bits=1).collect()

    def a_check() -> None:
        cur = V.read(spark, asrc)
        planes = ann.hyperplanes(4, 64, 42)
        want = cur.select(
            ann.hyperplane_bucket_col(F.col("embedding"), planes)
            .alias("bucket"), "vec_id")
        got = AI.read_ann_index(spark, aidx).select("bucket",
                                                    "vec_id")
        assert got.exceptAll(want).count() == 0 \
            and want.exceptAll(got).count() == 0, \
            "ann buckets diverged from rebuild"

    def a_ingest(j: int):
        return embs.limit(_BATCH).select(
            (F.col("vec_id") + 900_000_000_000 + j * 10_000)
            .alias("vec_id"), "embedding")

    out["ann_index_bucketed"] = _endure(
        spark, asrc, aidx, ann_cycles, _churn(spark, embs, "vec_id", asrc),
        a_query, a_check, ingest_batch=a_ingest if concurrent else None)

    # ------------- ivf index (bucketed at rest) -------------
    isrc = os.path.join(tmp, "isrc")
    iidx = os.path.join(tmp, "iidx")
    V.create(spark, isrc, embs)
    II.create_ivf_index(spark, isrc, iidx, key="vec_id",
                        n_cells=8, iters=2)
    II.convert_index_to_bucketed(spark, iidx, n_buckets=8)

    def i_query() -> None:
        II.query_ivf_index(spark, iidx, QV, k=10,
                           n_probe=2).collect()

    def i_check() -> None:
        cur = V.read(spark, isrc)
        cents = II._centroids(IK.spec_of("ivf_index", iidx))
        want = ann.ivf_assign(cur, cents).select("ivf_cell", "vec_id")
        got = II.read_ivf_index(spark, iidx).select("ivf_cell",
                                                    "vec_id")
        assert got.exceptAll(want).count() == 0 \
            and want.exceptAll(got).count() == 0, \
            "ivf cells diverged from rebuild"

    out["ivf_index_bucketed"] = _endure(
        spark, isrc, iidx, ann_cycles, _churn(spark, embs, "vec_id", isrc),
        i_query, i_check, ingest_batch=a_ingest if concurrent else None)
    docs.unpersist(), embs.unpersist()
    return {"params": {"concurrent_ingest": concurrent,
                       "text_cycles": text_cycles,
                       "ann_cycles": ann_cycles, "batch": _BATCH,
                       "compact_threshold": _COMPACT_THRESHOLD,
                       "vacuum_every": _VACUUM_EVERY},
            "results": out}


# ----------------------------------------------------------------- sweep

# Headline operators on 1x/2x/4x id-shifted, letter-permuted replicas,
# warm-up plus best-of-2 each: near-linear growth backs PLANS.md's
# claims (a super-linear operator would mean a hidden quadratic or a
# single-reducer stage), and `--cores 8 32 sweep <sf> 1 8` is the
# core-scaling artifact (BASELINE.md, "Round-5 refresh"; the c8v32 run is
# plans/r15/scale_bench_c8v32.json).
@proof("sweep", sizes=(1, 2, 4))
def sweep(spark, sf_dir, sizes, tmp):
    docs0 = load_table(spark, sf_dir, "documents")
    emb0 = load_table(spark, sf_dir, "embeddings")
    results = {}
    for copies in sizes:
        docs = replicate(docs0, copies, "doc_id", text_col="text").persist()
        emb = replicate(emb0, copies, "vec_id").persist()
        docs.count()
        n_emb = emb.count()
        knn_left = emb.where(F.col("vec_id") % 17 == 0)
        n_knn_left = knn_left.count()
        n_planes = knn_planes(copies)
        feats = docs.select(
            F.log(F.size(TXT.tokens(F.col("text"))) + 1).alias("f_logtok"),
            (F.length("text") / (F.size(TXT.tokens(F.col("text"))) + 1))
            .alias("f_len"),
            (F.col("doc_id") % 7 == 0).cast("double").alias("label"),
        )
        ops = {
            "flagship_topk": lambda: similarity.topk_similar(
                emb, QV_FLAGSHIP, k=12).collect(),
            "minhash_near_dup_docs": lambda: dedup.minhash_near_dup(
                docs, threshold=0.7).count(),
            "simhash_groups": lambda: dedup.simhash_groups(docs).count(),
            "semdedup": lambda: dedup.semantic_dedup(
                emb, CENTROIDS, threshold=0.4).count(),
            "bm25_topk": lambda: retrieval.bm25_topk(
                docs, ["data", "model", "training"], k=10).collect(),
            # the inverted-index containment dedup
            "dedup_containment": lambda: dedup.containment_pairs(
                docs, threshold=0.8).count(),
            # Bloom-pruned anti-join over a fixed ~30% key set: cost
            # grows with the SCAN (map-side routed), not with pairs
            "bloom_anti_join": lambda: sketches.bloom_prune_anti_join(
                docs.select("doc_id", "lang"),
                docs.where(F.col("doc_id") % 3 == 0).select("doc_id"),
                "doc_id").count(),
            # the cross-table k-NN join (neither side broadcast): the
            # candidate bound |L|·|R|·probes/2^n_planes grows only
            # with |L|
            "lsh_knn_join": lambda: ann.lsh_knn_join(
                knn_left, emb, k=5, n_planes=n_planes, n_probe_bits=1,
                dim=64, n_left=n_knn_left, n_right=n_emb).count(),
            "train_quality_lr": lambda: stats.train_logistic(
                feats, ["f_logtok", "f_len"], "label", iters=8, lr=0.3),
        }
        row = {}
        for name, fn in ops.items():
            fn()  # warm the plan/codegen shape at this size
            row[name] = round(timed(fn, 2)[0], 3)
        results[f"{copies}x"] = row
        docs.unpersist(), emb.unpersist()
    return {"params": {"cpus": spark.sparkContext.defaultParallelism},
            "results": results}


# ------------------------------------------------------------------ main

def _core_ratio(argv: list[str], lo: int, hi: int) -> dict:
    """Run this tool at hi then lo cores in subprocesses; the envelope of
    the hi run plus the lo run's results and t(lo)/t(hi) per timing."""
    outs = {}
    for cores in (hi, lo):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *argv],
            env=dict(os.environ, SPARK_GRAFT_CPUS=str(cores)),
            capture_output=True, text=True, check=True)
        outs[cores] = json.loads(p.stdout.strip().splitlines()[-1])
    env = outs[hi]
    env["params"].update(cpus=hi, cpus_low=lo)
    env[f"results_c{lo}"] = outs[lo]["results"]
    env[f"t{lo}_over_t{hi}"] = {
        size: {k: round(outs[lo]["results"][size][k] / max(v, 1e-9), 2)
               for k, v in row.items() if isinstance(v, float)}
        for size, row in env["results"].items() if isinstance(row, dict)}
    return env


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--list"]:
        for name, (_, sf_dir, sizes) in PROOFS.items():
            print(name, sf_dir, *sizes)
        return
    cores = None
    if args[:1] == ["--cores"]:
        cores, args = (int(args[1]), int(args[2])), args[3:]
    if not args or args[0] not in PROOFS:
        sys.exit(f"usage: scale_bench.py [--cores A B] <proof> [sf_dir] "
                 f"[n ...]; proofs: {' '.join(PROOFS)}")
    if cores:
        print(json.dumps(_core_ratio(args, *cores)))
        return
    name, rest = args[0], args[1:]
    fn, sf_dir, sizes = PROOFS[name]
    if rest and not rest[0].isdigit():
        sf_dir, rest = rest[0], rest[1:]
    sizes = [int(n) for n in rest] or sizes
    spark = get_spark(app_name=f"scale_bench_{name}")
    try:
        with workdir(name) as tmp:
            out = fn(spark, sf_dir, sizes, tmp)
    finally:
        spark.stop()
    print(json.dumps({"proof": name, "sf_dir": sf_dir, **out}))


if __name__ == "__main__":
    main()
