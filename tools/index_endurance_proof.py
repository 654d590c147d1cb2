"""Index ENDURANCE proof (r11 verdict task 2): both maintained
indexes accrete a delete vector + per-refresh segments; this drives
MANY churn+refresh cycles with the maintenance knobs a production
loop would run (auto_compact on the refresh, periodic VACUUM of the
view's history) and measures that

* indexed-query latency stays FLAT across cycles (no accretion tax),
* the view's live segment + delete-vector counts stay BOUNDED (the
  auto_compact fold works),
* the manifest count stays BOUNDED (vacuum reaps history),
* and the final state is EXACT (postings / buckets == full rebuild).

Text index: 60 cycles of delete-20 + insert-20 docs. ANN and IVF
indexes (both on the BUCKETED at-rest layout; IVF added r13): 30
cycles of delete-20 + insert-20 vectors each. Each cycle refreshes
through matview.refresh_view(auto_compact=True) — the same call the
refresh streams make.

r13 (--concurrent-ingest): a second WRITER thread appends disjoint
batches into each source for the whole run, so every churn commit and
every refresh rebases through the OCC loop against live contention —
the endurance numbers then cover the two-writer shape a production
deployment actually runs, and the final rebuild check proves zero
lost refreshes under it.

Usage: python tools/index_endurance_proof.py [sf_dir] [text_cycles]
       [ann_cycles] [--concurrent-ingest]
       ->  one JSON line (checkpoints every 10 cycles)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rclip_server_spark.session import get_spark
from rclip_server_spark.sources import annindex as AI
from rclip_server_spark.sources import load_table
from rclip_server_spark.sources import matview as MV
from rclip_server_spark.sources import textindex as TI
from rclip_server_spark.sources import versioned as V

_ARGS = [a for a in sys.argv[1:] if a != "--concurrent-ingest"]
CONCURRENT = "--concurrent-ingest" in sys.argv[1:]
SF_DIR = _ARGS[0] if len(_ARGS) > 0 else "/root/testdata/sf0.01"
TEXT_CYCLES = int(_ARGS[1]) if len(_ARGS) > 1 else 60
ANN_CYCLES = int(_ARGS[2]) if len(_ARGS) > 2 else 30
BATCH = 20
COMPACT_THRESHOLD = 6
VACUUM_EVERY = 10
QV = [0.125] * 32 + [-0.125] * 32


def _live_counts(path: str) -> dict:
    m = V._manifest(path, V.current_version(path))
    return {
        "segments": len(V._manifest_segments(m)),
        "delete_vectors": len(m.get("delete_segs") or []),
        "manifests": len(V._manifest_versions(path)),
    }


def _median3(fn) -> float:
    ts = []
    for _ in range(3):
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
    return sorted(ts)[1]


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
    """The r13 concurrent writer: keeps appending disjoint batches
    into the source until told to stop, every commit under OCC
    retry."""
    import threading

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


def _endure(spark, src, idx, n_cycles, churn, query, rebuild_check,
            ingest_batch=None):
    """The shared loop: churn source -> refresh_view(auto_compact) ->
    periodic view vacuum; latency + live-count checkpoints at the
    first / middle / last cycle. With ``ingest_batch`` (concurrent
    mode) a second writer thread appends throughout; every loop
    commit then rebases through OCC against live contention."""
    import threading

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
        t0 = time.time()
        MV.refresh_view(spark, idx, auto_compact=True,
                        compact_threshold=COMPACT_THRESHOLD,
                        max_retries=50)
        t_refresh_total += time.time() - t0
        # the SOURCE is maintained too (a production loop compacts its
        # hot tables): without this the flat source accretes a segment
        # + a scoped delete vector per churn cycle, and the refresh's
        # CDC snapshot reads pay an ever-growing anti-join-group plan
        # (~1 MiB task binaries by cycle 25 in the unmaintained run)
        _retry_occ(lambda: V.maybe_compact(spark, src,
                                           COMPACT_THRESHOLD))
        if i % VACUUM_EVERY == 0:
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
                "query_sec": round(_median3(query), 3),
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
                        compact_threshold=COMPACT_THRESHOLD,
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
    budget = max(nonempty * COMPACT_THRESHOLD // 2, COMPACT_THRESHOLD)
    bounded_segs = last["segments"] + last["delete_vectors"] \
        <= budget + BATCH
    # the tight bound holds when the final cycle vacuumed (full runs:
    # n_cycles % VACUUM_EVERY == 0); a short diagnostic run's tail
    # cycles since the last vacuum each add <=2 manifests (refresh +
    # compaction fold), which the bound must budget for
    bounded_manifests = last["manifests"] <= \
        VACUUM_EVERY + 2 + 2 * (n_cycles % VACUUM_EVERY)
    assert flat, f"query latency grew: {first} -> {last}"
    assert bounded_segs, f"segment growth unbounded: {last}"
    assert bounded_manifests, f"manifest growth unbounded: {last}"
    return checkpoints


def main() -> None:
    spark = get_spark(app_name="index_endurance_proof")
    # the endurance corpus is hundreds of rows per cycle — 32 shuffle
    # partitions would make every tiny refresh stage pay 32 task
    # launches; 4 keeps the per-cycle cost the machinery's, not the
    # scheduler's (a production loop sizes this to its batch, and AQE
    # coalesces anyway at real scale)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id",
                                                         "text")
    embs = load_table(spark, SF_DIR, "embeddings").select("vec_id",
                                                          "embedding")
    docs = docs.persist()
    embs = embs.persist()
    n_docs = docs.count()
    tmp = tempfile.mkdtemp(prefix="idx_endure_")
    out = {}
    try:
        # ---------------- text index ----------------
        tsrc = os.path.join(tmp, "tsrc")
        tidx = os.path.join(tmp, "tidx")
        V.create(spark, tsrc, docs)
        TI.create_text_index(spark, tsrc, tidx, key="doc_id")

        def t_churn(i: int) -> None:
            # steady state: retract the PREVIOUS cycle's inserts,
            # insert a fresh shifted batch — corpus size stays ~flat,
            # every cycle exercises both the delete-vector retraction
            # and the postings append
            lo, hi = (i * BATCH) % n_docs, (i * BATCH) % n_docs + BATCH
            if i > 1:
                plo = ((i - 1) * BATCH) % n_docs
                dels = docs.where(
                    (F.col("doc_id") >= plo)
                    & (F.col("doc_id") < plo + BATCH)).select(
                    "doc_id").withColumn(
                    "doc_id", F.col("doc_id") + (i - 1) * 1_000_000)
            else:
                dels = docs.limit(0).select("doc_id")
            ins = docs.where((F.col("doc_id") >= lo)
                             & (F.col("doc_id") < hi)).withColumn(
                "doc_id", F.col("doc_id") + i * 1_000_000)
            V.delete_and_append(spark, tsrc, dels, "doc_id", ins)

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
            return docs.limit(BATCH).select(
                (F.col("doc_id") + 900_000_000_000 + j * 10_000)
                .alias("doc_id"), "text")

        out["text_index"] = _endure(
            spark, tsrc, tidx, TEXT_CYCLES, t_churn, t_query, t_check,
            ingest_batch=t_ingest if CONCURRENT else None)

        # ------------- ann index (bucketed at rest) -------------
        asrc = os.path.join(tmp, "asrc")
        aidx = os.path.join(tmp, "aidx")
        V.create(spark, asrc, embs)
        AI.create_ann_index(spark, asrc, aidx, key="vec_id",
                            n_planes=4)
        AI.convert_index_to_bucketed(spark, aidx, n_buckets=16)
        n_embs = embs.count()

        def a_churn(i: int) -> None:
            lo, hi = (i * BATCH) % n_embs, (i * BATCH) % n_embs + BATCH
            if i > 1:
                plo = ((i - 1) * BATCH) % n_embs
                dels = embs.where(
                    (F.col("vec_id") >= plo)
                    & (F.col("vec_id") < plo + BATCH)).select(
                    "vec_id").withColumn(
                    "vec_id", F.col("vec_id") + (i - 1) * 1_000_000)
            else:
                dels = embs.limit(0).select("vec_id")
            ins = embs.where((F.col("vec_id") >= lo)
                             & (F.col("vec_id") < hi)).withColumn(
                "vec_id", F.col("vec_id") + i * 1_000_000)
            V.delete_and_append(spark, asrc, dels, "vec_id", ins)

        def a_query() -> None:
            AI.query_ann_index(spark, aidx, QV, k=10,
                               n_probe_bits=1).collect()

        def a_check() -> None:
            from rclip_server_spark.operators.ann import (
                hyperplane_bucket_col, hyperplanes)

            cur = V.read(spark, asrc)
            planes = hyperplanes(4, 64, 42)
            want = cur.select(
                hyperplane_bucket_col(F.col("embedding"), planes)
                .alias("bucket"), "vec_id")
            got = AI.read_ann_index(spark, aidx).select("bucket",
                                                        "vec_id")
            assert got.exceptAll(want).count() == 0 \
                and want.exceptAll(got).count() == 0, \
                "ann buckets diverged from rebuild"

        def a_ingest(j: int):
            return embs.limit(BATCH).select(
                (F.col("vec_id") + 900_000_000_000 + j * 10_000)
                .alias("vec_id"), "embedding")

        out["ann_index_bucketed"] = _endure(
            spark, asrc, aidx, ANN_CYCLES, a_churn, a_query, a_check,
            ingest_batch=a_ingest if CONCURRENT else None)

        # ------------- ivf index (bucketed at rest, r13) -------------
        from rclip_server_spark.sources import indexkind as IK
        from rclip_server_spark.sources import ivfindex as II

        isrc = os.path.join(tmp, "isrc")
        iidx = os.path.join(tmp, "iidx")
        V.create(spark, isrc, embs)
        II.create_ivf_index(spark, isrc, iidx, key="vec_id",
                            n_cells=8, iters=2)
        II.convert_index_to_bucketed(spark, iidx, n_buckets=8)

        def i_churn(i: int) -> None:
            lo, hi = (i * BATCH) % n_embs, (i * BATCH) % n_embs + BATCH
            if i > 1:
                plo = ((i - 1) * BATCH) % n_embs
                dels = embs.where(
                    (F.col("vec_id") >= plo)
                    & (F.col("vec_id") < plo + BATCH)).select(
                    "vec_id").withColumn(
                    "vec_id", F.col("vec_id") + (i - 1) * 1_000_000)
            else:
                dels = embs.limit(0).select("vec_id")
            ins = embs.where((F.col("vec_id") >= lo)
                             & (F.col("vec_id") < hi)).withColumn(
                "vec_id", F.col("vec_id") + i * 1_000_000)
            V.delete_and_append(spark, isrc, dels, "vec_id", ins)

        def i_query() -> None:
            II.query_ivf_index(spark, iidx, QV, k=10,
                               n_probe=2).collect()

        def i_check() -> None:
            from rclip_server_spark.operators.ann import ivf_assign

            cur = V.read(spark, isrc)
            cents = II._centroids(IK.spec_of("ivf_index", iidx))
            want = ivf_assign(cur, cents).select("ivf_cell", "vec_id")
            got = II.read_ivf_index(spark, iidx).select("ivf_cell",
                                                        "vec_id")
            assert got.exceptAll(want).count() == 0 \
                and want.exceptAll(got).count() == 0, \
                "ivf cells diverged from rebuild"

        out["ivf_index_bucketed"] = _endure(
            spark, isrc, iidx, ANN_CYCLES, i_churn, i_query, i_check,
            ingest_batch=a_ingest if CONCURRENT else None)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"metric": "index_endurance_proof",
                      "concurrent_ingest": CONCURRENT,
                      "sf_dir": SF_DIR, "batch": BATCH,
                      "compact_threshold": COMPACT_THRESHOLD,
                      "vacuum_every": VACUUM_EVERY,
                      "results": out}))


if __name__ == "__main__":
    main()
