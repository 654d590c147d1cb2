"""Cross-PROCESS maintained-view refresh safety: two INDEPENDENT Spark
processes (own JVMs, no shared state beyond the directories) append to
one source table and refresh the SAME agg view concurrently. The view
commit and the cursor advance ride the os.link-arbitrated commit
protocol, so a racing refresher loses with ConcurrentWriteError and its
retry re-reads the now-advanced cursor — applying only the REMAINING
interval, never a double-application. The assertion is end-state
exactness: after both processes finish (plus one driver-side catch-up
refresh), the view must equal a from-scratch groupBy of the source —
any lost update, double-applied delta, or cursor tear shows up as a
count/sum mismatch. In-process contention is covered in
test_write_and_streaming; this is the many-writers shape a 100 TB
deployment actually runs."""

import multiprocessing as mp
import os

from pyspark.sql import functions as F

from rclip_server_spark.sources import matview as MV
from rclip_server_spark.sources import versioned as V

N_PROCS = 2
ROUNDS = 3
ROWS_PER_BATCH = 100


def _refresher(src: str, view: str, worker_id: int, n_rounds: int,
               q, barrier) -> None:
    """One maintainer process: its own SparkSession; per round, append
    a disjoint batch to the shared source and refresh the shared view
    under the OCC retry loop."""
    try:
        from pyspark.sql import functions as F
        from rclip_server_spark.session import get_spark
        from rclip_server_spark.sources import matview as MV
        from rclip_server_spark.sources import versioned as V

        spark = get_spark(app_name=f"xproc_refresh_{worker_id}", cpus=4)
        for i in range(n_rounds):
            # align the rounds across processes: JVM startup skew
            # would otherwise serialize them and the OCC paths would
            # never actually collide
            barrier.wait(timeout=300)
            batch = spark.range(ROWS_PER_BATCH).select(
                (F.col("id") + worker_id * 1_000_000 + i * 1_000)
                .alias("k"),
                F.lit(worker_id).cast("long").alias("g"),
                (F.col("id") % 7).cast("long").alias("v"))
            # plain append reads head then commits head+1; a racing
            # appender's commit loses with ConcurrentWriteError and
            # rebases (appends are order-independent, so the retry is
            # a plain re-run)
            for _ in range(100):
                try:
                    V.append(spark, src, batch)
                    break
                except V.ConcurrentWriteError:
                    continue
            else:
                raise RuntimeError("append rebase loop exhausted")
            MV.refresh_view(spark, view, max_retries=20)
        spark.stop()
        q.put(("ok", worker_id))
    except Exception as e:  # pragma: no cover - failure reporting
        import traceback
        q.put(("err", f"{type(e).__name__}: {e}\n"
                      f"{traceback.format_exc()}"))


def test_cross_process_refresh_is_exact(spark, tmp_path):
    src = str(tmp_path / "xsrc")
    view = str(tmp_path / "xview")
    seed = spark.range(50).select(
        F.col("id").alias("k"),
        (F.col("id") % 3 + 100).cast("long").alias("g"),
        (F.col("id") % 5).cast("long").alias("v"))
    V.create(spark, src, seed)
    MV.create_agg_view(spark, src, view, key="k", group_cols=["g"],
                       sum_cols=["v"])

    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    barrier = ctx.Barrier(N_PROCS)
    procs = [ctx.Process(target=_refresher,
                         args=(src, view, w, ROUNDS, q, barrier))
             for w in range(N_PROCS)]
    for p in procs:
        p.start()
    results = [q.get(timeout=600) for _ in range(N_PROCS)]
    for p in procs:
        p.join(timeout=120)
    assert all(r[0] == "ok" for r in results), results

    # driver-side catch-up: the last refresher to commit may not have
    # seen the other's final append (append-then-refresh is not one
    # atomic step); ONE more refresh must land on the head exactly
    MV.refresh_view(spark, view, max_retries=20)

    got = {(r["g"], r["cnt"], r["sum_v"]) for r in
           MV.read_agg_view(spark, view)
           .select("g", F.col("cnt").cast("long").alias("cnt"),
                   F.col("sum_v").cast("long").alias("sum_v"))
           .collect()}
    want = {(r["g"], r["cnt"], r["sum_v"]) for r in
            V.read(spark, src).groupBy("g")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("v").alias("sum_v")).collect()}
    assert got == want, (sorted(got), sorted(want))
    # every batch landed: gapless history, no lost source commit
    assert V.table_row_count(src) == 50 + N_PROCS * ROUNDS * ROWS_PER_BATCH
    hist = V.history(src)
    assert [h["version"] for h in hist] == list(range(1, len(hist) + 1))
