"""Request-level benchmark of the engine (see perfbench/README.md).

    python3 perfbench/run.py --workload search_scan --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The last stdout line is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``); the line before
it is the run's detail record (sample counts, input properties,
contention evidence, workload-specific metrics, absent layer metrics). All
scratch files live under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
from perfbench.tracing import percentile  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

ABSENT = {
    "multimodal.udf_ms": "Spark's Arrow-UDF plan nodes (ArrowEvalPython, MapInPandas) expose "
                         "only row and byte counts as SQL metrics, no time; the UDF time is "
                         "inside executor_run_ms of the index_images stages",
}


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    os.makedirs(work, exist_ok=True)
    for k in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[k] = work
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ.pop("SPARK_CONF_DIR", None)


def _start_spark(work: str, cpus: int):
    from rclip_server_spark.session import get_spark
    return get_spark(app_name="perfbench", cpus=cpus, extra_conf={
        # a committed, pre-touched heap: the JVM's RSS no longer depends
        # on when G1 decided to grow, so peak_rss_mb moves with what the
        # engine holds off-heap, in metaspace/code cache and in Python.
        # One C1 and one C2 compiler thread: every query vector is a new
        # literal, so every request brings new generated classes to
        # compile, and the JVM's default two C2 threads kept ~1.5 of the
        # 4 cores busy, competing with the requests (README: JIT)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData "
                                         "-Xms1g -XX:+AlwaysPreTouch -XX:CICompilerCount=2",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "40000",
        "spark.sql.ui.retainedExecutions": "200",
    })


def _stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus its JVM (``psutil`` is not
    available; /proc VmHWM is the kernel's high-water mark)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return _hwm_mb("self") + (_hwm_mb(proc.pid) if proc is not None else 0.0)


def calib_ms(spark) -> float:
    """A fixed trivial Spark job, run outside every timed window."""
    t = time.perf_counter()
    spark.range(0, 2_000_000, numPartitions=4).selectExpr("sum(id * 7 % 13) AS s").collect()
    return (time.perf_counter() - t) * 1e3


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def latency(xs) -> dict:
    p75 = percentile(xs, 75)
    return {"samples": len(xs), "p50": percentile(xs, 50), "p75": p75,
            "beyond_p75": sum(x > p75 for x in xs), "p90": percentile(xs, 90)}


def end_to_end(setup: dict, fg: list, elapsed: float, rss: float) -> dict:
    """``fg``: latencies (ms) of the window's good foreground operations."""
    return {
        "setup_s": {"value": setup["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
        "p50_ms": {"value": percentile(fg, 50), "unit": "ms"},
        "p75_ms": {"value": percentile(fg, 75), "unit": "ms"},
        "ops_per_s": {"value": len(fg) / elapsed, "unit": "1/s"},
    }


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 size: str, work: str, session_s: float) -> dict:
    from perfbench import layers
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    calib = [calib_ms(spark) for _ in range(3)]
    load = {"start": loadavg()}
    tracer = Tracer(spark)
    ctx = Ctx(spark, tracer, work, seed, seconds, size)
    wl = WORKLOADS[name](ctx)
    # a traced run traces set-up too: the batch pipelines run there
    tracer.set(trace)
    setup = wl.setup()
    setup["session_s"] = session_s
    setup["setup_s"] = session_s + percentile(setup["build_s"]) + setup["warm_s"]
    detail: dict = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
                    "size": size, "setup": setup}

    def fg_ms(res):
        return [r["ms"] for r in res if r["kind"] in wl.foreground and not r["err"]]

    try:
        results, elapsed = wl.run()
    finally:
        tracer.set(False)
    wl.verify(results)
    calib += [calib_ms(spark) for _ in range(3)]
    load["end"] = loadavg()
    rss = peak_rss_mb(spark)

    errors = [r["err"] for r in results if r["err"]]
    write_errors = getattr(wl, "write_errors", [])
    attempted = len(results) + len(getattr(wl, "writes", []))
    failed = len(errors) + len(write_errors) + len(wl.failed_checks)
    fg = fg_ms(results)
    detail.update({
        "latency": latency(fg), "elapsed_s": elapsed, "attempted": attempted,
        "failed": failed, "failure_share": failed / max(attempted, 1),
        "errors": (errors + write_errors + wl.failed_checks)[:5],
        "inputs": wl.props, "metrics": wl.extra, "host": {
            "calib_ms": calib, "loadavg": load, "cpus": os.cpu_count()},
    })
    metrics = end_to_end(setup, fg, elapsed, rss)
    if trace:
        detail["end_to_end_traced"] = metrics
        metrics, info = layers.per_layer(spark, tracer, wl, results, calib)
        half = {t: percentile(fg_ms([r for r in results if r["traced"] == t]))
                for t in (True, False)}
        info.update({"traced_p50_ms": half[True], "untraced_p50_ms": half[False],
                     "tracing_overhead_ms": half[True] - half[False]})
        detail["layers"] = info
        detail["absent"] = ABSENT
        tracer.write(os.path.join(WORK_ROOT, f"spans-{name}-{seed}.jsonl"))
    return {"detail": detail, "wl": wl, "results": results, "result": {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["search_scan", "ingest_mixed"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="every workload at toy sizes, metric names/units checked, "
                         "each checker shown to reject a corrupted answer")
    args = ap.parse_args(argv)
    if not args.self_test and not args.workload:
        ap.error("--workload is required")

    if importlib.util.find_spec("rclip_server_spark") is None:
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    _prepare_env(work)

    t = time.perf_counter()
    spark = _start_spark(work, len(os.sched_getaffinity(0)))
    calib_ms(spark)  # the JVM's first job pays one-off class loading and JIT
    session_s = time.perf_counter() - t
    try:
        if args.self_test:
            from perfbench.selftest import self_test
            return self_test(spark, work, session_s, run_workload)
        out = run_workload(spark, args.workload, args.seed, args.seconds,
                           bool(args.trace), "full", work, session_s)
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["detail"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
