"""Operation ids, run-time layer spans and the Spark status-store join.

Every operation the benchmark issues gets an id that is also its Spark
job group, in traced and untraced runs alike. In a traced run the
public functions of the layer modules are wrapped at run time (no
source edits): each call of a traced operation becomes a span with a
name, start, end, parent and operation id. Set-up and writer operations
are all traced; window requests by a fixed coin flip per sequence
number, so the untraced half, run through the same wrappers in the same
window, gives the tracing overhead. Spans stay in memory and are
written out when the run ends; the status store's jobs and stages are
then joined onto the operations through the job group.
"""

from __future__ import annotations

import importlib
import itertools
import json
import random
import sys
import threading
import time
from contextlib import contextmanager

import numpy as np

# (module, attribute, span name); "Class.method" patches the class
WRAPPED = [
    ("rclip_server_spark.api", "RclipServerApi.search_api", "api.search_api"),
    ("rclip_server_spark.plans.parser", "parse_query", "plans.parse"),
    ("rclip_server_spark.plans.combinator", "resolve_query", "plans.resolve"),
    ("rclip_server_spark.plans.embedder", "DeterministicEmbedder.embed_text", "plans.embed"),
    ("rclip_server_spark.operators.similarity", "point_lookup_embedding", "similarity.point_lookup"),
    ("rclip_server_spark.operators.similarity", "random_row_embedding", "similarity.point_lookup"),
    ("rclip_server_spark.operators.similarity", "topk_similar", "similarity.topk"),
    ("rclip_server_spark.sql", "execute", "sql.statement"),
    ("rclip_server_spark.sources.annindex", "query_ann_index", "index.query_build"),
    ("rclip_server_spark.sources.ivfindex", "query_ivf_index", "index.query_build"),
    ("rclip_server_spark.sources.textindex", "query_text_index", "index.query_build"),
    ("rclip_server_spark.sources.writer", "upsert_parquet", "writer.upsert"),
    ("pyspark.sql.readwriter", "DataFrameReader.parquet", "writer.parquet_open"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "df.collect"),
]
# layers whose returned DataFrames have their plans read (_plan_facts);
# a collect of a topk_similar frame is its own span, similarity.topk_collect
_DF_LAYERS = ("similarity.topk", "index.query_build", "sql.statement")


class Tracer:
    """Operations always; spans of traced operations while ``enabled``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self.ops: dict[str, dict] = {}
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patched: list[tuple] = []
        self.t0 = time.perf_counter()

    def _now_ms(self) -> float:
        return (time.perf_counter() - self.t0) * 1e3

    # -- operations ---------------------------------------------------
    @staticmethod
    def sampled(i: int) -> bool:
        """Whether window request ``i`` is traced: a coin flip fixed by
        the sequence number and independent of the request's shape, so
        both halves see the same mix at the same point of the warm-up."""
        return random.Random(i).random() < 0.5

    @contextmanager
    def op(self, kind: str, sampled: bool = True):
        """One user-visible operation: a request, a statement, a batch
        stage. Yields the record the caller may annotate."""
        oid = f"op-{next(self._ids)}"
        rec = {"id": oid, "kind": kind, "dfs": [], "traced": self.enabled and sampled}
        self.sc.setJobGroup(oid, kind, False)
        self._tls.op = rec
        self._tls.stack = []
        rec["start_ms"], rec["start_epoch_ms"] = self._now_ms(), time.time() * 1e3
        try:
            yield rec
        finally:
            rec["end_ms"], rec["end_epoch_ms"] = self._now_ms(), time.time() * 1e3
            self._tls.op = None
            with self._lock:
                self.ops[oid] = rec
            if rec["traced"]:
                self._plan_facts(rec)
            rec.pop("dfs", None)

    @contextmanager
    def span(self, name: str):
        rec = getattr(self._tls, "op", None)
        if rec is None or not rec["traced"]:
            yield None
            return
        stack = self._tls.stack
        sp = {"id": next(self._ids), "op": rec["id"], "name": name,
              "parent": stack[-1]["id"] if stack else None,
              "start_ms": self._now_ms()}
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp["end_ms"] = self._now_ms()
            with self._lock:
                self.spans.append(sp)

    # -- run-time wrapping ----------------------------------------------
    def _wrapper(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            rec = getattr(tracer._tls, "op", None)
            if rec is None or not rec["traced"]:
                return fn(*args, **kwargs)
            span_name = name
            if name == "df.collect" and getattr(args[0], "_perfbench_layer", "") == \
                    "similarity.topk":
                span_name = "similarity.topk_collect"
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            if name in _DF_LAYERS and hasattr(out, "_jdf"):
                try:
                    out._perfbench_layer = name
                except AttributeError:
                    pass
                rec["dfs"].append((name, out))
            return out

        traced.__wrapped__ = fn
        return traced

    def set(self, on: bool) -> None:
        """Turn spans (and the run-time wrapping) on or off."""
        if on and not self._patched:
            self.install()
        elif not on:
            self.uninstall()
        self.enabled = on

    def install(self) -> None:
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner, leaf = mod, attr
            if "." in attr:
                cls, leaf = attr.split(".")
                owner = getattr(mod, cls)
            orig = getattr(owner, leaf)
            wrapped = self._wrapper(orig, name)
            targets = [(owner, leaf)]
            if owner is mod:
                # names imported with ``from x import f`` elsewhere
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("rclip_server_spark"):
                        for k, v in list(vars(m).items()):
                            if v is orig and (m, k) not in targets:
                                targets.append((m, k))
            for o, k in targets:
                setattr(o, k, wrapped)
                self._patched.append((o, k, orig))

    def uninstall(self) -> None:
        for o, k, orig in reversed(self._patched):
            setattr(o, k, orig)
        self._patched.clear()

    # -- per-operation plan facts (traced run only) ------------------------
    def _plan_facts(self, rec: dict) -> None:
        """Catalyst phase times and scan-node SQL metrics of the
        DataFrames the wrapped calls returned; read after the operation
        ended so they add nothing to its wall time."""
        facts = {"analysis_ms": 0.0, "optimization_ms": 0.0, "planning_ms": 0.0,
                 "index_files": 0, "index_rows": 0}
        seen = set()
        for name, df in rec["dfs"]:
            if id(df) in seen:
                continue
            seen.add(id(df))
            try:
                qe = df._jdf.queryExecution()
                ph = qe.tracker().phases()
                for p in ("analysis", "optimization", "planning"):
                    o = ph.get(p)
                    if o.isDefined():
                        facts[p + "_ms"] += float(o.get().durationMs())
                if name == "sql.statement":
                    # the index frame is spliced into the statement as a
                    # temp view; the statement's frame is the one executed
                    f, r = _scan_metrics(qe.executedPlan())
                    facts["index_files"] += f
                    facts["index_rows"] += r
            except Exception as e:  # a plan that never executed has no phases
                facts.setdefault("errors", []).append(type(e).__name__)
        rec["plan"] = facts

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def _scan_metrics(plan) -> tuple[int, int]:
    files = rows = 0
    stack = [plan]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        if cls == "FileSourceScanExec":
            m = n.metrics()
            files += int(m.get("numFiles").get().value())
            rows += int(m.get("numOutputRows").get().value())
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return files, rows


# -- status store ------------------------------------------------------
def _scala_json(sc, obj) -> list:
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    return json.loads(mapper.writeValueAsString(obj))


def _ms(ts) -> float | None:
    """Status-store dates arrive as epoch ms or ISO strings."""
    if ts is None:
        return None
    if isinstance(ts, (int, float)):
        return float(ts)
    from datetime import datetime
    return datetime.fromisoformat(ts.replace("GMT", "+00:00")).timestamp() * 1e3


def status_by_group(sc) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor run/CPU/GC time,
    bytes in/shuffled/spilled, the job intervals (epoch ms) and the
    submission-to-first-task wait."""
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    jobs = _scala_json(sc, store.jobsList(None))
    stages = _scala_json(sc, store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), None))
    by_stage = {}
    for s in stages:
        by_stage.setdefault(s["stageId"], []).append(s)
    out: dict[str, dict] = {}
    for j in jobs:
        g = j.get("jobGroup")
        if not g:
            continue
        agg = out.setdefault(g, {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0.0,
                                 "executor_cpu_ms": 0.0, "gc_ms": 0.0, "input_bytes": 0,
                                 "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                                 "spill_bytes": 0, "sched_wait_ms": 0.0, "intervals": []})
        agg["jobs"] += 1
        sub, end = _ms(j.get("submissionTime")), _ms(j.get("completionTime"))
        if sub is not None and end is not None:
            agg["intervals"].append((sub, end))
        first_launch = None
        for sid in j.get("stageIds", []):
            for s in by_stage.get(sid, []):
                if s.get("status") == "SKIPPED":
                    continue
                agg["stages"] += 1
                agg["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                agg["executor_run_ms"] += s.get("executorRunTime", 0)
                agg["executor_cpu_ms"] += s.get("executorCpuTime", 0) / 1e6
                agg["gc_ms"] += s.get("jvmGcTime", 0)
                agg["input_bytes"] += s.get("inputBytes", 0)
                agg["shuffle_read_bytes"] += (s.get("shuffleRemoteBytesRead", 0)
                                              + s.get("shuffleLocalBytesRead", 0))
                agg["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                agg["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                fl = _ms(s.get("firstTaskLaunchedTime"))
                if fl is not None:
                    first_launch = fl if first_launch is None else min(first_launch, fl)
        if sub is not None and first_launch is not None:
            agg["sched_wait_ms"] += max(first_launch - sub, 0.0)
    return out


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


def self_ms(span: dict, children: list[dict]) -> float:
    """Span duration minus the part its direct children cover."""
    return (span["end_ms"] - span["start_ms"]) - covered_ms(
        [(c["start_ms"], c["end_ms"]) for c in children], span["start_ms"], span["end_ms"])


def percentile(xs, q: float = 50) -> float:
    """The one quantile helper of the benchmark; 0.0 for no samples."""
    xs = list(xs)
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return float(np.mean(xs)) if xs else 0.0
