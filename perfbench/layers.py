"""Per-layer metrics of a traced run.

Layers are named by module. Times are medians per operation (or per
span, where a layer runs several times in one operation); counts are
means per operation, because several layers (point lookups, image-id
terms) run in only a share of the operations and their median count
would read 0.
"""

from __future__ import annotations

from collections import defaultdict

from .tracing import covered_ms, mean, percentile, self_ms, status_by_group


def per_layer(spark, tracer, wl, results: list, calib: list) -> tuple[dict, dict]:
    sc = spark.sparkContext
    status = status_by_group(sc)
    ops = tracer.ops
    fg_ids = [r["op"] for r in results
              if r["kind"] in wl.foreground and not r["err"] and r["traced"]]
    by_op: dict[str, list] = defaultdict(list)
    kids: dict[int, list] = defaultdict(list)
    for sp in tracer.spans:
        by_op[sp["op"]].append(sp)
        if sp["parent"] is not None:
            kids[sp["parent"]].append(sp)

    def dur(sp):
        return sp["end_ms"] - sp["start_ms"]

    def per_op_sum(names):
        """Summed span time, per foreground operation that ran the layer."""
        out = []
        for o in fg_ids:
            xs = [dur(s) for s in by_op[o] if s["name"] in names]
            if xs:
                out.append(sum(xs))
        return out

    def per_op_count(names):
        return [sum(s["name"] in names for s in by_op[o]) for o in fg_ids]

    fg_set = set(fg_ids)

    def spans(name, in_setup=False):
        """Spans of foreground operations (or of set-up operations too)."""
        return [s for s in tracer.spans
                if s["name"] == name and (in_setup or s["op"] in fg_set)]

    def uncovered(o):
        """Operation wall time not covered by any of its Spark jobs."""
        rec = ops[o]
        iv = status.get(o, {}).get("intervals", [])
        wall = rec["end_epoch_ms"] - rec["start_epoch_ms"]
        return wall - covered_ms(iv, rec["start_epoch_ms"], rec["end_epoch_ms"])

    writes = [o for o, r in ops.items() if r["kind"] in ("merge", "delete")]
    refreshes = [o for o, r in ops.items() if r["kind"] == "refresh"]
    api = spans("api.search_api")
    api_self = [self_ms(s, kids[s["id"]]) for s in api]
    plan = [ops[o].get("plan", {}) for o in fg_ids]
    idx_ops = [ops[o]["plan"] for o in fg_ids
               if any(s["name"] == "index.query_build" for s in by_op[o])]
    st = [status.get(o, {}) for o in fg_ids]
    storage = sc._jsc.sc().getRDDStorageInfo()
    blocks = sum(int(storage[i].numCachedPartitions()) for i in range(len(storage)))

    m = {
        "api.self_ms": percentile(api_self),
        "plans.parse_ms": percentile(per_op_sum({"plans.parse"})),
        "plans.resolve_ms": percentile(per_op_sum({"plans.resolve"})),
        "plans.embed_calls": mean(per_op_count({"plans.embed"})),
        "writer.parquet_opens": mean(per_op_count({"writer.parquet_open"})),
        "writer.parquet_open_ms": percentile(per_op_sum({"writer.parquet_open"})),
        "similarity.point_lookups": mean(per_op_count({"similarity.point_lookup"})),
        "similarity.point_lookup_ms": percentile(dur(s) for s in spans("similarity.point_lookup")),
        "similarity.topk_ms": percentile(per_op_sum({"similarity.topk",
                                                 "similarity.topk_collect"})),
        "sql.statement_ms": percentile(per_op_sum({"sql.statement"})),
        "index.query_build_ms": percentile(dur(s) for s in spans("index.query_build")),
        "index.files_scanned": mean(p["index_files"] for p in idx_ops),
        "index.rows_scanned": mean(p["index_rows"] for p in idx_ops),
        "versioned.commit_files": mean(ops[o].get("commit_files", 0) for o in writes),
        "versioned.commit_bytes": mean(ops[o].get("commit_bytes", 0) for o in writes),
        "versioned.commit_driver_ms": percentile(uncovered(o) for o in writes),
        "matview.refresh_jobs": mean(status.get(o, {}).get("jobs", 0) for o in refreshes),
        "matview.refresh_driver_ms": percentile(uncovered(o) for o in refreshes),
        "writer.upsert_ms": percentile(dur(s) for s in spans("writer.upsert", in_setup=True)),
        "dedup.cached_blocks_left": float(blocks),
        "catalyst.analysis_ms": percentile(p.get("analysis_ms", 0.0) for p in plan),
        "catalyst.optimization_ms": percentile(p.get("optimization_ms", 0.0) for p in plan),
        "catalyst.planning_ms": percentile(p.get("planning_ms", 0.0) for p in plan),
        "spark.driver_gap_ms": percentile(uncovered(o) for o in fg_ids),
        "host.calib_ms": percentile(calib),
    }
    for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
              "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "sched_wait_ms"):
        m["spark." + k] = percentile(s.get(k, 0) for s in st)
    units = {"_ms": "ms", "_bytes": "bytes"}
    out = {k: {"value": float(v), "unit": next((u for s, u in units.items() if k.endswith(s)),
                                                "count")} for k, v in m.items()}
    wall = [ops[o]["end_ms"] - ops[o]["start_ms"] for o in fg_ids]
    info = {
        "spans": len(tracer.spans), "ops": len(ops),
        "api_uncovered_share": percentile(a / dur(s) for a, s in zip(api_self, api) if dur(s) > 0),
        "op_wall_p50_ms": percentile(wall),
        "status_groups": len(status),
    }
    return out, info
