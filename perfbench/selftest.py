"""``run.py --self-test``: every workload at toy sizes in one session.

Checks that each run emits exactly the metrics BENCHMARK.json names,
with their units (end-to-end and per-layer), that the seed code's
answers pass, and that each checker rejects a deliberately corrupted
answer.
"""

from __future__ import annotations

import copy
import json
import os

import numpy as np

from .workloads import WORKLOADS


def _units(ms: dict) -> dict:
    return {k: v["unit"] for k, v in ms.items()}


def _rejects(wl, results: list, kind: str, corrupt) -> bool:
    """A copy of the first good ``kind`` answer, corrupted, must fail."""
    good = next(r for r in results if r["kind"] == kind and not r["err"])
    bad = copy.deepcopy(good)
    corrupt(bad["out"])
    wl.verify([bad])
    return bool(bad["err"])


def _check_fails(wl, check, *args) -> bool:
    """A whole-run check given a wrong count or model must record a failure."""
    wl.failed_checks.clear()
    check(*args)
    return bool(wl.failed_checks)


def _first_id_unknown(out) -> None:
    rows = out["rows"] if isinstance(out, dict) else out
    rows[0][0] = -1


def self_test(spark, work: str, session_s: float, run_workload) -> int:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        spec = json.load(f)
    want_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    report: dict = {}
    ok = True
    for name in WORKLOADS:
        out = run_workload(spark, name, 5, 2.0, True, "tiny", work, session_s)
        wl, results = out["wl"], out["results"]
        e2e = out["detail"]["end_to_end_traced"]
        rep = {"correct": out["result"]["correct"],
               "errors": out["detail"]["errors"],
               "end_to_end_units_match": _units(e2e) == want_e2e,
               "per_layer_units_match": _units(out["result"]["metrics"]) == want_layer,
               "values_finite": all(np.isfinite(v["value"]) for v in
                                    [*e2e.values(), *out["result"]["metrics"].values()])}
        if name == "search_scan":
            def shift(rows):
                rows[0][1] += 0.01
            rep["rejects_wrong_score"] = _rejects(wl, results, "search_api", shift)
            rep["rejects_unknown_id"] = _rejects(wl, results, "search_api", _first_id_unknown)
            n = len(wl.ids)
            rep["rejects_index_count"] = _check_fails(wl, wl.check_indexed, n, n, n + 1)
        else:
            for kind in ("ann", "ivf", "text"):
                rep[f"rejects_{kind}"] = _rejects(wl, results, kind, _first_id_unknown)
            for kind in ("ann", "ivf"):
                rep[f"rejects_short_{kind}"] = _rejects(
                    wl, results, kind, lambda out: out["rows"].pop())
            rep["rejects_curate_count"] = _check_fails(
                wl, wl.check_curated, wl.curated, wl.curated - 1)
            wl.model[max(wl.model) + 1] = np.zeros(1, np.float32)
            rep["rejects_table_model"] = _check_fails(wl, wl.check_table)
        ok &= all(v for k, v in rep.items() if k != "errors")
        report[name] = rep
    print(json.dumps({"self_test": "pass" if ok else "FAIL", **report}))
    return 0 if ok else 1
