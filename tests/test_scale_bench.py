"""The scale-proof registry (tools/scale_bench.py): its CLI envelope, the
citations of its proof names in the docs, and (slow tier) every proof
passing its exactness asserts at smoke scale."""

import glob
import json
import os
import re
import subprocess
import sys

import pytest

from conftest import SF_DIR
from tools.scale_bench import PROOFS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

# the living docs; the round logs (SURVEY, VERDICT, OPTIMIZATION_r1*,
# CHANGES) keep the script paths of their time
DOCS = ("README.md", "BASELINE.md", "ROADMAP.md", "PLANS.md")
CITED = re.compile(r"tools/scale_bench\.py\s+(?:--cores\s+\d+\s+\d+\s+)?"
                   r"([A-Za-z_][\w-]*)")
FOLDED = re.compile(r"tools/(?:\w+_scale_proof|index_endurance_proof|"
                    r"scale_sweep|fraction_crossover)\.py")


def _read(paths):
    return {os.path.relpath(p, ROOT): open(p, encoding="utf-8").read()
            for p in paths}


def test_clone_proof_through_main_prints_the_envelope():
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "scale_bench.py"),
         "clone", SF01, "1", "2"],
        env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert list(out) == ["proof", "sf_dir", "params", "results"]
    assert (out["proof"], out["sf_dir"], out["params"]) == ("clone", SF01, {})
    assert list(out["results"]) == ["1x", "2x"]
    for row in out["results"].values():
        assert set(row) == {"rows", "clone_sec", "first_read_sec",
                            "vacuum_with_clone_sec"}
    # the standalone clone proof printed these counts for this fixture
    assert [row["rows"] for row in out["results"].values()] == [9896, 19793]


def test_docs_cite_only_registered_proofs():
    citing = _read([os.path.join(ROOT, f)
                    for f in ("BASELINE.md", "README.md", "bench.py")]
                   + glob.glob(os.path.join(ROOT, "rclip_server_spark",
                                            "**", "*.py"), recursive=True))
    cited = {n for text in citing.values() for n in CITED.findall(text)}
    assert cited, "no tools/scale_bench.py <proof> citation found"
    assert cited <= set(PROOFS), cited - set(PROOFS)
    living = _read(glob.glob(os.path.join(ROOT, "**", "*.py"),
                             recursive=True)
                   + [os.path.join(ROOT, d) for d in DOCS])
    stale = [f"{path}: {m}" for path, text in living.items()
             for m in FOLDED.findall(text)]
    assert stale == []


@pytest.mark.parametrize("name", sorted(PROOFS))
def test_every_proof_passes_at_smoke_scale(spark, tmp_path, name):
    fn, _, _ = PROOFS[name]
    sizes = [10, 10] if name.startswith("endurance") else [1, 2]
    out = fn(spark, SF01, sizes, str(tmp_path))
    assert set(out) == {"params", "results"}
    if not name.startswith("endurance"):
        assert list(out["results"]) == ["1x", "2x"]
