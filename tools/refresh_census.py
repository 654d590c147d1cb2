"""Census of the work each statement of the benchmarked write path does.

Runs the ``ingest_mixed`` set-up statements (perfbench/workloads.py:
the ``images`` and ``docs`` tables, the ``ai`` ANN and ``ii`` IVF
indexes with ``buckets=4``, the ``ti`` text index) and then two writer
cycles of MERGE INTO images, DELETE FROM images and REFRESH
MATERIALIZED VIEW ai, on a temporary warehouse. The inputs come from
perfbench/gen.py with a fixed seed; the text index reads the generated
documents directly (the benchmark curates them first, which runs no
view code).

Prints one JSON line per statement:

* ``plans``: a hash of the normalized optimized plans of the DataFrames
  handed to the versioned commit verbs (expression ids, exchange plan
  ids, the temporary warehouse path and the random segment and
  delete-vector names removed), and ``n_plans``, how many there were;
* ``jobs``: the Spark jobs the statement ran;
* ``manifest_calls``: the calls to ``versioned._manifest`` (a manifest
  read from disk) the statement made.

Two checkouts do the same work on this path when every line matches.

Usage: python tools/refresh_census.py [--seed N] [--plans]
       (``--plans`` also prints the normalized plans)
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_VERBS = ("create", "overwrite", "append", "delete_and_append",
          "delete_rows", "upsert", "create_bucketed",
          "convert_to_bucketed", "upsert_bucketed")


def _normalize(plan: str, work: str) -> str:
    plan = plan.replace(work, "<work>")
    plan = re.sub(r"#\d+L?", "#", plan)
    # an InMemoryRelation prints its cached physical plan, whose
    # exchanges carry ids from a process-wide counter, whose value at
    # caching time differs between two runs of one checkout
    plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=#]", plan)
    # segment and delete-vector directories carry random names
    return re.sub(r"\b(seg|del)-z?[0-9a-f]{12}\b", r"\1-<id>", plan)


class _Census:
    """Counts commit-verb plans, jobs and manifest reads per statement."""

    def __init__(self, spark, work: str):
        from rclip_server_spark.sources import versioned as V

        self.spark, self.work = spark, work
        self.plans: list[str] = []
        self.manifest_calls = 0
        self.depth = 0
        manifest = V._manifest

        def counted(*a, **k):
            self.manifest_calls += 1
            return manifest(*a, **k)

        V._manifest = counted
        for name in _VERBS:
            setattr(V, name, self._wrap(getattr(V, name)))

    def _wrap(self, verb):
        from pyspark.sql import DataFrame

        @functools.wraps(verb)
        def commit(*args, **kwargs):
            if self.depth == 0:
                for x in list(args) + list(kwargs.values()):
                    if isinstance(x, DataFrame):
                        self.plans.append(_normalize(
                            x._jdf.queryExecution().optimizedPlan()
                            .toString(), self.work))
            self.depth += 1
            try:
                return verb(*args, **kwargs)
            finally:
                self.depth -= 1

        return commit

    def run(self, label: str, fn, show_plans: bool) -> dict:
        sc = self.spark.sparkContext
        group = f"census-{uuid.uuid4().hex}"
        self.plans, self.manifest_calls = [], 0
        sc.setJobGroup(group, "refresh census")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {
            "stmt": label,
            "plans": hashlib.sha256(
                "\n--\n".join(self.plans).encode()).hexdigest()[:16],
            "n_plans": len(self.plans),
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            "manifest_calls": self.manifest_calls,
        }
        if show_plans:
            out["plan_text"] = self.plans
        return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--plans", action="store_true")
    args = ap.parse_args()

    from perfbench import gen
    from perfbench.workloads import (ANN_PLANES, ANN_SEED, IVF_CELLS,
                                     SIZES)
    from rclip_server_spark import sql as S
    from rclip_server_spark.plans.embedder import DeterministicEmbedder
    from rclip_server_spark.session import get_spark

    z = SIZES["full"]
    work = tempfile.mkdtemp(prefix="refresh_census_")
    try:
        spark = get_spark(app_name="refresh_census")
        concepts = gen.concept_matrix(DeterministicEmbedder(gen.DIM))
        ids = list(range(z["idx_rows"]))
        import numpy as np

        gen.write_vectors_parquet(os.path.join(work, "seed.parquet"),
                                  np.asarray(ids, dtype=np.int64),
                                  gen.image_matrix(args.seed, len(ids),
                                                   concepts))
        gen.write_documents(os.path.join(work, "docs.parquet"), args.seed,
                            z["docs"])
        spark.read.parquet(os.path.join(work, "seed.parquet")) \
            .createOrReplaceTempView("img_seed")
        spark.read.parquet(os.path.join(work, "docs.parquet")) \
            .select("doc_id", "text").createOrReplaceTempView("doc_seed")
        cat = S.Catalog(os.path.join(work, "cat"))
        census = _Census(spark, work)

        def stmt(label: str, sql: str) -> None:
            print(json.dumps(census.run(
                label, lambda: S.execute(spark, sql, cat), args.plans)),
                flush=True)

        stmt("create images", "CREATE TABLE images OPTIONS (key='id') AS "
             "SELECT * FROM img_seed")
        stmt("create docs", "CREATE TABLE docs OPTIONS (key='doc_id') AS "
             "SELECT * FROM doc_seed")
        stmt("create ai", "CREATE MATERIALIZED VIEW ai USING ann_index "
             "OPTIONS (source='images', key='id', vec_col='vector', "
             f"n_planes={ANN_PLANES}, seed={ANN_SEED}, buckets=4)")
        stmt("create ii", "CREATE MATERIALIZED VIEW ii USING ivf_index "
             "OPTIONS (source='images', key='id', vec_col='vector', "
             f"n_cells={IVF_CELLS}, iters=1, buckets=4)")
        stmt("create ti", "CREATE MATERIALIZED VIEW ti USING text_index "
             "OPTIONS (source='docs', key='doc_id')")
        live, next_id = set(ids), len(ids)
        for b in range(2):
            up_ids, m = gen.merge_batch(args.seed, b, sorted(live), next_id,
                                        z["merge_rows"], concepts)
            p = os.path.join(work, f"batch{b}.parquet")
            gen.write_vectors_parquet(p, up_ids, m)
            spark.read.parquet(p).createOrReplaceTempView(f"upd{b}")
            stmt(f"merge {b}", f"MERGE INTO images USING upd{b} ON "
                 f"images.id = upd{b}.id WHEN MATCHED THEN UPDATE SET * "
                 "WHEN NOT MATCHED THEN INSERT *")
            live |= {int(i) for i in up_ids}
            next_id = int(up_ids.max()) + 1
            dels = gen.delete_ids(args.seed, b, sorted(live), z["delete_n"])
            stmt(f"delete {b}", "DELETE FROM images WHERE id IN "
                 f"({', '.join(map(str, dels))})")
            live -= set(dels)
            stmt(f"refresh ai {b}", "REFRESH MATERIALIZED VIEW ai")
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
