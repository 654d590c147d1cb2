"""The workloads: set-up, the measured traffic, and the checks.

Each workload is a class with ``build``/``warm`` (inputs, tables,
indexes, warm-up: everything ``setup_s`` covers), ``run`` (the measured
window) and ``verify`` (correctness of the answers the window
produced). The engine is driven only through its public entry points:
``api.RclipServerApi``, ``sql.execute`` with a ``sql.Catalog``,
``pipelines.index_images`` and ``pipelines.curate_corpus``.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rclip_server_spark import pipelines
from rclip_server_spark import sql as S
from rclip_server_spark.api import RclipServerApi
from rclip_server_spark.plans import combinator
from rclip_server_spark.plans.embedder import DeterministicEmbedder

from . import gen
from .tracing import percentile

K = 12          # search_api's default top-k
K_INDEX = 10    # top-k of the index searches (recall_at_10)
# the index specs (CREATE options and search arguments below): the ANN
# index buckets by the signs of 4 seeded hyperplanes and a search probes
# every bucket within 2 bit flips of the query's (11 of 16); the IVF
# index has 4 cells and a search probes the 2 nearest
ANN_PLANES, ANN_SEED, ANN_PROBE_BITS = 4, 42, 2
IVF_CELLS, IVF_PROBE = 4, 2
TOL = 1e-5
CLIENTS = 2     # search_scan's closed-loop clients (README: why not nproc)
READERS = 3     # ingest_mixed's readers, beside its one writer
WARM = 16       # search_scan's warm-up requests, before the window
STREAM = 600    # requests generated per stream; a run uses < 200

SIZES = {
    # measured configuration
    "full": {"scan_urls": 4000, "idx_rows": 3000, "merge_rows": 1000, "delete_n": 5,
             "docs": 1000, "recall_probes": 6, "scan_checks": 16},
    # self-test: every code path at toy sizes
    "tiny": {"scan_urls": 300, "idx_rows": 300, "merge_rows": 40, "delete_n": 2,
             "docs": 200, "recall_probes": 2, "scan_checks": 4},
}


class CheckError(AssertionError):
    """A wrong answer: counted as a failed operation."""


def exact_topk(m64: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int):
    """numpy exact top-k: score descending, then id ascending."""
    s = m64 @ np.asarray(q, dtype=np.float64)
    order = np.lexsort((ids, -s))[:k]
    return ids[order], s[order]


def check_order(got: list) -> None:
    """Score descending, ties by id ascending."""
    for n in range(1, len(got)):
        (pi, ps), (i, s) = got[n - 1], got[n]
        if s > ps + TOL or (abs(s - ps) <= 1e-12 and i < pi):
            raise CheckError(f"row {n} out of order")


def check_topk(got: list, ids: np.ndarray, m64: np.ndarray, q, k: int) -> None:
    """``got`` = [[id, score], ...] must be the exact top-k of the
    candidate rows (``ids``, ``m64``): min(k, rows) rows, known ids,
    each score the row's exact dot with ``q``, ordered, and the scores
    of the exact top-k."""
    if len(got) != min(k, len(ids)):
        raise CheckError(f"expected {min(k, len(ids))} rows, got {len(got)}")
    q = np.asarray(q, dtype=np.float64)
    row_of = {int(i): n for n, i in enumerate(ids)}
    for i, s in got:
        if i not in row_of:
            raise CheckError(f"id {i} is not a candidate row")
        true = float(m64[row_of[i]] @ q)
        if abs(true - s) > TOL:
            raise CheckError(f"id {i}: score {s} != exact {true}")
    check_order(got)
    _, want = exact_topk(m64, ids, q, k)
    if got and np.max(np.abs(np.asarray([s for _, s in got]) - want)) > TOL:
        raise CheckError("not the exact top-k")


def lsh_planes() -> np.ndarray:
    """The ANN index's hyperplanes, from its spec (n_planes, seed)."""
    h = np.random.default_rng(ANN_SEED).standard_normal((ANN_PLANES, gen.DIM))
    return h / np.linalg.norm(h, axis=1, keepdims=True)


def lsh_bucket(m: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Bucket of each row of ``m``: bit i set when dot(v, plane_i) >= 0."""
    return ((np.asarray(m, np.float64) @ planes.T) >= 0) @ (1 << np.arange(len(planes)))


def lsh_probes(q, planes: np.ndarray) -> set[int]:
    """The buckets an ANN search of ``q`` probes."""
    qb = int(lsh_bucket(np.asarray(q, np.float64)[None, :], planes)[0])
    return {b for b in range(1 << len(planes)) if bin(b ^ qb).count("1") <= ANN_PROBE_BITS}


def closed_loop(tracer, clients: int, seconds: float, reqs: list, do) -> tuple[list, float]:
    """``clients`` threads; each sends its next request only when the
    previous reply arrived. Requests are taken in sequence order, so the
    completed set is always a prefix of the seeded stream (minus what
    was in flight). Returns (results by sequence number, elapsed s)."""
    lock = threading.Lock()
    nxt = [0]
    results: list[dict] = []
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client():
        while time.perf_counter() < deadline:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            r = reqs[i]
            t = time.perf_counter()
            with tracer.op(r["kind"], tracer.sampled(i)) as op:
                try:
                    out, err = do(r), None
                except Exception as e:  # an engine failure is a failed request
                    out, err = None, f"{type(e).__name__}: {e}"[:400]
            results.append({"i": i, "req": r, "kind": r["kind"],
                            "ms": (time.perf_counter() - t) * 1e3,
                            "out": out, "err": err, "op": op["id"], "traced": op["traced"]})

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(results, key=lambda r: r["i"]), time.perf_counter() - t0


def parallel(fn, items: list) -> list:
    """``fn`` over ``items`` on CLIENTS threads (warm-ups, probes)."""
    with ThreadPoolExecutor(CLIENTS) as ex:
        return list(ex.map(fn, items))


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


class Ctx:
    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, size: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.z = SIZES[size]
        self.embedder = DeterministicEmbedder(gen.DIM)
        self.concepts = gen.concept_matrix(self.embedder)


class Workload:
    name = ""
    reps = 1            # set-up repetitions (median reported)
    foreground = ()     # op kinds behind p50_ms / p75_ms / ops_per_s

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.props: dict = {}
        self.extra: dict = {}
        self.failed_checks: list[str] = []

    def dir(self, rep: int) -> str:
        d = os.path.join(self.ctx.work, f"{self.name}-{rep}")
        os.makedirs(d, exist_ok=True)
        return d

    def setup(self) -> dict:
        """Build ``reps`` times into fresh directories (the last one is
        served), then warm up once; returns timings in seconds."""
        builds = [timed(lambda: self.build(rep)) for rep in range(self.reps)]
        return {"build_s": builds, "warm_s": timed(self.warm)}

    def build(self, rep: int) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        pass

    def run(self) -> tuple[list, float]:
        raise NotImplementedError

    def verify(self, results: list) -> None:
        pass


# -- search_scan --------------------------------------------------------
class SearchScan(Workload):
    """Closed loop of /search_api requests over a flat parquet images
    table: an exact scan of every live row per request, like the
    reference. The table is built the reference's way, by the indexer:
    pipelines.index_images over a seeded ndjson of image URLs (the
    Arrow-UDF fetch/embed stages and the upsert). /similar_words is
    left out (README: what was cut)."""
    name = "search_scan"
    reps = 3
    foreground = ("search_api",)

    def build(self, rep: int) -> None:
        c, z = self.ctx, self.ctx.z
        d = self.dir(rep)
        urls = os.path.join(d, "urls.ndjson")
        self.url_props = gen.write_urls_ndjson(urls, c.seed, z["scan_urls"])
        path = os.path.join(d, "images")
        t = time.perf_counter()
        with c.tracer.op("index_images"):
            n = pipelines.index_images(c.spark, urls, path, dim=gen.DIM)
        rates = [] if rep == 0 else self.extra["index_rows_per_s"]["rates"]
        rates.append(n / (time.perf_counter() - t))
        self.extra["index_rows_per_s"] = {"value": percentile(rates, 50), "unit": "rows/s",
                                          "samples": len(rates), "rates": rates}
        # the benchmark's model of the table is what the indexer wrote
        tbl = pq.read_table(path, columns=["id", "vector"])
        self.ids = np.asarray(tbl.column("id").to_numpy(), dtype=np.int64)
        self.m64 = np.asarray(tbl.column("vector").to_pylist(), dtype=np.float64)
        self.check_indexed(n, len(self.ids), self.url_props["allowed"])
        self.api = RclipServerApi(c.spark, path, c.embedder)
        stream = gen.scan_requests(c.seed, STREAM, self.ids)
        self.warm_reqs, self.reqs = stream[:WARM], stream[WARM:]

    def check_indexed(self, returned: int, stored: int, allowed: int) -> None:
        """Indexed rows (returned and stored) = allowed-extension URLs."""
        if not returned == stored == allowed:
            self.failed_checks.append(
                f"wrong answer: indexed {returned}/{stored} rows, want {allowed}")

    def warm(self) -> None:
        """The stream's first ``WARM`` requests, ``CLIENTS`` at a time:
        the JIT compiles the scan's code paths over them."""
        parallel(self.do, self.warm_reqs)

    def do(self, r):
        return self.api.search_api(r["q"])

    def run(self):
        res, el = closed_loop(self.ctx.tracer, CLIENTS, self.ctx.seconds, self.reqs, self.do)
        self.props = {**gen.stream_stats([r["req"] for r in res]), **self.url_props,
                      "table_rows": len(self.ids)}
        return res, el

    def verify(self, results: list) -> None:
        """The first ``scan_checks`` answers vs a numpy exact top-k of
        the vector clip_embedding resolves for the same query."""
        checked = [r for r in results if not r["err"]][:self.ctx.z["scan_checks"]]
        for r in checked:
            qv = self.api.clip_embedding(r["req"]["q"])["clip_embedding"]
            try:
                if not qv:  # terms that cancel (w -w): no vector, no rows
                    if r["out"]:
                        raise CheckError("rows for a query without a vector")
                    continue
                check_topk(r["out"], self.ids, self.m64, qv, K)
            except CheckError as e:
                r["err"] = f"wrong answer: {e}"
        self.extra["checked_requests"] = len(checked)


# -- ingest_mixed ---------------------------------------------------------
class IngestMixed(Workload):
    """One writer (MERGE ~1k rows, DELETE a few ids, REFRESH the ANN
    index) beside ``READERS`` readers answering grammar queries with
    ANN_SEARCH, IVF_SEARCH or TEXT_SEARCH through sql.execute, over
    maintained, bucketed indexes of the same versioned table."""
    name = "ingest_mixed"
    foreground = ("ann", "ivf", "text")

    def build(self, rep: int) -> None:
        c, z = self.ctx, self.ctx.z
        self.d = d = self.dir(rep)
        self.ids = np.arange(z["idx_rows"], dtype=np.int64)
        self.m = gen.image_matrix(c.seed, len(self.ids), c.concepts)
        gen.write_vectors_parquet(os.path.join(d, "seed.parquet"), self.ids, self.m)
        self.doc_props = gen.write_documents(os.path.join(d, "raw_docs.parquet"), c.seed,
                                             z["docs"])
        sp = c.spark
        # the text index serves the curated corpus: pipelines.curate_corpus
        # (quality gates, PII redaction, MinHash dedup, split) runs here
        self.raw_docs = sp.read.parquet(os.path.join(d, "raw_docs.parquet"))
        t = time.perf_counter()
        with c.tracer.op("curate_corpus"):
            curated = [(r["doc_id"], r["text"]) for r in
                       pipelines.curate_corpus(self.raw_docs).select("doc_id", "text").collect()]
        self.extra["curate_docs_per_s"] = {"value": z["docs"] / (time.perf_counter() - t),
                                           "unit": "docs/s", "samples": 1, "pass": "cold"}
        self.curated = len(curated)
        pq.write_table(pa.table({"doc_id": pa.array([i for i, _ in curated], pa.int64()),
                                 "text": pa.array([t for _, t in curated])}),
                       os.path.join(d, "docs.parquet"))
        self.doc_tokens = {i: set(t.split()) for i, t in curated}
        sp.read.parquet(os.path.join(d, "seed.parquet")).createOrReplaceTempView("img_seed")
        sp.read.parquet(os.path.join(d, "docs.parquet")).createOrReplaceTempView("doc_seed")
        self.cat = S.Catalog(os.path.join(d, "cat"))
        for stmt in (
            "CREATE TABLE images OPTIONS (key='id') AS SELECT * FROM img_seed",
            "CREATE TABLE docs OPTIONS (key='doc_id') AS SELECT * FROM doc_seed",
            "CREATE MATERIALIZED VIEW ai USING ann_index OPTIONS (source='images', "
            f"key='id', vec_col='vector', n_planes={ANN_PLANES}, seed={ANN_SEED}, buckets=4)",
            "CREATE MATERIALIZED VIEW ii USING ivf_index OPTIONS (source='images', "
            f"key='id', vec_col='vector', n_cells={IVF_CELLS}, iters=1, buckets=4)",
            "CREATE MATERIALIZED VIEW ti USING text_index OPTIONS (source='docs', "
            "key='doc_id')",
        ):
            S.execute(sp, stmt, self.cat)
        self.m64 = self.m.astype(np.float64)
        self.planes = lsh_planes()
        self.bucket0 = lsh_bucket(self.m64, self.planes)
        # the benchmark's own model of the table: id -> vector; every
        # vector each id has held (the ANN index serves older versions
        # until it is refreshed); the ids a write touched
        self.model = {int(i): self.m[n] for n, i in enumerate(self.ids)}
        self.held = {i: [v] for i, v in self.model.items()}
        self.touched: set[int] = set()
        self.next_id = len(self.ids)
        self.reqs = gen.indexed_requests(c.seed, STREAM)

    def do(self, r):
        sp = self.ctx.spark
        if r["kind"] == "text":
            rows = S.execute(sp, f"SELECT doc_id, bm25 FROM TEXT_SEARCH('ti', "
                                 f"'{r['q']}', {K_INDEX})", self.cat).collect()
            return {"rows": [[int(a), float(b)] for a, b in rows]}
        qv = combinator.resolve_query(r["q"], self.ctx.embedder)
        if qv is None:
            return {"rows": [], "qv": None}
        arr = ", ".join(repr(float(x)) for x in qv)
        fn = (f"ANN_SEARCH('ai', array({arr}), {K_INDEX}, {ANN_PROBE_BITS})"
              if r["kind"] == "ann" else
              f"IVF_SEARCH('ii', array({arr}), {K_INDEX}, {IVF_PROBE})")
        rows = S.execute(sp, f"SELECT id, score FROM {fn}", self.cat).collect()
        return {"rows": [[int(a), float(b)] for a, b in rows], "qv": qv}

    def warm(self) -> None:
        """Recall probes on the idle indexes, ``CLIENTS``-wide: the first
        ``recall_probes`` distinct ann and ivf queries of the stream (and
        one text query), so recall_at_10 repeats exactly for a seed. The
        window's stream starts after them. Each probe answer must be the
        exact top-10 of the rows its probe set holds."""
        n = self.ctx.z["recall_probes"]
        pick: dict[str, list] = {"ann": [], "ivf": [], "text": []}
        for used, r in enumerate(self.reqs):
            if len(pick[r["kind"]]) < (1 if r["kind"] == "text" else n) and all(
                    r is not x for x in pick[r["kind"]]):
                pick[r["kind"]].append(r)
            if len(pick["ann"]) == len(pick["ivf"]) == n and pick["text"]:
                break
        self.reqs = self.reqs[used + 1:]
        # the IVF cell of every row, as the index holds it (never refreshed)
        self.cell = {int(i): int(c) for i, c in S.execute(
            self.ctx.spark, "SELECT id, ivf_cell FROM ii", self.cat).collect()}
        outs = parallel(self.do, pick["ann"] + pick["ivf"] + pick["text"])
        hits: dict[str, list] = {"ann": [], "ivf": []}
        for r, out in zip(pick["ann"] + pick["ivf"], outs):
            if out["qv"] is None:  # terms that cancel: nothing to recall
                continue
            try:
                if r["kind"] == "ann":
                    mask = np.isin(self.bucket0, list(lsh_probes(out["qv"], self.planes)))
                    check_topk(out["rows"], self.ids[mask], self.m64[mask], out["qv"], K_INDEX)
                else:
                    self.check_ivf(out)
            except CheckError as e:
                self.failed_checks.append(f"wrong {r['kind']} probe answer: {e}")
            want, _ = exact_topk(self.m64, self.ids, out["qv"], K_INDEX)
            got = {i for i, _ in out["rows"]}
            hits[r["kind"]].append(len(got & {int(x) for x in want}) / K_INDEX)
        both = hits["ann"] + hits["ivf"]
        self.extra["recall_at_10"] = {"value": float(np.mean(both)), "unit": "ratio",
                                      "samples": len(both),
                                      **{k: float(np.mean(v)) for k, v in hits.items()}}

    def check_ivf(self, out: dict) -> None:
        """The IVF index is never refreshed, so it serves the build-time
        table. The answer's rows lie in at most IVF_PROBE cells, and it
        is the exact top-10 of those cells' rows: a probe set holds them,
        and its top-10 lies within them. An empty answer needs
        IVF_PROBE empty cells."""
        rows = out["rows"]
        cells = set()
        for i, _ in rows:
            if i not in self.cell:
                raise CheckError(f"unknown id {i}")
            cells.add(self.cell[i])
        if len(cells) > IVF_PROBE:
            raise CheckError(f"rows from {len(cells)} cells, {IVF_PROBE} probed")
        if not rows:
            if IVF_CELLS - len(set(self.cell.values())) < IVF_PROBE:
                raise CheckError("empty answer, but every probe set holds rows")
            return
        mask = np.isin([self.cell[int(i)] for i in self.ids], list(cells))
        check_topk(rows, self.ids[mask], self.m64[mask], out["qv"], K_INDEX)

    def check_text(self, q: str, out: dict) -> None:
        rows, terms = out["rows"], set(q.split())
        if len(rows) != K_INDEX:
            raise CheckError(f"expected {K_INDEX} rows, got {len(rows)}")
        for n, (i, s) in enumerate(rows):
            if not terms & self.doc_tokens.get(i, set()):
                raise CheckError(f"doc {i} does not match {q!r}")
            if n and s > rows[n - 1][1] + 1e-9:
                raise CheckError(f"row {n} out of order")

    def check_ann(self, out: dict, stable: np.ndarray) -> None:
        """The ANN index is refreshed under the readers, so an answer
        comes from some version of the table. Each row's score is the
        exact dot of a vector its id has held, in a probed bucket; rows
        no write touched (``stable``) hold their build-time vector in
        every version, so each probed one must be in the answer unless
        10 rows score above it."""
        rows, q = out["rows"], np.asarray(out["qv"], np.float64)
        probes = lsh_probes(q, self.planes)
        check_order(rows)
        for i, s in rows:
            if not any(abs(float(np.asarray(v, np.float64) @ q) - s) <= TOL
                       and int(lsh_bucket(v[None, :], self.planes)[0]) in probes
                       for v in self.held.get(i, ())):
                raise CheckError(f"id {i}: score {s} is the dot of no probed vector it held")
        mask = stable & np.isin(self.bucket0, list(probes))
        if len(rows) < min(K_INDEX, int(mask.sum())):
            raise CheckError(f"{len(rows)} rows, {int(mask.sum())} untouched probed rows")
        floor = rows[-1][1] + TOL if len(rows) == K_INDEX else -np.inf
        got = {i for i, _ in rows}
        missing = [int(i) for i in self.ids[mask][self.m64[mask] @ q > floor] if int(i) not in got]
        if missing:
            raise CheckError(f"untouched probed id {missing[0]} missing")

    # -- writer --
    def _dir_files(self) -> dict:
        out = {}
        for dp, _, fs in os.walk(self.cat.get("images")["path"]):
            for f in fs:
                p = os.path.join(dp, f)
                out[p] = os.path.getsize(p)
        return out

    def _statement(self, kind: str, stmt: str, log: list) -> None:
        """One write statement as an operation; in a traced run the
        table directory is diffed around it (files and bytes committed)."""
        tr = self.ctx.tracer
        before = self._dir_files() if tr.enabled and kind != "refresh" else None
        t = time.perf_counter()
        with tr.op(kind) as op:
            S.execute(self.ctx.spark, stmt, self.cat)
        log.append({"kind": kind, "ms": (time.perf_counter() - t) * 1e3, "op": op["id"]})
        if before is not None:
            new = {p: s for p, s in self._dir_files().items() if p not in before}
            op["commit_files"], op["commit_bytes"] = len(new), sum(new.values())

    def writer(self, deadline: float, log: list, cycles: list) -> None:
        """MERGE, DELETE, REFRESH in a loop; a statement starts only
        before the deadline. ``cycles`` gets each loop's merged rows and
        busy seconds."""
        c, z = self.ctx, self.ctx.z
        b = 0
        while time.perf_counter() < deadline:
            t = time.perf_counter()
            ids, m = gen.merge_batch(c.seed, b, sorted(self.model), self.next_id,
                                     z["merge_rows"], c.concepts)
            p = os.path.join(self.d, f"batch{b}.parquet")
            gen.write_vectors_parquet(p, ids, m)
            c.spark.read.parquet(p).createOrReplaceTempView(f"upd{b}")
            self._statement("merge", f"MERGE INTO images USING upd{b} ON images.id = upd{b}.id "
                                     "WHEN MATCHED THEN UPDATE SET * "
                                     "WHEN NOT MATCHED THEN INSERT *", log)
            for i, v in zip(ids, m):
                self.model[int(i)] = v
                self.held.setdefault(int(i), []).append(v)
            self.touched.update(int(i) for i in ids)
            self.next_id = int(ids.max()) + 1
            if time.perf_counter() < deadline:
                dels = gen.delete_ids(c.seed, b, sorted(self.model), z["delete_n"])
                self._statement("delete", f"DELETE FROM images WHERE id IN "
                                          f"({', '.join(map(str, dels))})", log)
                for i in dels:
                    del self.model[i]
                self.touched.update(dels)
            if time.perf_counter() < deadline:
                self._statement("refresh", "REFRESH MATERIALIZED VIEW ai", log)
            cycles.append({"rows": len(ids), "s": time.perf_counter() - t})
            b += 1

    def run(self):
        log: list = []
        cycles: list = []
        self.write_errors: list = []
        deadline = time.perf_counter() + self.ctx.seconds

        def w():
            try:
                self.writer(deadline, log, cycles)
            except Exception as e:  # reported as a failed write
                self.write_errors.append(f"{type(e).__name__}: {e}"[:400])

        wt = threading.Thread(target=w)
        wt.start()
        res, el = closed_loop(self.ctx.tracer, READERS, self.ctx.seconds, self.reqs, self.do)
        wt.join()
        self.writes = log
        commits = [x["ms"] for x in log if x["kind"] in ("merge", "delete")]
        refresh = [x["ms"] for x in log if x["kind"] == "refresh"]
        rows, secs = sum(c["rows"] for c in cycles), sum(c["s"] for c in cycles)
        reads = {k: [r["ms"] for r in res if r["kind"] == k and not r["err"]]
                 for k in self.foreground}
        self.extra.update({
            "commit_p50_ms": {"value": percentile(commits, 50), "unit": "ms",
                              "samples": len(commits)},
            "refresh_p50_ms": {"value": percentile(refresh, 50), "unit": "ms",
                               "samples": len(refresh)},
            "ingest_rows_per_s": {"value": rows / secs if secs else 0.0, "unit": "rows/s",
                                  "samples": len(cycles)},
            **{f"{k}_p50_ms": {"value": percentile(v, 50), "unit": "ms", "samples": len(v)}
               for k, v in reads.items()},
        })
        self.props = {**gen.stream_stats([r["req"] for r in res]), **self.doc_props,
                      "curated_docs": self.curated,
                      "rows_per_batch": self.ctx.z["merge_rows"], "update_share": 0.5,
                      "deletes_per_batch": self.ctx.z["delete_n"],
                      "writer_cycles": len(cycles)}
        return res, el

    def verify(self, results: list) -> None:
        stable = ~np.isin(self.ids, list(self.touched))
        for r in results:
            if r["err"] or r["out"].get("qv", 0) is None:
                continue
            try:
                if r["kind"] == "text":
                    self.check_text(r["req"]["q"], r["out"])
                elif r["kind"] == "ivf":
                    self.check_ivf(r["out"])
                else:
                    self.check_ann(r["out"], stable)
            except CheckError as e:
                r["err"] = f"wrong answer: {e}"
        self.check_table()
        t = time.perf_counter()
        again = pipelines.curate_corpus(self.raw_docs).count()
        self.extra["curate_docs_per_s_warm"] = {
            "value": self.ctx.z["docs"] / (time.perf_counter() - t), "unit": "docs/s",
            "samples": 1}
        self.check_curated(self.curated, again)

    def check_curated(self, first: int, again: int) -> None:
        """A second curate pass keeps as many documents as the first."""
        if first != again:
            self.failed_checks.append(f"wrong answer: curated {first}, then {again}")

    def check_table(self) -> None:
        """Live row count and a sample of vectors vs the model."""
        sp = self.ctx.spark
        n = S.execute(sp, "SELECT count(*) AS n FROM images", self.cat).first()["n"]
        if n != len(self.model):
            self.failed_checks.append(f"live rows {n} != model {len(self.model)}")
        rng = gen.rng_for(self.ctx.seed, 10)
        sample = sorted(int(i) for i in rng.choice(sorted(self.model), size=20, replace=False))
        got = {r["id"]: r["vector"] for r in S.execute(
            sp, f"SELECT id, vector FROM images WHERE id IN ({', '.join(map(str, sample))})",
            self.cat).collect()}
        for i in sample:
            if i not in got or not np.array_equal(np.asarray(got[i], np.float32), self.model[i]):
                self.failed_checks.append(f"id {i}: vector differs from the model")
                break


WORKLOADS = {w.name: w for w in (SearchScan, IngestMixed)}
