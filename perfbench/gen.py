"""Seeded input generator for every workload.

Everything the engine sees is derived from one ``--seed``: the image
matrix, the request streams, the MERGE/DELETE batches, the ndjson URL
list and the document corpus. The engine only ever receives the
generated files and query strings; the benchmark keeps the numpy
originals as its own model for the correctness checks.
"""

from __future__ import annotations

import json
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rclip_server_spark.plans.embedder import DeterministicEmbedder

DIM = 512
_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi",
        "be", "do", "fa", "gu", "hi", "jo", "pe", "so"]
# concept words (the CLIP text vocabulary stand-in): 256 two-syllable words
VOCAB = [_SYL[i % 16] + _SYL[(i // 16) % 16] + "n" for i in range(256)]
# document vocabulary, same flavour as the sf fixtures' bag-of-words corpus
DOC_VOCAB = ("a the data spark vector column row table query join group "
             "sort hash scan filter merge stream window batch key value "
             "part line order agg fast slow big small customer index "
             "search model image text token embed cluster shard commit "
             "refresh view graph node edge score rank").split()
LANGS = ["en", "fr", "de", "zh", "es"]
ALLOWED_EXT = ["jpg", "jpeg", "png", "gif"]
DISALLOWED_EXT = ["svg", "tif", "webp", "pdf"]


def rng_for(seed: int, *stream) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose...)."""
    return np.random.default_rng([seed, *stream])


def zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def concept_matrix(embedder: DeterministicEmbedder) -> np.ndarray:
    return np.stack([embedder.embed_text(w) for w in VOCAB])


def image_matrix(seed: int, n: int, concepts: np.ndarray) -> np.ndarray:
    """n unit float32 vectors, each 1-2 Zipf-drawn concepts plus noise,
    so text and image-id queries have real neighbours (and the ANN/IVF
    recall is not the recall of random points in 512 dims)."""
    rng = rng_for(seed, 1)
    p = zipf_probs(len(VOCAB))
    a = rng.choice(len(VOCAB), size=n, p=p)
    b = rng.choice(len(VOCAB), size=n, p=p)
    two = rng.random(n) < 0.5
    m = concepts[a] + np.where(two[:, None], 0.7 * concepts[b], 0.0)
    m = m + rng.standard_normal((n, DIM)) * (0.9 / np.sqrt(DIM))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return m.astype(np.float32)


def vector_array(m: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(m.ravel(), pa.float32()), m.shape[1]).cast(pa.list_(pa.float32()))


def write_vectors_parquet(path: str, ids: np.ndarray, m: np.ndarray) -> None:
    """(id, vector) rows: the source of a versioned table or a MERGE batch."""
    pq.write_table(pa.table({"id": pa.array(ids.astype(np.int64)),
                             "vector": vector_array(m)}), path)


def _term(rng, p, sign_ok: bool) -> tuple[str, str]:
    w = VOCAB[rng.choice(len(VOCAB), p=p)]
    if not sign_ok:
        return w, w
    r = rng.random()
    prefix = "-" if r < 0.2 else "+"
    if rng.random() < 0.25:
        prefix += rng.choice(["2", "0.5", "3"])
    return prefix + w, w


# Term counts 1-4 in shares 40/30/20/10, as a fixed cycle: the shape
# of the work (terms, image-id lookups, seeded terms) is the same in
# every window of every seed, and only the drawn words differ. A
# Bernoulli mix moved the p50 of a ~30-request window by ~15% per seed.
_N_TERMS = [1, 2, 1, 3, 1, 2, 4, 2, 1, 3]


def grammar_query(rng, i: int, live_ids: np.ndarray | None,
                  seed_every: int) -> tuple[str, list[str]]:
    """Request ``i`` of a search stream: 1-4 signed, weighted Zipf
    terms; every 5th request one {"image_id": N} term (when
    ``live_ids`` is given), every ``seed_every``-th a {"random_seed": s}
    term. Returns the query and its term texts (repetition statistics)."""
    p = zipf_probs(len(VOCAB))
    parts, texts = [], []
    for j in range(_N_TERMS[i % len(_N_TERMS)]):
        s, t = _term(rng, p, sign_ok=j > 0)
        parts.append(s)
        texts.append(t)
    extra = []
    if live_ids is not None and i % 5 == 2:
        extra.append(json.dumps({"image_id": int(rng.choice(live_ids))}))
    if i % seed_every == seed_every // 2:
        extra.append(json.dumps({"random_seed": int(rng.integers(0, 50))}))
    for t in extra:
        parts.append("+" + t)
        texts.append(t)
    return " ".join(parts), texts


# ingest_mixed readers: request i repeats request i - 4 (an ANN query)
# when i % 8 == 6, a 12.5% exact-repeat share. The rate is a chosen
# parameter, not measured traffic; search_scan has no exact repeats, so
# one workload has whole-query repeats and one has none.
READER_REPEAT_PERIOD, READER_REPEAT_AT, READER_REPEAT_BACK = 8, 6, 4
DISALLOWED_SHARE = 0.15   # URLs with an extension the indexer must drop
NEAR_DUP_SHARE = 0.1      # documents that are near-duplicates of an earlier one


def _stream(n: int, fresh, repeats: bool) -> list[dict]:
    """``n`` requests from ``fresh(i)``, each a query not seen before
    in the stream, except (``repeats``) the exact repeats above. The
    repeated-query share is fixed by construction: the engine's plan
    and code caches hit on whole-query repeats, and a share left to the
    Zipf draw moved a window's p50 by ~15% from seed to seed."""
    out: list[dict] = []
    seen: set = set()
    for i in range(n):
        if repeats and i % READER_REPEAT_PERIOD == READER_REPEAT_AT \
                and i >= READER_REPEAT_BACK:
            out.append(out[i - READER_REPEAT_BACK])
            continue
        for _ in range(10_000):
            r = fresh(i)
            if r["q"] not in seen:
                break
        else:
            raise RuntimeError(f"no distinct query left for request {i}")
        seen.add(r["q"])
        out.append(r)
    return out


def scan_requests(seed: int, n: int, live_ids: np.ndarray) -> list[dict]:
    """search_scan: every request a query not seen before."""
    rng = rng_for(seed, 2)

    def fresh(i):
        q, texts = grammar_query(rng, i, live_ids, 12)
        return {"kind": "search_api", "q": q, "terms": texts}

    return _stream(n, fresh, repeats=False)


def indexed_requests(seed: int, n: int) -> list[dict]:
    """ingest_mixed readers: half ANN_SEARCH, a quarter each IVF_SEARCH
    and TEXT_SEARCH, with the exact ANN repeats above. Vector queries
    carry no image-id terms: the writer deletes ids under the readers."""
    rng = rng_for(seed, 3)
    p = zipf_probs(len(DOC_VOCAB))

    def fresh(i):
        kind = ("ann", "ivf", "ann", "text")[i % 4]
        if kind == "text":
            words = list(dict.fromkeys(
                DOC_VOCAB[j] for j in rng.choice(len(DOC_VOCAB), size=2 + i // 4 % 2, p=p)))
            return {"kind": kind, "q": " ".join(words), "terms": words}
        q, texts = grammar_query(rng, i // 4, None, 20)
        return {"kind": kind, "q": q, "terms": texts}

    return _stream(n, fresh, repeats=True)


def stream_stats(reqs: list[dict]) -> dict:
    """Measured input properties of an issued request prefix: the
    shares a later caching change can name as the ones it benefits."""
    seen_t, seen_q = set(), set()
    terms = rep_t = rep_q = img = seeds = 0
    for r in reqs:
        rep_q += r["q"] in seen_q
        seen_q.add(r["q"])
        img += any(t.startswith('{"image_id"') for t in r["terms"])
        seeds += any(t.startswith('{"random_seed"') for t in r["terms"])
        for t in r["terms"]:
            terms += 1
            rep_t += t in seen_t
            seen_t.add(t)
    n = max(len(reqs), 1)
    kinds = Counter(r["kind"] for r in reqs)
    return {"requests": len(reqs),
            "repeated_term_share": round(rep_t / max(terms, 1), 4),
            "repeated_query_share": round(rep_q / n, 4),
            "image_id_term_share": round(img / n, 4),
            "random_seed_term_share": round(seeds / n, 4),
            "kind_shares": {k: round(v / n, 4) for k, v in sorted(kinds.items())}}


def merge_batch(seed: int, b: int, live: list[int], next_id: int, rows: int,
                concepts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Batch b of ingest_mixed: half updates of live ids, half inserts."""
    rng = rng_for(seed, 5, b)
    n_upd = rows // 2
    upd = rng.choice(np.asarray(live, dtype=np.int64), size=n_upd, replace=False)
    ins = np.arange(next_id, next_id + rows - n_upd, dtype=np.int64)
    m = image_matrix(seed * 1000 + b + 7, rows, concepts)
    return np.concatenate([upd, ins]), m


def delete_ids(seed: int, b: int, live: list[int], n: int) -> list[int]:
    rng = rng_for(seed, 6, b)
    return sorted(int(x) for x in rng.choice(np.asarray(live), size=n, replace=False))


def write_urls_ndjson(path: str, seed: int, n: int) -> dict:
    """Seeded commons-style image URLs; returns the count of URLs the
    indexer's extension allowlist must keep."""
    rng = rng_for(seed, 8)
    bad = rng.random(n) < DISALLOWED_SHARE
    allowed = 0
    with open(path, "w") as f:
        for i in range(n):
            ext = rng.choice(DISALLOWED_EXT if bad[i] else ALLOWED_EXT)
            h = f"{int(rng.integers(0, 1 << 30)):08x}"
            url = (f"https://upload.wikimedia.org/wikipedia/commons/"
                   f"{h[0]}/{h[:2]}/Img_{seed}_{i}_{h}.{ext}")
            f.write(json.dumps({"url": url}) + "\n")
            allowed += not bad[i]
    return {"urls": n, "allowed": allowed,
            "disallowed_ext_share": round(float(bad.mean()), 4)}


def write_documents(path: str, seed: int, n: int) -> dict:
    """A corpus with the sf fixtures' ``documents`` schema (doc_id, text,
    lang, source, n_chars): Zipf bag-of-words texts, a share of them
    near-duplicates of an earlier document (a few words changed)."""
    rng = rng_for(seed, 9)
    p = zipf_probs(len(DOC_VOCAB), 0.8)
    texts: list[str] = []
    dups = 0
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), size=min(2, len(words)), replace=False):
                words[j] = DOC_VOCAB[rng.choice(len(DOC_VOCAB), p=p)]
            dups += 1
        else:
            words = [DOC_VOCAB[j] for j in
                     rng.choice(len(DOC_VOCAB), size=int(rng.integers(8, 70)), p=p)]
        texts.append(" ".join(words))
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 5}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(tbl, path)
    return {"docs": n, "near_dup_share": round(dups / max(n, 1), 4)}
