"""Endpoint-parity layer (reference §2.E): one function per reference HTTP
endpoint, over an indexed images table. A user of the reference's API can
call these 1:1; the HTTP framing (FastAPI routes, Cache-Control headers,
redirects) is deliberately out of engine scope — these return the payloads.

Known reference defects NOT replicated (SURVEY.md §2.E): /info's
AttributeError (RS:483), the dead dedup SQL (RS:237-245), the unreachable
reload inside censor (RS:235).
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

import numpy as np
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pipelines
from .operators import dedup, similarity, stats
from .plans import serving
from .sources import writer


class RclipServerApi:
    """Engine-backed equivalents of the reference server's endpoints.

    ``table_path``: parquet images table (schema writer.IMAGES_SCHEMA);
    ``words_df``: optional (word, vector) DataFrame for reverse lookup;
    ``embedder``: pluggable (DeterministicEmbedder in tests, CLIP in prod);
    ``censorship_key``: guards censor(), like the reference env var (RS:423).

    The pin: like the reference's one in-memory matrix (RS:59-66), the
    instance holds the table's live ``(id, vector)`` rows as one cached
    frame. search_api, similar_words, clip_embedding,
    visualize_clip_embedding and dedup read it; so do the grammar's
    ``{"image_id": N}`` lookups and ``{"random_img": s}`` draws. Its
    staleness key is ``os.stat(table_path)``'s ``(st_ino, st_mtime_ns)``,
    stat'ed once per request: every engine write (censor, dedup,
    writer.upsert_parquet, pipelines.index_images) swaps the directory
    in (writer._overwrite_atomic), so the next request sees a new key,
    pins the new table and unpersists the old frame. reload() re-pins
    unconditionally; close() unpersists the pin (the next request pins
    again). A re-pin materializes the new frame under a lock, and the
    instance's own writes (censor, dedup) hold the same lock, so no pin
    is built across them; a pinned frame serves requests from memory
    without touching the table's files.

    The re-run rule: a request whose Spark read fails while the table's
    identity changed under it (a writer outside this instance swapped
    the directory, or another request re-pinned and unpersisted the
    frame it was reading) re-pins and runs once more. Every other
    failure is raised as it is.
    img_redirect, thm_redirect and info need other columns and read the
    table directly.
    """

    def __init__(self, spark: SparkSession, table_path: str, embedder,
                 words_df=None, censorship_key: str | None = None):
        self.spark = spark
        self.table_path = table_path
        self.embedder = embedder
        self.words_df = words_df
        self.censorship_key = censorship_key
        self._lock = threading.Lock()
        self._pin: tuple[tuple[int, int], DataFrame] | None = None

    # -- the pinned live frame ---------------------------------------------
    def _identity(self) -> tuple[int, int]:
        """The staleness key. writer._overwrite_atomic renames the old
        directory out before it renames the new one in, so a stat can
        land between the two renames: wait that instant out."""
        for _ in range(200):
            with contextlib.suppress(FileNotFoundError):
                st = os.stat(self.table_path)
                return st.st_ino, st.st_mtime_ns
            time.sleep(0.005)
        raise FileNotFoundError(self.table_path)

    def _pinned(self, key: tuple[int, int]) -> DataFrame:
        """The frame pinned for ``key``; a stale pin is replaced by a new
        one, materialized under the lock. ``key`` is stat'ed before the
        read, so a swap between the two costs one more re-pin, never a
        stale answer. The old frame is unpersisted BEFORE the new one is
        cached: both read the same path, so Spark's cache manager takes
        them for one plan; it would skip caching the new frame and
        answer it from the old frame's blocks."""
        pin = self._pin
        if pin is not None and pin[0] == key:
            return pin[1]
        with self._lock:
            if self._pin is None or self._pin[0] != key:
                self._unpin()
                live = writer.live_rows(self.spark.read.parquet(self.table_path))
                self._pin = (key, live.select("id", "vector").cache())
                self._pin[1].count()
            return self._pin[1]

    def _unpin(self) -> None:
        if self._pin is not None:
            self._pin[1].unpersist(blocking=False)
            self._pin = None

    def _on_pin(self, fn):
        """``fn(live)`` over the pin. A Spark failure while the table's
        identity changed under it re-pins and runs ``fn`` once more."""
        key = self._identity()
        try:
            return fn(self._pinned(key))
        except (PySparkException, Py4JJavaError):
            if self._identity() == key:
                raise
        return fn(self._pinned(self._identity()))

    def _resolve(self, q: str):
        return self._on_pin(lambda live: pipelines.resolve_live(live, q, self.embedder))

    # -- endpoints --------------------------------------------------------
    def search_api(self, q: str, num: int | None = None) -> list[list]:
        """/search_api → [[image_id, score], ...] top-(num or 12) (RS:386-393)."""
        return self._on_pin(lambda live: [
            [r["id"], r["score"]]
            for r in pipelines.search_api(live, q, self.embedder, num).collect()
        ])

    def similar_words(self, q: str) -> dict:
        """/similar_words → {similar_words, similar_phrases} (RS:395-402)."""
        if self.words_df is None:
            raise ValueError("no words table configured")
        qv = self._resolve(q)
        if qv is None:
            return {"similar_words": [], "similar_phrases": []}
        words = similarity.best_words(self.words_df, qv, k=50)
        phrases = similarity.best_phrases(self.words_df, qv, k=100)
        return {
            "similar_words": [[r["word"], r["score"]] for r in words.collect()],
            "similar_phrases": [[r["phrase"], r["score"]] for r in phrases.collect()[:50]],
        }

    def clip_embedding(self, q: str) -> dict:
        """/clip_embedding → the resolved query vector (RS:404-408)."""
        qv = self._resolve(q)
        return {"clip_embedding": [] if qv is None else [float(x) for x in qv]}

    def clip_text_embedding(self, q: str) -> dict:
        """/clip_text_embedding — text-only, skips the grammar (RS:410-414)."""
        return {"clip_embedding": [float(x) for x in self.embedder.embed_text(q)]}

    def visualize_clip_embedding(self, q: str) -> dict:
        """/visualize_clip_embedding → html color grid (RS:416-421): min-max
        normalize against the table's per-dimension stats (A7/A8), render."""
        qv = self._resolve(q)
        if qv is None:
            return {"clip_embedding": ""}
        srows = self._on_pin(lambda live: stats.feature_minmax(
            live, vec_col="vector").orderBy("dim").collect())
        mins = np.array([r["min_x"] for r in srows])
        ranges = np.array([max(r["range_x"], 1e-12) for r in srows])
        normalized = np.clip((np.asarray(qv) - mins) / ranges, 0.0, 1.0)
        return {"clip_embedding": serving.visualize_embedding(normalized)}

    def censor(self, img_id: int, censorship_key: str) -> dict:
        """/censor/{id} → soft delete, guarded by the key (RS:423-428)."""
        if not self.censorship_key or censorship_key != self.censorship_key:
            raise PermissionError("bad censorship key")
        with self._lock:
            writer.soft_delete(self.spark, self.table_path, [img_id], id_col="id")
        return {"deleted": img_id}

    def reload(self) -> int:
        """/reload → refresh (RS:430-433): re-pin the table and return the
        new pin's live row count, like the reference's startup log (B10).
        Only this instance's frame is dropped; the session's other cached
        frames stay."""
        self.close()
        return self._on_pin(lambda live: live.count())

    def close(self) -> None:
        """Unpersist the pin. The instance stays usable: the next request
        pins the table again."""
        with self._lock:
            self._unpin()

    def img_redirect(self, img_id: int) -> str:
        """/img/{id} → detail url or filepath (RS:440-446)."""
        row = (
            self.spark.read.parquet(self.table_path)
            .where(F.col("id") == img_id)
            .select("wikimedia_descr_url", "filepath")
            .first()
        )
        if row is None:
            raise KeyError(f"image {img_id} not found")
        return row["wikimedia_descr_url"] or row["filepath"]

    def thm_redirect(self, img_id: int, size: int = 600) -> str:
        """/thm/{id}?size → thumb url with size rewrite (RS:448-462);
        img_id == -1 → the loading-placeholder sentinel (RS:452)."""
        if img_id == -1:
            return "placeholder.svg"
        row = (
            self.spark.read.parquet(self.table_path)
            .where(F.col("id") == img_id)
            .select("wikimedia_thumb_url", "filepath")
            .first()
        )
        if row is None:
            raise KeyError(f"image {img_id} not found")
        url = row["wikimedia_thumb_url"] or row["filepath"]
        import re

        return re.sub(r"/600px-", f"/{size}px-", url)

    def info(self, img_id: int) -> dict:
        """/info/{id} — implemented correctly (the reference's handler calls a
        nonexistent method, RS:483; fidelity = intent, not bugs)."""
        row = (
            self.spark.read.parquet(self.table_path)
            .where(F.col("id") == img_id)
            .first()
        )
        if row is None:
            raise KeyError(f"image {img_id} not found")
        return {"id": row["id"], "filepath": row["filepath"], "size": row["size"]}

    def copyright_message(self) -> str:
        """/copyright_message (RS:489-492)."""
        return serving.copyright_message(os.path.basename(self.table_path))

    def dedup(self) -> int:
        """The reference's dedup_sqlite is dead code (RS:237-245); here it
        works: soft-delete every non-min-id exact duplicate vector, return
        the number marked. Scans LIVE rows only — already-censored rows must
        not be re-counted on the next run (idempotence)."""
        dup_ids = self._on_pin(lambda live: [
            r["id"] for r in dedup.exact_dedup_mark(live, "vector", "id")
            .where("is_duplicate").select("id").collect()
        ])
        if dup_ids:
            with self._lock:
                writer.soft_delete(self.spark, self.table_path, dup_ids, id_col="id")
        return len(dup_ids)
