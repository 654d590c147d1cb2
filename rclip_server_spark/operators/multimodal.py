"""Distributed multimodal column operators (reference D1/D2/D3, B16).

The reference embeds text/images one call at a time in a single process
(rclip_server.py:176-188, index_wikimedia.py:136-150). The Spark-native shape
is a scalar-iterator ``pandas_udf``: the model (or here, the deterministic
test embedder) is constructed ONCE per executor python worker (lazy
singleton, reference D3 / rclip_server.py:50-57), then each Arrow batch is
embedded as one vectorized call. Binary media (images/audio/video) are opaque
``binary`` columns; the fetch and pixel steps are STUBBED (the network and
image libraries are not in this container) behind deterministic fakes so
the Spark-side plumbing — schema, batching, partitioning — is real and
testable.

Scale notes: all operators here are map-only (zero shuffle); throughput is
bounded by the model, not Spark. Arrow batch size (session conf
``spark.sql.execution.arrow.maxRecordsPerBatch``) doubles as the model batch
size, mirroring the reference's inference micro-batching (IW:145).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# executor-side embed function (reference D3: load model once per process)
#
# IMPORTANT serialization note: everything a pandas_udf body touches must be
# defined inside the factory (serialized by value via cloudpickle) or be an
# installed package — Spark's Python workers do not have this repo on their
# import path, so referencing module-level helpers would fail on executors.
# ---------------------------------------------------------------------------


def _make_embed_texts(dim: int):
    """Build a self-contained texts→matrix function, the executor-side twin of
    plans.embedder.DeterministicEmbedder (kept in sync by a unit test). A real
    deployment replaces the body with a lazy CLIP singleton + encode_text
    (rclip_server.py:50-57, 176-181)."""

    def embed_texts(texts):
        import hashlib

        import numpy as _np

        out = _np.empty((len(texts), dim), dtype=_np.float64)
        for i, t in enumerate(texts):
            seed = int.from_bytes(hashlib.sha256(t.encode("utf-8")).digest()[:8], "big")
            rng = _np.random.default_rng(seed)
            v = rng.standard_normal(dim)
            out[i] = v / _np.linalg.norm(v)
        return out

    return embed_texts


# ---------------------------------------------------------------------------
# D1: text column -> embedding column
# ---------------------------------------------------------------------------


def embed_text_udf(dim: int = 64) -> Column:
    """Factory for a scalar-iterator pandas_udf embedding a text column.

    Iterator form so the embedder is resolved once per partition, not per
    batch; each Arrow batch is embedded as one vectorized call — the
    distributed equivalent of the reference's get_text_embeddings
    (rclip_server.py:176-181)."""
    embed_texts = _make_embed_texts(dim)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            mat = embed_texts(s.fillna("").astype(str).tolist())
            yield pd.Series(list(mat))

    return _embed


def embed_text_column(
    df: DataFrame, text_col: str = "text", out_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Embed every row of a text column, distributed (map-only)."""
    return df.withColumn(out_col, embed_text_udf(dim)(F.col(text_col)))


def embed_text_udf_from_factory(make_embedder):
    """The D3 executor-singleton seam for a REAL model: ``make_embedder``
    is a zero-arg callable (must be picklable — a module-level factory or
    functools.partial, not a lambda over a live model) that constructs an
    Embedder-protocol object (e.g. plans.embedder.ClipEmbedder) ON THE
    EXECUTOR. The iterator form runs it at most once per Python worker
    per task — the lazy model-load pattern from the Spark docs'
    predict_batch_udf — and each Arrow batch is ONE vectorized
    embed_texts call (reference semantics rclip_server.py:176-188:
    tokenize/encode then L2-normalize, which Embedder implementations
    do internally). Proven against the hash embedder in-container and
    against a real CLIP backend by tests/test_real_model_smoke.py."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        emb = None
        for s in batches:
            if emb is None:
                emb = make_embedder()  # lazy: once per worker, not per batch
            mat = emb.embed_texts(s.fillna("").astype(str).tolist())
            yield pd.Series([[float(x) for x in row] for row in mat])

    return _embed


# ---------------------------------------------------------------------------
# D2/B16: binary media columns
# ---------------------------------------------------------------------------


def embed_binary_column(
    df: DataFrame, bin_col: str = "content", out_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """D2: binary (image) column → embedding column, batched per Arrow chunk
    (reference rclip_server.py:183-188 / index_wikimedia.py:145-150).

    STUB at the model boundary: the deterministic embedder hashes the bytes;
    production replaces the inner call with preprocess-stack → encode_image →
    L2-normalize. Plumbing (schema, iterator batching, map-only plan) is real."""
    embed_texts = _make_embed_texts(dim)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            texts = [
                bytes(x).hex() if x is not None else "" for x in s
            ]  # stand-in for pixel tensors
            mat = embed_texts(texts)
            yield pd.Series(list(mat))

    return df.withColumn(out_col, _embed(F.col(bin_col)))


def fetch_url_stub(df: DataFrame, url_col: str = "url",
                   out_col: str = "content") -> DataFrame:
    """B16 HTTP fetch as a batched map-only op.

    STUB: no network in this container — bytes are a deterministic function of
    the URL. Production: requests.get per batch inside the same iterator
    (reference rclip_server.py:73-83, with the UA header), returning
    BinaryType; failures → null + error column."""

    @F.pandas_udf(T.BinaryType())
    def _fetch(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib

        for s in batches:
            yield pd.Series(
                [hashlib.sha256(str(u).encode()).digest() * 4 for u in s]
            )

    return df.withColumn(out_col, _fetch(F.col(url_col)))


def embed_documents(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                    dim: int = 64) -> DataFrame:
    """End-to-end D1 pipeline over the documents fixture: (doc_id, embedding),
    unit-norm invariant established at 'index time' exactly like the
    reference's write path (index_wikimedia.py:148-150)."""
    return embed_text_column(df, text_col, "embedding", dim).select(id_col, "embedding")


VIDEO_FRAME_SCHEMA = (
    "video_id bigint, frame_idx int, frame_ts_ms bigint, frame binary"
)


def sample_video_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "content",
    every_ms: int = 1000,
    max_frames: int = 8,
) -> DataFrame:
    """Video frame sampling: one input row (video bytes) → up to
    ``max_frames`` output rows (frame_idx, frame_ts_ms, frame bytes). The
    cardinality-changing shape needs mapInPandas, not a scalar pandas_udf —
    each Arrow batch of videos yields a frame-rows DataFrame.

    STUB at the codec boundary (no pyav/ffmpeg in this container): frame
    count is derived from the byte length, frame bytes are a deterministic
    digest of (video bytes, frame_idx). Production replaces the inner loop
    with av.open → stream.seek/decode at each timestamp. The Spark-side
    contract — schema, per-batch iteration, map-only plan, row explosion
    bounded by max_frames — is real and tested."""

    def _frames(batches):
        # closure-self-contained: executors don't have the repo on sys.path
        import hashlib

        import pandas as _pd

        for pdf in batches:
            out = {"video_id": [], "frame_idx": [], "frame_ts_ms": [], "frame": []}
            for vid, data in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                b = bytes(data) if data is not None else b""
                n = min(max_frames, max(1, len(b) // 64)) if b else 0
                for i in range(n):
                    out["video_id"].append(vid)
                    out["frame_idx"].append(i)
                    out["frame_ts_ms"].append(i * every_ms)
                    out["frame"].append(
                        hashlib.md5(b + i.to_bytes(4, "big")).digest()
                    )
            yield _pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(
        _frames, schema=VIDEO_FRAME_SCHEMA
    )


def audio_features(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "content",
    n_mels: int = 16,
    out_col: str = "audio_feats",
) -> DataFrame:
    """Audio feature extraction (mel-band energy vector per clip) as a
    batched binary→array op.

    STUB at the DSP boundary (no librosa/soundfile here): the deterministic
    fake folds the bytes into ``n_mels`` bands; production replaces the
    inner body with load → melspectrogram → per-band log-mean over the same
    iterator. Map-only, Arrow-batched, fixed-width output schema."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _feats(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            rows = []
            for data in s:
                b = bytes(data) if data is not None else b""
                acc = [0.0] * n_mels
                for i, byte in enumerate(b):
                    acc[i % n_mels] += byte / 255.0
                norm = max(1, len(b) // n_mels)
                rows.append([a / norm for a in acc])
            yield pd.Series(rows)

    return df.withColumn(out_col, _feats(F.col(bin_col)))
