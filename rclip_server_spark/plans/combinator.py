"""Query combinator: parsed terms → one unit query vector (reference A3/A5/C2).

Mirrors rclip_server.py:108-174. The combinator is O(#terms) driver-side
NumPy — the correct altitude: it never touches the distributed data except
through the two injectable callbacks (point lookup by id, random row), each of
which is a single tiny Spark action.

Term dispatch (rclip_server.py:144-174):
  ``^https?://...``            → image fetch + embed (injectable ``image_embed``
                                 callback; raises without one — text-embedding a
                                 URL string would be a silent wrong answer)
  ``{"image_id": N}``          → stored embedding via point lookup
  ``{"clip_embedding": [...]}``→ literal vector
  ``{"random_img": s}``        → random stored row (unseeded in the reference)
  ``{"random_seed": s}``       → seeded Gaussian unit vector; reproduced with
                                 Python's ``random`` module exactly as the
                                 reference does (rclip_server.py:164-174)
  anything else                → text embedding

Weights: v = normalize(Σ weight_i · embed(term_i)); empty parse → None
(rclip_server.py:136-141).
"""

from __future__ import annotations

import json
import random
import re
from collections.abc import Callable

import numpy as np

from .embedder import Embedder
from .parser import parse_query

_URL_RE = re.compile(r"^https?://")


def seeded_unit_vector(seed, dim: int) -> np.ndarray:
    """The reference's rand_ndim_unit_vector (rclip_server.py:164-174),
    bit-for-bit: stdlib random, gauss(0,1), L2 normalize."""
    random.seed(seed)
    vec = [random.gauss(0, 1) for _ in range(dim)]
    mag = sum(x**2 for x in vec) ** 0.5
    return np.asarray([x / mag for x in vec], dtype=np.float64)


def resolve_term(
    text: str,
    embedder: Embedder,
    image_lookup: Callable[[int], np.ndarray] | None = None,
    random_image: Callable[[], np.ndarray] | None = None,
    image_embed: Callable[[str], np.ndarray] | None = None,
) -> np.ndarray:
    if _URL_RE.match(text):
        if image_embed is None:
            # The reference fetches and embeds the image (rclip_server.py:146-148).
            # Silently text-embedding the URL string would be a wrong answer.
            raise ValueError(
                "URL term used without an image_embed callback; wire "
                "operators.multimodal / a fetch+embed pipeline for URL terms"
            )
        return np.asarray(image_embed(text), dtype=np.float64)
    if not text.startswith("{"):
        return embedder.embed_text(text)

    data = json.loads(text)
    if (img_id := data.get("image_id")) is not None:
        if image_lookup is None:
            raise ValueError("image_id term used without an image_lookup")
        return np.asarray(image_lookup(int(img_id)), dtype=np.float64)
    if (emb := data.get("clip_embedding")) is not None:
        return np.asarray(emb, dtype=np.float64)
    if data.get("random_img") is not None:
        if random_image is None:
            raise ValueError("random_img term used without a random_image source")
        return np.asarray(random_image(), dtype=np.float64)
    if (seed := data.get("random_seed")) is not None:
        return seeded_unit_vector(seed, embedder.dim)
    raise ValueError(f"unrecognized JSON term: {text!r}")


def resolve_query(
    q: str,
    embedder: Embedder,
    image_lookup: Callable[[int], np.ndarray] | None = None,
    random_image: Callable[[], np.ndarray] | None = None,
    image_embed: Callable[[str], np.ndarray] | None = None,
) -> np.ndarray | None:
    """Parse + resolve + weighted-sum + normalize."""
    terms = parse_query(q)
    if not terms:
        return None
    acc = np.zeros(embedder.dim, dtype=np.float64)
    for t in terms:
        e = resolve_term(t.text, embedder, image_lookup, random_image, image_embed)
        acc = acc + e * t.weight
    norm = np.linalg.norm(acc)
    if norm == 0.0:
        return None
    return acc / norm
