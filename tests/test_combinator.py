"""Combinator algebra + term dispatch (reference A3/A5/A9/C2,
rclip_server.py:108-174)."""

import numpy as np
import pytest

from rclip_server_spark.operators.multimodal import _make_embed_texts
from rclip_server_spark.plans.combinator import resolve_query, seeded_unit_vector
from rclip_server_spark.plans.embedder import DeterministicEmbedder

E = DeterministicEmbedder(64)


def test_weighted_sum_normalize():
    got = resolve_query("zebra +2spots", E)
    want = E.embed_text("zebra") + 2.0 * E.embed_text("spots")
    want /= np.linalg.norm(want)
    np.testing.assert_allclose(got, want, atol=1e-12)
    assert abs(np.linalg.norm(got) - 1.0) < 1e-12


def test_cancellation_returns_none():
    # v - v = 0 -> None (norm 0), mirroring empty-result handling
    assert resolve_query("zebra -zebra", E) is None


def test_empty_query_returns_none():
    assert resolve_query("", E) is None


def test_seeded_unit_vector_matches_stdlib_recipe():
    # bit-for-bit the reference algorithm (rclip_server.py:164-174)
    import random

    random.seed(42)
    vec = [random.gauss(0, 1) for _ in range(64)]
    mag = sum(x * x for x in vec) ** 0.5
    want = np.asarray([x / mag for x in vec])
    np.testing.assert_array_equal(seeded_unit_vector(42, 64), want)


def test_random_seed_term():
    # resolve_query renormalizes the weighted sum (rclip_server.py:141), so
    # the result matches to fp tolerance, not bit-for-bit
    got = resolve_query('{"random_seed": 7}', E)
    np.testing.assert_allclose(got, seeded_unit_vector(7, 64), atol=1e-12)


def test_clip_embedding_literal_term():
    v = [1.0] + [0.0] * 63
    got = resolve_query('{"clip_embedding": %s}' % v, E)
    np.testing.assert_allclose(got, np.asarray(v), atol=1e-12)


def test_image_id_term_uses_lookup():
    target = np.zeros(64)
    target[3] = 1.0
    got = resolve_query('{"image_id": 5}', E, image_lookup=lambda i: target)
    np.testing.assert_allclose(got, target, atol=1e-12)


def test_image_id_without_lookup_raises():
    with pytest.raises(ValueError):
        resolve_query('{"image_id": 5}', E)


def test_url_term_without_image_embed_raises():
    with pytest.raises(ValueError):
        resolve_query("http://example.com/cat.jpg", E)


def test_executor_embedder_matches_driver_embedder():
    # operators.multimodal inlines the embed function for UDF serialization;
    # this pins it to plans.embedder.DeterministicEmbedder
    texts = ["abc", "", "hello world", "ünïcode"]
    np.testing.assert_array_equal(
        _make_embed_texts(64)(texts), E.embed_texts(texts)
    )
