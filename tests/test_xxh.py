"""Parity pin for functions/xxh.py: the driver-side XXH64 must be
bit-identical to Spark's ``xxhash64`` expression (and its pmod-bucket
composition identical to versioned._bucket_expr) — the bucketed index
serving paths prune FILES with it, so any divergence here would make
a query silently read the wrong buckets. Every tail-length class of
the algorithm (0, 1-3, 4-7, 8-31, 32+, stripe remainders) is covered
explicitly, plus a hypothesis fuzz sweep over arbitrary text and a
long-key sweep matching the layouts' actual key types."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rclip_server_spark.functions import xxh


def _spark_hashes(spark, values: list[str]) -> list[int]:
    df = spark.createDataFrame([(v,) for v in values], "s string")
    rows = df.select(F.xxhash64("s").alias("h")).collect()
    return [int(r["h"]) for r in rows]


# one representative per tail-length class, including the 33-79 zone
# that exercises stripes + 8-byte + 4-byte + 1-byte remainders at once
_TAIL_CLASSES = [
    "",
    "a", "ab", "abc",
    "abcd", "abcde", "abcdefg",
    "abcdefgh", "0123456789abcde", "0123456789abcdef0123456789abcde",
    "0123456789abcdef0123456789abcdef",          # exactly one stripe
    "0123456789abcdef0123456789abcdef0",         # stripe + 1
    "0123456789abcdef0123456789abcdefABCDEFGH",  # stripe + 8
    "x" * 68,                                    # 2 stripes + 4
    "naïve—ünïcødé🙂" * 3,                        # multi-byte UTF-8
]


def test_xxh64_matches_spark_all_tail_classes(spark):
    ours = [xxh.xxhash64_bytes(v.encode("utf-8")) for v in _TAIL_CLASSES]
    theirs = _spark_hashes(spark, _TAIL_CLASSES)
    assert ours == theirs


def test_bucket_of_matches_writer_expr_for_long_keys(spark):
    from rclip_server_spark.sources.versioned import _bucket_expr

    vals = [0, 1, -1, 7, 42, 2**31, -(2**31), 2**62, -(2**62) + 3]
    for n in (8, 64, 256):
        df = spark.createDataFrame([(v,) for v in vals], "k long")
        theirs = [int(r[0]) for r in
                  df.select(_bucket_expr("k", n)).collect()]
        ours = [xxh.bucket_of(v, n) for v in vals]
        assert ours == theirs, f"n_buckets={n}"


def test_bucket_of_matches_writer_expr_for_string_keys(spark):
    from rclip_server_spark.sources.versioned import _bucket_expr

    vals = ["", "the", "zebra", "ünïcødé", "a b c", "x" * 100]
    df = spark.createDataFrame([(v,) for v in vals], "k string")
    theirs = [int(r[0]) for r in
              df.select(_bucket_expr("k", 16)).collect()]
    assert [xxh.bucket_of(v, 16) for v in vals] == theirs


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=200))
def test_xxh64_fuzz_text(spark, s):
    # lone surrogates can't round-trip through UTF-8/Spark; hypothesis
    # text() excludes them by default in recent versions — guard anyway
    try:
        b = s.encode("utf-8")
    except UnicodeEncodeError:
        return
    assert xxh.xxhash64_bytes(b) == _spark_hashes(spark, [s])[0]


def test_spark_cast_string_refuses_floats():
    with pytest.raises(TypeError):
        xxh.bucket_of(1.5, 8)
    with pytest.raises(TypeError):
        xxh.bucket_of(True, 8)


def test_buckets_of_distinct_sorted():
    out = xxh.buckets_of([1, 2, 3, 1, 2, 3, 17], 4)
    assert out == sorted(set(out))
    assert all(0 <= b < 4 for b in out)
