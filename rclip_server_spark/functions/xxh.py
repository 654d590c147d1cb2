"""Driver-side twin of Spark's ``xxhash64`` expression (XXH64,
seed 42) — so bucket resolution for the hash-bucketed at-rest layouts
needs ZERO Spark jobs on the serving path.

Why it exists: the bucketed index layouts route rows by
``pmod(xxhash64(cast(key as string)), n_buckets)`` (versioned._bucket_expr).
A query that wants file-level pruning must map its probe VALUES (LSH
bucket ids for the ANN index, query terms for the text index) to
physical buckets BEFORE the scan plan is built. Doing that with a
createDataFrame+collect round trip (the r12 shape) costs a full Spark
job per query — bounded, but a job on every serving-path call. This
module evaluates the exact same function driver-side in pure Python:
XXH64 is a published, stable spec (Spark implements it verbatim in
``org.apache.spark.sql.catalyst.expressions.XXH64``), and parity is
PINNED by tests/test_xxh.py, which compares this implementation
against the live Spark expression over every tail-length class and a
hypothesis fuzz sweep — any divergence fails the suite, so the
serving path can never silently prune the wrong files.

Scale: O(len(value)) per probe value, a few microseconds driver-side;
nothing here touches the cluster.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, k: int) -> int:
    acc = (acc + k * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M64


def xxhash64_bytes(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` with ``seed``, returned as Spark's SIGNED
    64-bit long (two's complement) — bit-identical to
    ``F.xxhash64(F.lit(data_as_string))`` on UTF-8 bytes. Default
    seed 42 is Spark's fixed xxhash64 seed."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7)
             + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_cast_string(value) -> str:
    """``CAST(value AS STRING)`` for the key types the bucketed
    layouts route on (string and integral keys — the only types the
    engine buckets by today). Floats/decimals are refused loudly
    rather than risking a repr mismatch with Spark's cast rules."""
    if isinstance(value, str):
        return value
    if isinstance(value, bool) or not isinstance(value, int):
        raise TypeError(
            f"driver-side bucket resolution supports string/integral "
            f"keys only, got {type(value).__name__}: {value!r}")
    return str(value)


def bucket_of(value, n_buckets: int) -> int:
    """Physical hash bucket of a key VALUE under the writer's layout
    expression ``pmod(xxhash64(cast(key as string)), n_buckets)`` —
    evaluated entirely driver-side. Python's % on a positive modulus
    is already pmod (non-negative), so the signed hash needs no extra
    normalization."""
    h = xxhash64_bytes(spark_cast_string(value).encode("utf-8"))
    return int(h % int(n_buckets))


def buckets_of(values, n_buckets: int) -> list[int]:
    """Sorted distinct physical buckets for a probe-value list —
    the serving-path helper both index query paths share."""
    return sorted({bucket_of(v, n_buckets) for v in values})
