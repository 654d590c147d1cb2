"""Portable hashing primitives for dedup/fingerprinting operators.

Everything here must produce IDENTICAL values in Spark and in the DuckDB
oracle, so the family is built on md5 (present and identical in both) rather
than engine-native hashes (Spark xxhash64/murmur ≠ DuckDB hash). Arithmetic
stays within int64 (Spark 4 runs ANSI mode: bigint overflow would error, not
wrap) — the base hash is 32-bit (< 2^32) and the affine multipliers are
clamped below 2^30, so a*h + b < 2^62 with real headroom.

DuckDB twin of ``portable_hash32``:
    CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: modulus of the affine minhash family.
MINHASH_PRIME = (1 << 31) - 1


def portable_hash32(c: Column) -> Column:
    """First 8 hex chars of md5 as a non-negative int64 in [0, 2^32)."""
    return hash32_from_md5(F.md5(c))


def hash32_from_md5(md5_hex: Column) -> Column:
    """32-bit int from an ALREADY-COMPUTED md5 hex string — lets pipelines
    that need both hash widths (minhash sig + verification sets) pay for the
    digest once."""
    return F.conv(F.substring(md5_hex, 1, 8), 16, 10).cast("long")


def hash60_from_md5(md5_hex: Column) -> Column:
    return F.conv(F.substring(md5_hex, 1, 15), 16, 10).cast("long")


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs for h_i(x) = (a_i * x + b_i) mod p, a_i odd."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 29, size=num_hashes) * 2 + 1
    b = rng.integers(0, 1 << 30, size=num_hashes)
    return [(int(ai), int(bi)) for ai, bi in zip(a, b)]


def affine_minhash(a: int, b: int):
    """h -> (a*h + b) mod p as a named lambda factory (closure, not default
    args: pyspark passes one Column per declared lambda parameter)."""
    return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)


def minhash_signature(shingles: Column, params: list[tuple[int, int]]) -> Column:
    """array<bigint> minhash signature over an array-of-string shingle column.

    Pure column expression — but NOTE the md5 transform is embedded once per
    family member, so Catalyst re-evaluates it |params| times. Fine for
    oracle/correctness use; the hot path is ``minhash_signature_over_hashed``
    on a pre-hashed COLUMN, which evaluates md5 once per shingle (measured
    14x faster at sf0.1)."""
    hashed = F.transform(shingles, portable_hash32)
    return minhash_signature_over_hashed(hashed, params)


def minhash_signature_over_hashed(hashed: Column | str, params: list[tuple[int, int]]) -> Column:
    """Signature from an already-hashed shingle column. Pass a NAMED column
    (two-step select): CollapseProject keeps a non-cheap alias referenced
    |params| times un-inlined, so the md5 pass runs once per row."""
    h = F.col(hashed) if isinstance(hashed, str) else hashed
    return F.array(*[F.array_min(F.transform(h, affine_minhash(a, b))) for (a, b) in params])


# --- Spark-dialect SQL-text twins (r14 optimization round) ----------------
# Driver-side profiling showed expression CONSTRUCTION dominating the dedup
# bench rows: a python-lambda higher-order function costs ~10 ms of py4j
# round-trips, and the minhash/simhash builders construct dozens of them.
# F.expr parses an arbitrarily large SQL string in ~0.4 ms, and the parsed
# tree is the same expression, so results are bit-identical (oracle-pinned
# by tools/check_contract.py). These render the SAME expressions as text;
# the Column builders above stay as the semantics reference and fallback.

def hash32_from_md5_sql(md5_ref: str) -> str:
    """Spark SQL text of ``hash32_from_md5`` over an md5-hex fragment."""
    return f"CAST(conv(substring({md5_ref}, 1, 8), 16, 10) AS BIGINT)"


def hash60_from_md5_sql(md5_ref: str) -> str:
    return f"CAST(conv(substring({md5_ref}, 1, 15), 16, 10) AS BIGINT)"


def minhash_signature_over_hashed_sql(
    hashed_ref: str, params: list[tuple[int, int]]
) -> str:
    """Spark SQL text of ``minhash_signature_over_hashed`` (same tree)."""
    mins = ", ".join(
        f"array_min(transform({hashed_ref}, h -> (h * {a} + {b}) % {MINHASH_PRIME}))"
        for (a, b) in params
    )
    return f"array({mins})"


def simhash32_sql(hashed_ref: str) -> str:
    """Spark SQL text of ``simhash32`` over an ALREADY-HASHED token-array
    fragment (array<bigint>) — same per-bit fold, same integer results."""
    bits = []
    for i in range(32):
        mask = 1 << i
        contrib = (
            f"aggregate({hashed_ref}, CAST(0 AS BIGINT), "
            f"(acc, h) -> acc + (CASE WHEN (h & {mask}) != 0 "
            "THEN 1 ELSE -1 END))"
        )
        bits.append(
            f"(CASE WHEN ({contrib}) > 0 THEN CAST({mask} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
        )
    return "(" + " + ".join(bits) + ")"


def simhash32(tokens: Column) -> Column:
    """32-bit SimHash fingerprint from a token array (portable across engines).

    Classic scheme: hash each token to 32 bits; for every bit position sum
    +1/-1 across tokens; the sign vector is the fingerprint. Expressed as a
    per-row fold over bit positions — no shuffle. 32 bits (not 64) because the
    portable base hash is the first 8 hex chars of md5; Hamming-banding for
    near-dup search works identically at this width.
    """
    hashed = F.transform(tokens, portable_hash32)

    def _contrib_fn(mask: int):
        # two-arg lambda in a closure: pyspark's higher-order-function shim
        # passes one Column per declared parameter, so a default-arg trick
        # (lambda acc, h, i=i:) would receive a spurious third Column
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, F.lit(1)
        ).otherwise(F.lit(-1))

    bits = []
    for i in range(32):
        contrib = F.aggregate(hashed, F.lit(0).cast("long"), _contrib_fn(1 << i))
        bits.append(F.when(contrib > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def single_partition_key(c: Column) -> Column:
    """A constant-zero partition key that SURVIVES constant folding
    (``F.lit(0)`` is folded out of a window's partitionSpec, re-emptying
    it). For windows whose input is bounded by construction (top-k slice,
    n_bins sketch rows): partitioning by this keeps the plan identical —
    one partition either way — while keeping the bounded case out of
    WindowExec's "No Partition Defined" warning log, so a genuinely
    unbounded global window elsewhere stands out. xxhash64 accepts any
    input type and never returns NULL; ``& 0`` pins the value."""
    return F.xxhash64(c).bitwiseAND(F.lit(0))
