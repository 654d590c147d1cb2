"""Vector algebra as pure-SQL column expressions.

These are the oracle-checkable twins of the reference's NumPy operations
(rclip_server.py:141/180/187 normalize, :196 dot-product scoring, :267-268
min-max scaling). They stay entirely JVM-side — higher-order array functions,
no Python in the loop — so Catalyst keeps whole-stage codegen around them.
The BLAS-speed scoring path lives in operators/similarity.py (Arrow GEMV);
these expressions are the semantics-defining reference implementation.

All arithmetic is done in DOUBLE regardless of the (float32) storage type so
that results are bit-comparable with the DuckDB oracle.
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    if isinstance(c, SqlExpr):
        return F.expr(c)
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# SQL-text fast path (r14 optimization round).
#
# Profiling showed DataFrame CONSTRUCTION — not execution — dominating the
# vector-heavy query rows at bench scale: every py4j round-trip costs
# ~0.5 ms on this host, a python-lambda higher-order function ~10 ms, a
# 64-element F.array of F.lits ~31 ms — while F.expr parses an arbitrarily
# large SQL string in ~0.4 ms flat (ONE round-trip; parsing happens in the
# JVM). Guide §5/§7.3: the driver should do almost no work on the query
# path. The helpers below therefore render the same expressions as SQL
# text. The parsed trees are semantically identical to the lambda-built
# ones (verified bit-exact against the DuckDB oracle by
# tools/check_contract.py), so results cannot change — only driver-side
# build cost does.
# ---------------------------------------------------------------------------

_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


class SqlExpr(str):
    """A SQL-text expression fragment. Functions in this package accept it
    anywhere a column name is accepted and splice the raw text instead of
    quoting it as an identifier."""


def sql_ref(c: str) -> str:
    """Render a column NAME (possibly dotted) or SqlExpr fragment as SQL."""
    if isinstance(c, SqlExpr):
        return str(c)
    parts = c.split(".")
    if all(_IDENT_RE.match(p) for p in parts):
        return ".".join(f"`{p}`" for p in parts)
    raise ValueError(f"not a plain column name: {c!r}")


def _can_text(*cs) -> bool:
    """True when every input can take the SQL-text path."""
    for c in cs:
        if isinstance(c, SqlExpr):
            continue
        if isinstance(c, str):
            try:
                sql_ref(c)
            except ValueError:
                return False
            continue
        return False
    return True


def float_sql(v: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-trip
    representation and Spark parses <digits>D via Double.parseDouble, so
    the parsed value is bit-identical."""
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"non-finite literal {v!r} has no portable SQL form")
    return repr(v) + "D"


def vec_lit_sql(values: Sequence[float]) -> SqlExpr:
    """A literal array<double> as a SQL-text fragment (zero py4j calls)."""
    return SqlExpr("array(" + ",".join(float_sql(v) for v in values) + ")")


def dot_sql(a: str, b: str) -> SqlExpr:
    """SQL text of ``dot`` below — identical expression tree once parsed."""
    return SqlExpr(
        f"aggregate(zip_with({sql_ref(a)}, {sql_ref(b)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def vec_lit(values: Sequence[float]) -> Column:
    """A literal vector as array<double>.

    Built as ONE ``F.lit`` of a float64 ndarray (a single JVM Literal and a
    single py4j round-trip) instead of ``F.array(*[F.lit(v) ...])`` (dim
    py4j calls + a dim-child CreateArray node). Catalyst constant-folds the
    old CreateArray-of-literals into exactly this Literal before execution,
    so the executed plan — and therefore every result — is unchanged; what
    changes is driver-side construction cost, which profiling showed
    dominating the vector-literal-heavy query paths (r14 opt round, §5/§7.3
    of the optimization guide: keep the driver out of the hot path)."""
    import numpy as np

    arr = np.asarray(list(values), dtype=np.float64)
    return F.lit(arr)


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dot product of two array columns, accumulated left-to-right in double.

    Mirrors the reference's GEMV row semantics (rclip_server.py:196): on
    unit-norm inputs this IS cosine similarity. When both inputs are names
    (or SqlExpr fragments) the expression is built as one parsed SQL string
    — same tree, ~50x cheaper to construct (see the SQL-text note above).
    """
    if _can_text(a, b):
        return F.expr(dot_sql(a, b))
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: ColumnOrName) -> Column:
    sq = F.aggregate(
        _col(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(sq)


def l2_normalize(a: ColumnOrName) -> Column:
    """x / ||x||2, the invariant the reference maintains at index time
    (index_wikimedia.py:148-150) and query time (rclip_server.py:141)."""
    a = _col(a)
    n = l2_norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def scale(a: ColumnOrName, s) -> Column:
    """a * scalar (signed weighted term scaling, rclip_server.py:136)."""
    s = F.lit(float(s)) if not isinstance(s, Column) else s
    return F.transform(_col(a), lambda x: x.cast("double") * s)


def vsub(a: ColumnOrName, b: ColumnOrName) -> Column:
    return F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") - y.cast("double"))


def cosine(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine similarity for NOT-pre-normalized inputs."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def minmax_scale(a: ColumnOrName, mins: ColumnOrName, ranges: ColumnOrName) -> Column:
    """(x - min) / range, element-wise over three parallel arrays
    (rclip_server.py:267-268, the visualization normalizer)."""
    shifted = F.zip_with(_col(a), _col(mins), lambda x, m: x.cast("double") - m.cast("double"))
    return F.zip_with(shifted, _col(ranges), lambda x, r: x / r.cast("double"))


def quantize_int8(a: ColumnOrName, scale: float = 127.0) -> Column:
    """Symmetric int8 quantization: round(x * scale) per element.

    Unit-norm components lie in [-1, 1], so scale 127 fits int8 exactly —
    a 4x storage cut (512 floats → 512 bytes) that matters at 100 TB. Kept
    as array<int> at rest here for parquet/oracle portability; round() is
    half-away-from-zero in both engines, so the quantized values (and any
    score computed from them) are bit-identical cross-engine."""
    s = F.lit(float(scale))
    return F.transform(_col(a), lambda x: F.round(x.cast("double") * s).cast("int"))


def dequantize_int8(q: ColumnOrName, scale: float = 127.0) -> Column:
    """Inverse of quantize_int8 (max abs error 1/(2*scale) per component)."""
    s = F.lit(float(scale))
    return F.transform(_col(q), lambda x: x.cast("double") / s)


def binarize_words(a: ColumnOrName, dim: int, word_bits: int = 32) -> Column:
    """Binary (sign-bit) quantization: pack the embedding's signs into
    ceil(dim/word_bits) BIGINT words — bit i of word w is 1 iff
    a[w*word_bits + i] >= 0. At dim 64 that is 8 bytes per vector vs 256
    for float32: a 32x storage/IO cut, the coarsest tier of the
    quantization ladder (float32 -> int8 -> binary). 32-bit words keep the
    packed value well inside int64 (no sign-bit ambiguity, ANSI-safe).

    DuckDB twin: the same CASE-sum per word (see contract.binary_words_sql).
    """
    c = _col(a)
    words = []
    for w in range(0, dim, word_bits):
        bits = [
            F.when(
                F.element_at(c, w + i + 1) >= 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            for i in range(min(word_bits, dim - w))
        ]
        acc = bits[0]
        for b in bits[1:]:
            acc = acc + b
        words.append(acc)
    return F.array(*words)


def hamming_packed(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Hamming distance between two packed sign-bit arrays: popcount of the
    per-word XOR, summed — pure JVM bit math, no UDF."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"),
        lambda acc, h: acc + h.cast("long"),
    )
