"""Portable deterministic hashing primitives.

Dedup/sketch operators (MinHash, SimHash, fingerprints) need a hash that is
(a) computable as a pure Catalyst expression (JVM-side, codegen-friendly)
and (b) *reproducible outside Spark* so the DuckDB oracle can verify every
sketch bit-for-bit. `xxhash64`/`hash` are Spark-private algorithms, so we
derive integers from `md5` hex — identical in any engine.

At 100 TB this stays the right call: md5 on a short shingle is a few ns,
the expression pipelines inside whole-stage codegen, and there is no Python
in the path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 60-bit hashes (15 hex chars) keep values positive in a signed 64-bit long
# in every engine — no unsigned-overflow edge cases.
_HEX_CHARS_60 = 15
# 32-bit hashes (8 hex chars) for SimHash bit sampling.
_HEX_CHARS_32 = 8


def hash60(col: Column) -> Column:
    """Deterministic 60-bit non-negative hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_CHARS_60), 16, 10).cast("long")


def hash32(col: Column) -> Column:
    """Deterministic 32-bit non-negative hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_CHARS_32), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    """DuckDB SQL text computing the same value as :func:`hash60`."""
    return f"CAST('0x' || substr(md5({expr}), 1, {_HEX_CHARS_60}) AS BIGINT)"


def hash32_sql(expr: str) -> str:
    """DuckDB SQL text computing the same value as :func:`hash32`."""
    return f"CAST('0x' || substr(md5({expr}), 1, {_HEX_CHARS_32}) AS BIGINT)"


# ---------------------------------------------------------------------------
# Linear permutation family over a 32-bit base hash:
#   perm_i(h) = (A_i * h + B_i) mod P
# One md5 per input feeds any number of permutations with two integer ops
# each — the standard MinHash trick, and the reason n_perm=64 is cheap.
# Bounds: A_i < 2^31, h < 2^32 ⇒ A_i*h < 2^63 (no signed-64 overflow in any
# engine); P is the Mersenne prime 2^61-1.

PERM_P = (1 << 61) - 1


def perm_coeffs(i: int) -> tuple[int, int]:
    """Deterministic (A_i, B_i) for permutation i (LCG-spread constants)."""
    a = ((1103515245 * (i + 1) + 12345) % ((1 << 31) - 1)) | 1
    b = (69069 * (i + 1) + 1) % ((1 << 31) - 1)
    return a, b


def perm_hash(h: Column, i: int) -> Column:
    a, b = perm_coeffs(i)
    return (h * F.lit(a) + F.lit(b)) % F.lit(PERM_P)


def perm_hash_sql(expr: str, i: int) -> str:
    a, b = perm_coeffs(i)
    return f"(({expr}) * {a} + {b}) % {PERM_P}"
