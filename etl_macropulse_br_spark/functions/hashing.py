"""Portable hashing expressions for dedup / fingerprinting.

Every hash here is md5-based and bit-identical across Spark and
DuckDB, so MinHash/SimHash/fingerprint operators can be
correctness-gated against the SQL oracle. ``md5_long`` maps any
string to a signed 60-bit integer: Spark
``conv(substring(md5(x),1,15),16,10)`` == DuckDB
``CAST('0x'||substring(md5(x),1,15) AS BIGINT)``. Where oracle
portability is not needed, Spark's built-in ``F.xxhash64`` is the
fast JVM-side alternative.

Seeded variants prefix the input with ``<seed>:`` so k independent
hash functions come from one primitive (standard MinHash
construction; see Broder 1997, "On the resemblance and containment
of documents").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column | str, seed: int | None = None) -> Column:
    """String → signed 60-bit integer, portable across engines."""
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint")


def md5_long_sql(expr: str, seed: int | None = None) -> str:
    """DuckDB-side twin of :func:`md5_long` (same bits)."""
    inner = f"concat('{seed}:', {expr})" if seed is not None else expr
    return f"CAST(concat('0x', substring(md5({inner}), 1, 15)) AS BIGINT)"


def _lcg_constants(k: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs for the 2-universal hash family
    h_i(x) = a_i * x + b_i over 32-bit bases. a_i odd, < 2^31 so the
    product of a 32-bit base never overflows signed 64-bit. Plain LCG
    so Spark code, SQL oracle, and tests all derive identical tables."""
    state = seed
    out = []
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = ((state >> 16) % (1 << 31)) | 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % (1 << 31)
        out.append((a, b))
    return out


_MASK32 = (1 << 32) - 1

# Mersenne prime for the MinHash family's modular reduction (r9
# review fix): WITHOUT a reduction, h_i(x) = a_i*x + b_i with
# a_i < 2^31 and x < 2^32 never wraps int64, so every h_i is
# strictly MONOTONE in x — array_min then always selects the same
# minimum base for all k functions, the k signature components are
# perfect copies of one hash (agreeing all-or-nothing between
# documents), and banded LSH's 1-(1-J^r)^b recall collapses to
# plain J. The modulus must also be SMALL relative to a_i's range:
# with a large P (2^61-1 was tried) the map wraps at most ~once
# over the 32-bit base domain — piecewise-monotone, still
# near-perfectly correlated (measured 16/16 component agreement at
# true J=0.49). P = 2^31-1 with a_i, b_i < 2^31 is the standard
# Carter-Wegman instance: a_i*x wraps ~2^31 times across the base
# domain (thorough mixing, measured ~J*k agreement), the product
# stays under 2^63 (no int64 wrap), operands stay positive, and
# Spark's pmod == DuckDB's % bit-for-bit. Distinct bases congruent
# mod P collide for every a_i (~2^-31 pair probability — the same
# order as a truly universal family's collision rate).
_MINHASH_P = (1 << 31) - 1

# Identifier of the CURRENT minhash construction (base fold + LCG
# constants + Carter-Wegman modulus), stamped into persisted
# signature-index sidecars (operators/signature_index.py) so state
# written under a DIFFERENT family is rejected loudly instead of
# silently never colliding with new signatures (r10, ADVICE r9 #1:
# the r9 mod-P fix changed every signature value, so a pre-fix
# index would yield zero base matches with no error). Bump the
# suffix whenever the construction changes value-visibly.
MINHASH_FAMILY = f"md5-32+lcg0x5EED*mod{_MINHASH_P}-v2"


def base32(col: Column | str) -> Column:
    """One portable md5 per input, folded to 32 bits — the shared
    base for the k-hash family (one md5 instead of k)."""
    return md5_long(col).bitwiseAND(F.lit(_MASK32))


def universal_hashes(base: Column, k: int) -> list[Column]:
    """k independent integer hashes of a 32-bit base column."""
    return [base * F.lit(a) + F.lit(b) for a, b in _lcg_constants(k)]


def base32_sql(expr: str) -> str:
    return f"({md5_long_sql(expr)} & {_MASK32})"


def universal_hashes_sql(base_expr: str, k: int) -> list[str]:
    return [f"({base_expr} * {a} + {b})" for a, b in _lcg_constants(k)]
