"""Cross-engine deterministic hashing.

Spark's ``hash()``/``xxhash64()`` and DuckDB's ``hash()`` are different
functions, so any operator whose *output* depends on hash values (MinHash,
SimHash, LSH banding, fingerprints) could never be checked against a DuckDB
oracle with them.  Instead we standardize on MD5 — bit-identical in every
engine — and derive a 60-bit integer from the first 15 hex chars:

    Spark : CAST(CONV(SUBSTRING(MD5(s), 1, 15), 16, 10) AS BIGINT)
    DuckDB: CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT)

Verified identical (e.g. h64('abc') == 648541476951500027 in both).

MinHash uses the classic family of universal hash functions
h_i(x) = (a_i * (x mod P) + b_i) mod P with P = 2^31 - 1 (Mersenne prime).
P is deliberately 31-bit: a_i and (x mod P) are both < 2^31, so the product
stays below 2^62 and never overflows BIGINT arithmetic in either engine.
The (a_i, b_i) pairs are derived deterministically from MD5 of the
permutation index so both engines generate the same family without sharing
state.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, functions as F

#: Mersenne prime 2^31 - 1; modulus for the universal hash family (31-bit so
#: that a*x fits in signed 64-bit integers on every engine).
MERSENNE_P = (1 << 31) - 1

#: Bits taken from the MD5 hex digest (15 hex chars = 60 bits < 2^61).
_HEX_CHARS = 15


def h64(col: Column | str) -> Column:
    """Spark column: deterministic 60-bit integer hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, _HEX_CHARS), 16, 10).cast("long")


def h64_sql(expr: str) -> str:
    """DuckDB SQL text computing the identical hash of ``expr``."""
    return f"CAST('0x' || SUBSTR(MD5(CAST({expr} AS VARCHAR)), 1, {_HEX_CHARS}) AS BIGINT)"


def _digest_int(seed: str) -> int:
    """Deterministic python-side integer from a seed string (driver-side only;
    used to derive hash-family constants, never applied per-row)."""
    return int(hashlib.md5(seed.encode()).hexdigest()[:_HEX_CHARS], 16)


def minhash_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """(a, b) pairs for the universal hash family, identical for any engine."""
    coeffs = []
    for i in range(num_perm):
        a = _digest_int(f"minhash-a-{i}") % (MERSENNE_P - 1) + 1  # a != 0
        b = _digest_int(f"minhash-b-{i}") % MERSENNE_P
        coeffs.append((a, b))
    return coeffs
