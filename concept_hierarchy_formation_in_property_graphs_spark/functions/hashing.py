"""Portable deterministic hashing for MinHash / SimHash / fingerprints.

Built on ``md5`` because both Spark SQL and DuckDB expose it with identical
semantics, so every sketch here is oracle-SQL-expressible:

    Spark:  conv(substring(md5(x), 1, 15), 16, 10) :: bigint
    DuckDB: ('0x' || substring(md5(x), 1, 15)) :: bigint

The permutation family works in Z_p with p = 2^31 - 1 (Mersenne) so that
``a * h + b`` never exceeds 2^62 — exact in 64-bit integer arithmetic on
both engines. All expressions are JVM-side built-ins (whole-stage codegen),
no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_PRIME = 2_147_483_647  # 2^31 - 1
PERM_SEED = 0x9E3779B9  # seeds the LCG behind every MinHash permutation


def md5_long(col: Column) -> Column:
    """60-bit integer from md5 — portable Spark<->DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5_long` (value-identical)."""
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT)"


def perm_coeffs(n: int) -> list[tuple[int, int]]:
    """n deterministic (a, b) pairs, 1 <= a < p, 0 <= b < p (seeded LCG)."""
    out = []
    x = PERM_SEED % HASH_PRIME
    for _ in range(n):
        x = (x * 48271) % HASH_PRIME  # Lehmer
        a = x or 1
        x = (x * 48271) % HASH_PRIME
        b = x
        out.append((a, b))
    return out


def permuted(h: Column, a: int, b: int) -> Column:
    """(a * (h mod p) + b) mod p — exact in 64-bit for a, b < p < 2^31."""
    p = F.lit(HASH_PRIME)
    return F.pmod(F.lit(a) * F.pmod(h, p) + F.lit(b), p)


def permuted_sql(hexpr: str, a: int, b: int) -> str:
    p = HASH_PRIME
    return f"((({a} * (({hexpr}) % {p})) + {b}) % {p})"
