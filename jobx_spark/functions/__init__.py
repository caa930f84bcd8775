"""Deterministic scalar/aggregate helpers used across the query surface.

Two cross-engine problems are solved here once:

1. **Float-sum determinism.** ``SUM(double)`` is order-dependent, and
   Spark's partial/final aggregation order differs run-to-run and from
   DuckDB's. Casting each addend to ``DECIMAL(38, s)`` first makes the
   sum exact (order-independent); casting the exact total back to
   DOUBLE is then deterministic in both engines. This also holds at
   100 TB — decimal sums are Tungsten-native and still map-side
   combinable, so the plan shape is unchanged.

2. **Portable 60-bit string hash.** Text operators (minhash, simhash,
   fingerprints) need the *same* hash in Spark and in the DuckDB oracle.
   Spark's ``hash``/``xxhash64`` and DuckDB's ``hash`` are different
   functions, so we standardize on the first 15 hex digits of ``md5``
   (60 bits, always non-negative, fits BIGINT):

       Spark : CAST(CONV(SUBSTRING(MD5(s), 1, 15), 16, 10) AS BIGINT)
       DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- decimal sums


def dsum(col: Column | str, scale: int = 8) -> Column:
    """Order-independent SUM over doubles: exact decimal sum → double.

    The final decimal→double conversion goes through a string cast:
    DuckDB's direct DECIMAL→DOUBLE cast double-rounds (int128→double,
    then ÷10^scale) once the scaled integer exceeds 2^53, while Spark
    (BigDecimal) rounds correctly — observed as 1-ulp divergence on
    sf0.01 group totals. ``parseDouble``/``strtod`` are both correctly
    rounded, at any magnitude, so decimal→string→double is identical in
    both engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("string").cast("double")


def davg(col: Column | str, scale: int = 8) -> Column:
    """Order-independent AVG: exact decimal sum → double, / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal(38,{scale})")).cast("string").cast("double") / F.count(c)
    )


def dsum_sql(expr: str, scale: int = 8) -> str:
    """DuckDB-side rendering of :func:`dsum`."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,{scale}))) AS VARCHAR) AS DOUBLE)"


def davg_sql(expr: str, scale: int = 8) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,{scale}))) AS VARCHAR) AS DOUBLE)"
        f" / COUNT({expr})"
    )


# ---------------------------------------------------------------- portable hash

MD5_LONG_SQL_DUCK = "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def md5_long(col: Column | str) -> Column:
    """60-bit non-negative BIGINT hash of a string column (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql_duck(expr: str) -> str:
    return MD5_LONG_SQL_DUCK.format(expr=expr)


# Universal-hash family over the 60-bit base hash, for minhash seeds.
# h_i(x) = (a_i * h(x) + b_i) mod P  computed in modular arithmetic that
# stays within signed-64 range: P < 2^30 so a*h mod P < 2^60.
MINHASH_P = 1_073_741_789  # largest prime < 2^30


def perm_hash(base: Column, a: int, b: int) -> Column:
    """(a * (h mod P) + b) mod P — same arithmetic is expressible in SQL."""
    return ((base % MINHASH_P) * a + b) % MINHASH_P


def minhash_coeffs(n: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from a tiny LCG (no RNG import —
    identical values are re-derivable inside SQL if ever needed)."""
    coeffs = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MINHASH_P - 2)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MINHASH_P
        coeffs.append((a, b))
    return coeffs
