"""Engine-portable deterministic hashing.

Spark's builtin ``hash()``/``xxhash64()`` are Spark-specific Murmur3/
XXH64 seeds; DuckDB's ``hash()`` differs too. For oracle-checkable
dedup / fingerprint / LSH operators we need a hash whose value is
bit-identical across engines, built only from ANSI-ish primitives:

    hash32(s) = int(md5(s)[0:8], 16)        # 32-bit, non-negative

Both engines evaluate md5 as lowercase hex; the hex→int conversion is
8 digit-lookups. ``hash32`` builds the Spark Column; ``sql_hash32``
emits the equivalent SQL string for the DuckDB oracle. Salted
variants give independent hash families for MinHash/LSH.

Cost note (100 TB): md5 per row/shingle is JVM-side
(whole-stage-codegen), no shuffle, embarrassingly parallel. For a
production-only path you'd swap in xxhash64 (faster, same shape);
the md5 form exists so correctness can be oracle-verified.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"
# 16^7 .. 16^0
_POW16 = [268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1]


def salted_md5(col: Column | str, salt: str | None = None) -> Column:
    """md5(salt || ':' || s) as lowercase hex — the shared digest for
    hash-pair extraction. Hot paths project THIS once as a real column
    and slice halves with ``hash32_from_digest``: plans whose hashing
    sits outside whole-stage codegen (e.g. next to a Generate) get no
    subexpression elimination, so two full hash32() calls would run
    md5 twice per row."""
    c = F.col(col) if isinstance(col, str) else col
    if salt is not None:
        c = F.concat(F.lit(f"{salt}:"), c)
    return F.md5(c)


def hash32_from_digest(digest: Column | str, half: int = 0) -> Column:
    """32-bit value from an already-computed md5 hex digest column.
    ``half`` selects which 8 hex digits (0 → 1-8, 1 → 9-16)."""
    d = F.col(digest) if isinstance(digest, str) else digest
    return F.conv(F.substring(d, 1 + 8 * half, 8), 16, 10).cast("long")


def hash32(col: Column | str, salt: str | None = None) -> Column:
    """Spark Column: 32 bits of md5(salt || ':' || s) as a long.
    Convenience one-expression form; callers needing BOTH halves on a
    hot path should project ``salted_md5`` once and use
    ``hash32_from_digest`` (see its docstring)."""
    return hash32_from_digest(salted_md5(col, salt))


def sql_hash32(expr: str, salt: str | None = None, half: int = 0) -> str:
    """DuckDB SQL string computing the identical value to hash32()."""
    if salt is not None:
        expr = f"concat('{salt}:', {expr})"
    digits = " + ".join(
        f"(strpos('{_HEX}', substr(md5({expr}), {8 * half + i + 1}, 1)) - 1) * {p}"
        for i, p in enumerate(_POW16)
    )
    return f"({digits})"


def micro(col: Column, scale: int = 1_000_000) -> Column:
    """Version-robust encoding of a final double column: integer
    micro-units via floor(x·scale + 0.5) as BIGINT.

    ROUND(double, n) emits a double whose half-way tie behavior has
    drifted across oracle-engine releases (the only red-row signature
    in round 5: rows+schema matched, hash didn't). floor(x + 0.5) is
    pure IEEE arithmetic every engine evaluates bit-identically, and
    an integer column hashes identically everywhere. The repo-wide
    encoding rule (COVERAGE.md "Oracle encoding rule"): any query
    whose FINAL output column is a rounded double ships it as
    ``<name>_micro`` = micro(expr) instead, with ``sql_micro`` as the
    oracle twin. Note floor(x+0.5) rounds half-UP for negatives too
    (−0.5 → 0) — consistent on both sides, which is all that
    matters."""
    return F.floor(col * F.lit(float(scale)) + F.lit(0.5)).cast("long")


def sql_micro(expr: str, scale: int = 1_000_000) -> str:
    """DuckDB SQL twin of ``micro()``."""
    return f"CAST(FLOOR(({expr}) * {scale} + 0.5) AS BIGINT)"


def int_div(a: Column, b: Column) -> Column:
    """Exact integer FLOOR-division as a Column expression (the
    Column-API twin of SQL ``a DIV b`` for non-negative operands,
    usable where F.expr can't reach, e.g. inside helpers that take
    arbitrary Columns): subtract the non-negative pmod remainder so
    the dividend is an exact multiple of b, then the double division
    of that multiple is exactly its integer quotient while both
    operands stay below 2^53. Engine-portable: truncating and
    flooring integer division agree on exact multiples. NULL on a
    zero divisor (matching SQL DIV semantics): the CASE guard keeps
    ANSI mode (the Spark 4 default) from throwing — CASE branches
    evaluate lazily, the documented ANSI escape."""
    m = a - F.pmod(a, b)
    return F.when(b != 0, (m / b).cast("long"))


def sql_hash32_from_digest(expr: str, half: int = 0) -> str:
    """DuckDB SQL: 32-bit value from an already-computed md5 hex
    digest expression (the oracle twin of ``hash32_from_digest``).
    Use when the digest lives in a CTE column so the oracle, like the
    Spark plan, hashes once and slices halves."""
    digits = " + ".join(
        f"(strpos('{_HEX}', substr({expr}, {8 * half + i + 1}, 1)) - 1) * {p}"
        for i, p in enumerate(_POW16)
    )
    return f"({digits})"
