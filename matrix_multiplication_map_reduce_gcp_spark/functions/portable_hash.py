"""Engine-portable hashing built on MD5 hex strings.

Spark's ``xxhash64``/``hash`` and DuckDB's ``hash`` are different
functions, so any operator whose *output* depends on hash values
(MinHash signatures, SimHash bits, LSH buckets, fingerprints) could
never be oracle-checked across engines with the native hashes. MD5 is
identical everywhere; we derive:

- string hashes: the hex digest itself (orderable, so MIN() works —
  that is all MinHash needs);
- integer hashes: the first 8 hex chars parsed as a 32-bit unsigned
  int (Spark ``conv(hex,16,10)``, DuckDB ``CAST('0x'||hex AS BIGINT)``).

MD5 is cryptographically broken but that is irrelevant here — we need
a well-mixed deterministic function, not collision resistance against
adversaries. At scale the cost is one JVM-side digest per row, still
whole-stage-codegen friendly (no Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hex(col: Column) -> Column:
    """MD5 hex digest of a string column (32 lowercase hex chars)."""
    return F.md5(col.cast("string"))


def hash32(col: Column, seed: int = 0) -> Column:
    """Portable unsigned-32-bit integer hash of a string column."""
    salted = F.concat(F.lit(f"s{seed}|"), col.cast("string"))
    return F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("bigint")


def sql_hash32(expr: str, seed: int = 0) -> str:
    """DuckDB SQL mirror of :func:`hash32`."""
    return (
        f"CAST(CONCAT('0x', substr(md5(CONCAT('s{seed}|', CAST({expr} AS VARCHAR))), 1, 8)) AS BIGINT)"
    )


def hash32_unsalted(col: Column) -> Column:
    """Unsalted 32-bit hash (md5-prefix) — the base of derived hash
    families (e.g. MinHash's affine transforms)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")


def sql_hash32_unsalted(expr: str) -> str:
    # CAST mirrors hash32_unsalted's .cast("string") — without it,
    # DuckDB's md5() rejects non-VARCHAR inputs that Spark silently casts.
    return f"CAST(CONCAT('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 8)) AS BIGINT)"


# ---- digest slicing: k independent 32-bit hashes from ONE md5 ------------
#
# Sketches needing k hash functions (count-min depth, Bloom probes)
# pay one digest per key and slice the 32 hex chars into four 8-char
# windows — same portability contract as hash32, ~4x cheaper on the
# build scan. Both engines' parse idioms live HERE so they cannot
# drift apart per consumer module.


def digest(col: Column) -> Column:
    """One md5 hex digest per key — the source of all hash slices."""
    return F.md5(F.concat(F.lit("c|"), col.cast("string")))


def digest_slice32(h: str, seed) -> Column:
    """32-bit hash #seed (0..3) from digest column named ``h``;
    ``seed`` is a column name or an int literal."""
    return F.expr(
        f"CAST(conv(substring({h}, 1 + 8 * {seed}, 8), 16, 10) AS BIGINT)"
    )


def sql_digest(expr: str) -> str:
    return f"md5(CONCAT('c|', CAST({expr} AS VARCHAR)))"


def sql_digest_slice32(h: str, seed: str) -> str:
    return f"CAST(CONCAT('0x', substr({h}, 1 + 8 * ({seed}), 8)) AS BIGINT)"


def hash60(col: Column, seed: int = 0) -> Column:
    """Portable unsigned-60-bit integer hash: the first 15 hex chars
    of the salted md5 (60 bits exactly — sign-safe in a bigint). One
    digest yields the whole value; used where 32 bits of key space is
    too narrow (SimHash bands: candidate volume scales with n²/2^band_bits,
    so band width is recall-neutral but collision-critical)."""
    salted = F.concat(F.lit(f"s{seed}|"), col.cast("string"))
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("bigint")


def sql_hash60(expr: str, seed: int = 0) -> str:
    """DuckDB SQL mirror of :func:`hash60`."""
    return (
        f"CAST(CONCAT('0x', substr(md5(CONCAT('s{seed}|', CAST({expr} AS VARCHAR))), 1, 15)) AS BIGINT)"
    )


def hex_slice(col: Column, start: int, length: int) -> Column:
    """Integer value of ``length`` hex chars of a hex-string column,
    1-based ``start``; length <= 15 stays sign-safe in a bigint. The
    generic slice-parse idiom behind shard ids / membership checksums
    — consumers must not re-inline the conv() so the two engines'
    parses cannot drift apart per module (same contract as hash32)."""
    return F.conv(F.substring(col, start, length), 16, 10).cast("bigint")


def sql_hex_slice(expr: str, start: int, length: int) -> str:
    """DuckDB SQL mirror of :func:`hex_slice`."""
    return f"CAST(CONCAT('0x', substr({expr}, {start}, {length})) AS BIGINT)"
