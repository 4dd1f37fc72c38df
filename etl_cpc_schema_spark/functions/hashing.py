"""Portable deterministic hashing — identical in Spark and DuckDB.

Spark's ``xxhash64``/``hash`` and DuckDB's ``hash`` are different
functions, so oracle-checkable hash-based operators (MinHash, SimHash,
LSH bucketing) need a hash both engines compute bit-identically.  We
derive a 60-bit integer from md5 (same algorithm everywhere):

* Spark:  ``conv(substr(md5(x), 1, 15), 16, 10)`` cast to BIGINT
* DuckDB: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``

15 hex digits < 2^60 always fits a signed 64-bit integer, and md5 is
uniform enough for sketching.  On the Spark side this is still
JVM-side, codegen-able expression work (no Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash64(col: Column, seed: int | str = 0) -> Column:
    """Deterministic 60-bit hash of a string column, seedable."""
    salted = F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("bigint")


def portable_hash64_sql(expr: str, seed: int | str = 0) -> str:
    """DuckDB SQL producing the identical value as ``portable_hash64``."""
    return f"CAST('0x' || substr(md5('{seed}:' || {expr}), 1, 15) AS BIGINT)"


#: Modulus for the affine MinHash family — largest 31-bit prime, so
#: a*h0+b stays well inside int64 (a, h0 < 2^31 → product < 2^62).
MINHASH_MOD = 2147483647


def minhash_affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per hash, derived from md5 so the DuckDB
    oracle can embed the identical constants."""
    import hashlib

    out: list[tuple[int, int]] = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"mh-a:{i}".encode()).hexdigest()[:7], 16) % (
            MINHASH_MOD - 1
        ) + 1
        b = int(hashlib.md5(f"mh-b:{i}".encode()).hexdigest()[:7], 16) % MINHASH_MOD
        out.append((a, b))
    return out

