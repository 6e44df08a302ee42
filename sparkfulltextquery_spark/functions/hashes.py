"""Portable hashing primitives.

The reference's hash surface is Murmur3Hash/XxHash64 (catalyst
expressions/misc.scala:443/527) — fast but engine-specific. For operators
whose *outputs* must be reproducible across engines (MinHash signatures,
SimHash fingerprints, content addresses), this module defines hashes on top
of md5, which every engine computes identically:

- ``h60(col)``  : first 15 hex chars of md5 → 60-bit non-negative bigint
- ``h28(col)``  : first 7 hex chars of md5 → 28-bit int, small enough that
                  ``(a*h + b) % p`` never overflows a signed 64-bit int for
                  a,b < 2^31 — the MinHash permutation primitive.

Inside Spark-only hot paths (shuffle partitioning, LSH banding where only
self-consistency matters) prefer F.hash / F.xxhash64 — they avoid the md5
string round-trip.

Each helper has a DuckDB SQL twin (``*_duck``) so oracle queries stay in
lockstep by construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Prime modulus for MinHash permutations: largest prime < 2^31.
MINHASH_PRIME = 2147483647


def h60(col: Column | str) -> Column:
    """60-bit portable hash (bigint in [0, 2^60))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def h60_duck(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def h28(col: Column | str) -> Column:
    """28-bit portable hash (int in [0, 2^28)) — safe for modular products."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def h28_duck(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 7))::BIGINT"

