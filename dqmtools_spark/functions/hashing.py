"""Engine-portable deterministic hash families.

The production dedup tiers hash with ``xxhash64`` (fastest JVM path),
but xxhash64 exists only inside Spark — a differential oracle running
in another engine (DuckDB, the driver's correctness gate) cannot
reproduce it.  This module defines a second, fully portable family:

- ``md5_hash60``: the first 15 hex chars (60 bits) of md5, as a
  non-negative BIGINT.  md5 is bit-identical everywhere; 15 hex chars
  keep the value inside a signed 64-bit integer in every engine.
  Spark:   ``conv(substring(md5(x), 1, 15), 16, 10)  :: long``
  DuckDB:  ``('0x' || substring(md5(x), 1, 15)) :: BIGINT``
- ``universal_hash_consts``: seeds for the classic ``(a*x + b) mod p``
  Carter–Wegman family over p = 2^31 - 1.  With ``x < p`` and
  ``a < p`` the product stays below 2^62, so the arithmetic is exact
  (and overflow-free) in int64 in Spark, DuckDB, numpy and Python —
  one md5 per value, then pure integer arithmetic per seed.

Reference analog: the reference pins decode determinism across C++ and
Python consumers the same way — by fixing byte-level layouts rather
than library hash functions (SURVEY §2.2 S3).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# largest Mersenne prime below 2^31 — modulus of the universal family
P31 = 2_147_483_647


def md5_hash60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long (portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash60_expr(expr: str) -> str:
    """Spark SQL text of :func:`md5_hash60` of the SQL expression ``expr``."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def md5_hash60_sql(expr: str) -> str:
    """DuckDB SQL fragment computing :func:`md5_hash60` of ``expr``."""
    return f"(('0x' || SUBSTRING(MD5({expr}), 1, 15))::BIGINT)"


def universal_hash_consts(num_hashes: int, tag: str = "minhash") -> list[tuple[int, int]]:
    """Deterministic (a, b) seed pairs for ``(a*x + b) mod P31``.

    Derived from md5 of a tag string — no RNG state, no library
    version dependence; the same literals are embedded into the Spark
    plan and the oracle SQL.
    """
    out: list[tuple[int, int]] = []
    for i in range(num_hashes):
        a = (
            int.from_bytes(hashlib.md5(f"{tag}:a:{i}".encode()).digest()[:8], "big")
            % (P31 - 1)
            + 1
        )
        b = int.from_bytes(hashlib.md5(f"{tag}:b:{i}".encode()).digest()[:8], "big") % P31
        out.append((a, b))
    return out
