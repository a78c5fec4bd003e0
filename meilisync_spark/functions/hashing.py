"""Portable 60-bit hash — identical in Spark and DuckDB.

Dedup/minhash/simhash operators need a hash function the correctness
oracle can reproduce exactly. Spark's ``xxhash64``/``hash`` have no
DuckDB twin, so we derive a 60-bit integer from SHA-256 (both engines
produce identical lowercase hex): take the first 15 hex digits and
parse base-16. 60 bits keeps it positive in a signed 64-bit long.

Verified bit-identical across engines (tests/test_oracle_parity.py).

Scale note: sha2 is JVM-side (whole-stage codegen), ~100ns/row — fine
as the row-level hash for shingle/minhash pipelines; it is NOT the
shuffle partitioner (Spark uses its own Murmur3 for that).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash64(col: Column) -> Column:
    """Spark side: 60-bit integer hash of a string column."""
    return F.conv(F.substring(F.sha2(col.cast("string"), 256), 1, 15), 16, 10).cast("long")


def duck_hash64(expr: str) -> str:
    """DuckDB side: the same hash as a SQL fragment."""
    return f"(('0x' || substring(sha256(CAST({expr} AS VARCHAR)), 1, 15))::BIGINT)"
