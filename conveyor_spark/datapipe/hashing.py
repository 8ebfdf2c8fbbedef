"""Portable deterministic hashing expressions.

All dedup/similarity ops hash via md5 — available identically in
Spark (`md5`, `conv`) and DuckDB (`md5`, hex cast), so every operator
here stays oracle-checkable. 15 hex chars = 60 bits, fits int64.

Spark:   conv(substr(md5(x), 1, 15), 16, 10)::bigint
DuckDB:  ('0x' || substr(md5(x), 1, 15))::BIGINT
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int(col: Column) -> Column:
    """60-bit integer hash of a string column (JVM-side, codegen'd)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_int_sql(expr: str) -> str:
    """DuckDB-equivalent of :func:`md5_int` for oracle SQL."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"
