"""Deterministic, engine-portable hashing primitives.

Dedup/fingerprint operators need hashes that (a) are stable across
Spark executors and runs, and (b) can be reproduced bit-for-bit by the
DuckDB oracle for differential testing. Spark's ``xxhash64`` and
DuckDB's ``hash()`` differ, so the portable primitive is **md5**
(identical hex output in both engines): we take the first 15 hex chars
as a non-negative 60-bit integer.

This module is the only place that format is written out, once per
engine: :func:`md5_long` (Spark Column), :func:`duckdb_md5_long`
(DuckDB SQL text) and :func:`md5_long_value` (Python int). The Spark
form is a native Column expression (md5/conv/substring are JVM-side,
codegen'd) — no Python UDFs in dedup hot paths.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column | str, salt: str = "") -> Column:
    """First 60 bits of md5(salt || col) as a non-negative LONG.

    60 bits (15 hex chars) keeps the value inside a signed 64-bit
    range in both Spark (LONG) and DuckDB (BIGINT) without overflow
    games, while collision probability stays negligible for dedup
    banding (2^-60 per pair).
    """
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(F.lit(salt), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def duckdb_md5_prefix(expr: str, hex_chars: int, sql_type: str) -> str:
    """DuckDB SQL for the first ``hex_chars`` hex digits of md5(expr)
    read as an integer of ``sql_type``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {hex_chars})) AS {sql_type})"


def duckdb_md5_long(expr: str, salt: str = "") -> str:
    """The DuckDB SQL string mirroring :func:`md5_long` for oracles."""
    return duckdb_md5_prefix(f"'{salt}' || {expr}" if salt else expr, 15, "BIGINT")


def md5_long_value(s: str) -> int:
    """The Python int mirroring :func:`md5_long` for driver-side
    constants and per-row code outside the JVM (UTF-8 encoded)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
