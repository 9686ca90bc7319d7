"""Scalar column functions (SURVEY.md §2.7) — all JVM-side expressions, no
Python in the hot path: vector unit-normalization (F7) and column-level
JSON encode/decode (F14).

Each helper mirrors a reference behavior (file:line cited per function);
they compose into projections, so Catalyst folds constants and pushes
filters through them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def l2_normalize(col) -> Column:
    """F7: unit-normalize an array<float> column via HOFs
    (/root/reference/tool/Neo4jLouvainProcessor.py:96)."""
    v = _c(col)
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when(norm > 0, F.transform(v, lambda x: (x / norm).cast("float"))).otherwise(v)


def json_encode(col) -> Column:
    """F14: struct/map/array column → JSON string. Spark's to_json is
    timestamp-aware (ISO-8601), the engine twin of the reference's
    datetime-handling JSON encoder (/root/reference/tool/NewsProcessor.py:28-31,
    /root/reference/thing copy.py:115-128)."""
    return F.to_json(_c(col))


def json_decode(col, schema) -> Column:
    """F14: JSON string column → typed struct via from_json; schema is a
    DDL string ('a INT, b STRING') or StructType. Malformed input yields
    NULL (PERMISSIVE), mirroring the reference's try/except parse."""
    return F.from_json(_c(col), schema)
