"""Source/sink helpers (SURVEY.md §2.1, S1–S11) — Spark-first equivalents
of the reference's xlsx/Neo4j IO.

| ref | here |
|---|---|
| S2 xlsx scan + projection (upload.py:17-30) | read_table + select |
| S6 xlsx sink (DataProcessor.py:54-69) | write_table (ordered columns) |
| S8 result writeback + unused-cluster delete (Neo4jLouvainProcessor.py:289-366) | overwrite_assignments |
| S9 truncate (upload.py:62-70) | mode('overwrite') |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def write_table(df: DataFrame, path: str, column_order: list[str] | None = None, mode: str = "overwrite") -> None:
    if column_order:
        df = df.select(*column_order)
    df.write.mode(mode).parquet(path)


def overwrite_assignments(assignments: DataFrame, path: str) -> None:
    """S8: full result writeback; 'delete unused clusters' falls out of the
    overwrite (anti-join reconciliation is unnecessary with snapshots)."""
    assignments.write.mode("overwrite").parquet(path)
