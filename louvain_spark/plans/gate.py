"""The one broadcast-vs-shuffle gate for dimension joins.

A dimension table (vertex dictionary, per-vertex state, community remap,
offender-key set, vocabulary) joins a much larger fact side. Below
BROADCAST_MAX_ROWS it ships as a broadcast hash join, so the fact side is
never reshuffled by its (often skewed) key. Above it the dimension no
longer fits every executor — at the 10^12-turn design point a vertex
dictionary is ~10^10 rows — and the join falls back to a shuffled hash
join: the dimension side skips the sort, and the fact side is orders of
magnitude larger.

Callers pass the row count they already hold, so the gate adds no Spark
job. Tests force the shuffle side by setting BROADCAST_MAX_ROWS = 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BROADCAST_MAX_ROWS = 4_000_000


def broadcast_or_shuffle(df: DataFrame, rows: int) -> DataFrame:
    """`df` hinted for its join: broadcast up to BROADCAST_MAX_ROWS rows,
    shuffle_hash above."""
    if rows <= BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df.hint("shuffle_hash")
