"""Distributed dense global-sort rank (no single-partition window).

`Window.orderBy(col)` with no partition spec moves ALL rows to one task —
the classic "No Partition Defined" scale-killer. This helper produces the
exact same rank with a two-phase construction: range-partition by the sort
key (disjoint, ordered ranges by the range partitioner's contract), rank
within each partition, then add per-partition offsets (one tiny collect of
partition counts). Deterministic and cluster-size-independent — never
monotonically_increasing_id, whose values depend on partition layout.

Every vertex-dictionary build in the engine (entity_vertices,
events_vertices, migration fresh-id assignment) goes through here, so the entity dictionary never funnels through one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from louvain_spark.plans.loop import release


def dense_sorted_rank(
    df: DataFrame,
    order_col: str,
    id_col: str = "id",
) -> tuple[DataFrame, int]:
    """(df plus `id_col` = 0-based global rank of `order_col` (ascending),
    its row count).

    Input rows must be distinct on order_col for the rank to be a dense id
    (callers pass dictionaries, which are). Output keeps all input columns.

    The range exchange takes its partition count from the session
    (spark.sql.shuffle.partitions), and AQE coalesces it like any other
    shuffle, so the rank is sized by the session rather than a constant.
    Coalesced partitions are adjacent ranges, so the offsets below still
    follow the sort order. The result is an eager localCheckpoint, and
    its row count is observed on that action, so callers that size a
    join by it run no count() of their own.
    """
    # cache the (small) dictionary: the range partitioner runs a separate
    # sampling job over its input, which would otherwise re-execute the
    # caller's whole distinct/shuffle lineage a second time (the sampling
    # job itself materializes the cache — no extra count pass)
    src = df.persist()
    # eager localCheckpoint (NOT persist): the offsets below derive from
    # this exact layout, and a persisted frame whose cached blocks are
    # evicted would re-run the range sampler and may pick different
    # boundaries — silently wrong ids. Checkpoint blocks are never
    # recomputed: lost blocks FAIL the job instead.
    parts = (
        src.repartitionByRange(order_col)
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    src.unpersist()
    # per-partition offsets in-plan, with no driver collect: a partition's
    # offset is the row count of the partitions before it, from a table of
    # one row per range partition (at most spark.sql.shuffle.partitions),
    # broadcast back on _pid
    cnts = parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    a, b = cnts.alias("_ra"), cnts.alias("_rb")
    offs = (
        a.join(b, F.col("_rb._pid") < F.col("_ra._pid"), "left")
        .groupBy(F.col("_ra._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("_rb._cnt"), F.lit(0)).alias("_off"))
    )
    w = Window.partitionBy("_pid").orderBy(order_col)
    obs = Observation()
    out = parts.join(F.broadcast(offs), "_pid").select(
        (F.row_number().over(w) - 1 + F.col("_off")).cast("long").alias(id_col),
        *[c for c in df.columns],
    ).observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    release(parts)
    return out, obs.get["n"]
