"""The size gates: broadcast vs shuffle joins, one task vs supersteps,
crossJoin vs blocked top-1 match; and the one-task harness behind them.

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

PageRank, LPA and CC ask fits_one_block, which counts their input edges
once. At or below ONE_BLOCK_MAX_EDGES the whole graph runs as one applyInPandas
task that iterates to the end (operators/_block_kernels.py); above it
they keep their distributed supersteps, the only path for a graph that
outgrows one task. The value bounds one Python worker's memory: the task
holds the Arrow batches, the packed pandas group and the kernel's arrays
at once. Measured peak RSS of that worker per input edge (random graph of
mean degree 10, 0.5M to 2M edges, numpy 1.26): LPA 380-390 bytes,
PageRank 175-180, CC 100. At 1M edges the largest, LPA, peaks at 361 MiB,
and its ten steps take 3.1 s on one core of a 4-core Xeon host.

Louvain asks LOUVAIN_ONE_TASK_MAX_EDGES of each level graph, with the
edge count its total-weight aggregate or its level write already
observes. At or below it every remaining level, parallel ones included,
runs in one applyInPandas task (_louvain_kernel.dendrogram_csr), with
the partition the distributed sweeps give. Its bound is compute, not
memory: one task runs the block kernels on one core where the
distributed sweeps use every core, but pays no per-stage latency. The
value is below a measured break-even. Whole louvain(mode="auto") calls
on synth co-occurrence graphs (seed 2, window 8), local[4] with 16
partitions, 4-core Xeon host, two alternating runs per side:

    edges    vertices   one task      distributed
    10.4k    2.2k       4.8, 3.5 s    22.9, 17.8 s
    42.1k    9.2k       11.5, 8.1 s   28.1, 24.1 s
    89.9k    20.2k      17.5, 13.6 s  29.7, 26.0 s
    157.4k   36.2k      27.2, 26.6 s  29.8, 27.2 s

The distributed side stays near 25-30 s (stage latency) while one task
grows ~0.17 ms per edge, so they meet near 165k edges on 4 cores; a
wider host speeds up only the distributed side, so the gate sits at
100k.

The daily→all-time migration (streaming/incremental.migrate) matches
daily cluster centroids against all-time ones. BLOCKED_MATCH_ABOVE bounds
the candidate pairs, n_day × n_alltime, of its crossJoin brute match;
above it the match runs as the cogrouped block nested-loop. The migration
also runs in one applyInPandas task when both sides' member rows fit it,
counted as n_day and n_alltime: n_day × n_alltime at or below
BLOCKED_MATCH_ABOVE, which also bounds the task's centroid score work
(communities ≤ members), and n_day + n_alltime at or below
ONE_BLOCK_MAX_EDGES, which bounds its memory as it does the block
kernels'. Measured peak RSS of that worker
(member texts of ~25 bytes, 250k to 1M rows, a quarter of them daily,
numpy 1.26): ~300 bytes per member row above the idle worker's ~123 MiB;
1M rows peak at 439 MiB and take 13 s in the kernel on one core of the
4-core Xeon host, at 25M centroid pairs.

Neither bound was set for this path, so the switch was timed: whole
migrate() calls, one task vs the distributed remap, on member rows read
from parquet (texts ~25 bytes, daily communities of 5, all-time of 10;
n_day a quarter of the rows, or fewer where n_day × n_alltime ≤
BLOCKED_MATCH_ABOVE requires it), local[4] with 16 partitions, 4-core
Xeon host, two alternating runs per side:

    member rows  n_day   one task      distributed
    10k          2,500   5.7, 2.2 s    24.5, 16.5 s
    100k         250     5.8, 3.2 s    25.5, 19.4 s
    500k         50      12.8, 7.3 s   41.4, 27.1 s
    1M           25      17.7, 10.8 s  44.8, 33.4 s

One task wins at every size up to the sum bound: featurizing on one core
costs less than the distributed path's stages. So both bounds stand.

Windowed co-occurrence induction (operators/induce.cooccurrence_edges)
runs in one applyInPandas task (induce_kernel) when its input rows, the
membership rows plus any caller-dictionary rows, number at most
ONE_BLOCK_MAX_EDGES. Measured peak RSS of that worker per membership row
(synth transcripts, seed 2, window 8, 100k to 1.5M rows, numpy 1.26):
350-410 bytes above the idle worker's ~121 MiB. 1M rows peak at 482 MiB,
close to LPA's 1M edges, and take 1.7 s in the kernel on one core. So the
block kernels' bound serves it too. The switch was timed: whole
cooccurrence_edges calls with their edge and vertex parquet writes, one
task vs the banded join, on the same transcripts staged as parquet,
local[4] with 16 partitions, 4-core Xeon host, two alternating runs per
side:

    membership rows  one task     distributed
    50.9k            2.8, 1.7 s   6.1, 4.4 s
    100.8k           3.1, 1.8 s   6.4, 3.7 s
    250.1k           3.8, 2.3 s   7.5, 5.4 s
    504.0k           5.5, 3.7 s   10.6, 6.3 s
    1.02M            9.2, 5.4 s   14.4, 9.9 s

One task wins at every size up to the bound (50.9k rows is perfbench's
communities input). bench.py's sf0.1 input (1.30M membership rows) is
above it and keeps the banded join. Every turn has a role row and a conv
row, so a 10^12-turn input has at least 2·10^12 membership rows and never
takes the one-task path.

Tests and `tools/check_oracle.py --distributed` set ONE_BLOCK_MAX_EDGES
and LOUVAIN_ONE_TASK_MAX_EDGES to 0, which turns every one-task path off,
the migration's and the induction's included.

Every one-task path counts with observed() (a noop write: one scan stage,
where count() adds an aggregate one), then runs one_task(): one group,
snapshotted by an eager localCheckpoint that plans/loop.release frees.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

BROADCAST_MAX_ROWS = 4_000_000
ONE_BLOCK_MAX_EDGES = 1_000_000
LOUVAIN_ONE_TASK_MAX_EDGES = 100_000
BLOCKED_MATCH_ABOVE = 25_000_000


def broadcast_or_shuffle(df: DataFrame, rows: int) -> DataFrame:
    """`df` hinted for its join: broadcast up to BROADCAST_MAX_ROWS rows,
    shuffle_hash above."""
    if rows <= BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def observed(df: DataFrame, **aggs: Column) -> dict:
    """The aggregates `aggs` over df's rows, observed on a noop write."""
    obs = Observation()
    counted = df.observe(obs, *[a.alias(k) for k, a in aggs.items()])
    counted.write.format("noop").mode("overwrite").save()
    return obs.get


def one_task(
    df: DataFrame, fn: Callable, schema: str, **metrics: Column
) -> tuple[DataFrame, dict]:
    """(snapshot, metrics): fn over all of df's rows (plus the constant
    group column _g) as one applyInPandas group, materialized by an eager
    localCheckpoint, and the aggregates `metrics` over its output rows,
    observed at the root of that action."""
    out = df.withColumn("_g", F.lit(0)).groupBy("_g").applyInPandas(fn, schema)
    obs = Observation()
    if metrics:
        out = out.observe(obs, *[a.alias(k) for k, a in metrics.items()])
    return out.localCheckpoint(eager=True), obs.get if metrics else {}


def fits_one_block(edges: DataFrame) -> bool:
    """Count the input edge rows; True when the graph runs as one task.
    With the gate at 0 nothing is counted."""
    if ONE_BLOCK_MAX_EDGES <= 0:
        return False
    return observed(edges, n=F.count(F.lit(1)))["n"] <= ONE_BLOCK_MAX_EDGES
