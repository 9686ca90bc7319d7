"""Louvain community detection — the engine's centerpiece (SURVEY.md §2.8, §7).

Reference semantics: python-louvain best_partition with resolution=3.0,
random_state=42 (/root/reference/tool/Neo4jLouvainProcessor.py:22,285),
including the shipped weight-attribute mismatch — best_partition is called
with weight='final_weight' while edges store 'weight', so the reference
actually clusters the UNWEIGHTED graph (SURVEY.md §2.8). The engine exposes
weight_col: None reproduces that unweighted behavior; weight_col='weight'
is the genuinely weighted mode of the older path
(/root/reference/trach/Neo4jLouvainProcessor_old.py:184-198).

Two modes:

- mode='exact': the whole dendrogram runs as one applyInPandas task, the
  deterministic CSR kernel (_louvain_kernel.dendrogram_csr) looping
  local moves → renumber → coarsen over every level — bit-for-bit the
  sequential oracle's visit order, so partitions match exactly, not just
  modularity. Since coarsened graphs shrink geometrically, at 100TB scale
  you run level 0 in parallel and switch to exact once the level graph
  fits one block.

- mode='auto': parallel levels while the level graph has more than
  auto_exact_max vertices (default BLOCK_TARGET × defaultParallelism),
  then every remaining level exact — the executable form of the "run
  level 0 in parallel, switch to exact" story. auto_exact_max=0 runs
  every level parallel.

A parallel level is Grappolo-style block-parallel local moves: nodes are
hash-partitioned into blocks sized to the graph (coarse levels collapse
to one block → sequential convergence); each sweep ships every block its
adjacency tagged with a sweep-start snapshot of assignments and Σ_tot,
and the block kernel runs sequential python-louvain moves to in-block
fixpoint, tracking local Σ_tot deltas. Sweep 0 activates all nodes
(bulk consolidation); later sweeps activate a deterministic pseudo-random
half to damp cross-block swap cycles; the loop stops when a sweep moves
<2% of nodes (_louvain_kernel.MIN_MOVED_FRAC). Validated on modularity
(allclose vs oracle on order-invariant graphs) rather than exact
partition, which is order-dependent by nature.

Where the levels run: from the first level graph with at most
gate.LOUVAIN_ONE_TASK_MAX_EDGES edges, or (exact levels) at most
auto_exact_max vertices, every remaining level runs in ONE applyInPandas
task (dendrogram_csr): parallel levels through parallel_level_csr, which
replays the distributed sweeps block for block — the same xxhash64
blocks, sweep-start snapshots, RNG seeds and stopping rule — so the
partition does not depend on the side of the gate (up to the summation
order of non-integer weights). Above the gate each parallel level runs
as distributed sweeps (_one_level_parallel), the only path for a graph
that outgrows one task. So below the gate 'auto' is one task end to end,
like 'exact'.

Level loop (all modes): renumber communities by first appearance over
ascending node order (≡ rank by min member vertex id) → coarsen
groupBy(min(c_src,c_dst), max(...)).sum(w) with self-loops kept → repeat
while level modularity gain ≥ 1e-7. Between two distributed levels the
renumber, the modularity and the coarsening are distributed; the task
does all three itself, renumbering its first level graph by its
(community → min member id) rows and taking that level's modularity as
the singleton modularity of the coarse graph. The task makes one runner
advance and writes no per-sweep state, so a run resumes from before it,
not from inside it.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, ShortType

from louvain_spark.operators import _louvain_kernel
from louvain_spark.operators._block_kernels import one_block
from louvain_spark.operators._louvain_kernel import (
    MIN_GAIN,
    block_local_moves,
    dendrogram_csr,
    sweep_plan,
)
from louvain_spark.operators.graph import vertex_ids
from louvain_spark.plans import gate
from louvain_spark.plans.gate import broadcast_or_shuffle
from louvain_spark.plans.loop import StepResult, SuperstepRunner, release, stats_reset


class NoCheckpointError(ValueError):
    """resume_louvain's ledger probe found no checkpoint for the run.

    Subclasses ValueError for callers that caught the old shape, but lets
    the CLI distinguish 'nothing to resume' (exit 3) from an unrelated
    ValueError raised mid-recomputation (which must propagate)."""


def _normalize(edges: DataFrame, weight_col: str | None) -> DataFrame:
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = edges.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        w.alias("w"),
    )
    return e.groupBy("src", "dst").agg(F.sum("w").alias("w"))


def _renumber(assign: DataFrame) -> tuple[DataFrame, DataFrame]:
    """((id, community) → (id, community 0..k-1), the rank snapshot it
    reads): first-appearance order over ascending ids ≡ communities ranked
    by their min member id. The rank is the two-phase distributed one
    (plans/rank.py) — the community-reps table is |communities|-sized,
    which at level 0 of a big graph is still far too large for a
    single-partition window."""
    from louvain_spark.plans.rank import dense_sorted_rank

    reps = assign.groupBy("community").agg(F.min("id").alias("_rep"))
    ranked, n = dense_sorted_rank(reps, "_rep", id_col="_new")
    # remap is |communities|-sized — at level 0 of a big graph worst-case
    # O(|V|), so the broadcast is count-gated like every other dimension
    # join, by the row count the rank observed
    remap = broadcast_or_shuffle(ranked.select("community", "_new"), n)
    renumbered = assign.join(remap, "community").select(
        "id", F.col("_new").alias("community")
    )
    return renumbered, ranked


def _coarsen(edges: DataFrame, assign: DataFrame) -> DataFrame:
    a_src = assign.select(F.col("id").alias("src"), F.col("community").alias("cs"))
    a_dst = assign.select(F.col("id").alias("dst"), F.col("community").alias("cd"))
    return (
        edges.join(a_src, "src")
        .join(a_dst, "dst")
        .select(
            F.least("cs", "cd").alias("src"),
            F.greatest("cs", "cd").alias("dst"),
            "w",
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )


# ---------------------------------------------------------------------------
# parallel levels: synchronous DataFrame sweeps
# ---------------------------------------------------------------------------

def _one_level_parallel(
    spark: SparkSession,
    edges: DataFrame,
    ids: DataFrame,
    resolution: float,
    seed: int,
    level: int,
    ckpt_dir: str,
    n_nodes: int,
    n_blocks: int | None = None,
    total_w: float | None = None,
) -> DataFrame:
    """Block-parallel local-move phase (Grappolo-style, the north-star shape).

    Nodes are hash-partitioned into blocks; each sweep ships every block its
    nodes' full adjacency tagged with a sweep-start snapshot of community
    assignments and Σ_tot aggregates, and the block kernel
    (_louvain_kernel.block_local_moves — the same CSR/numpy construction as
    the exact kernel) runs sequential python-louvain moves to in-block
    fixpoint, tracking local Σ_tot deltas. Cross-block state refreshes
    between sweeps; sweeps stop once one moves too few nodes (sweep_plan)
    or after _louvain_kernel.MAX_SWEEPS.
    Order-dependent (as all parallel Louvain is) — validated on modularity
    + order-invariant graphs.
    Returns the level's assignment (id, community); the callers guarantee
    a total edge weight > 0. _louvain_kernel.parallel_level_csr runs the
    same sweeps over a whole level graph in one task.
    """
    n_blocks, min_moved = sweep_plan(n_nodes, spark.sparkContext.defaultParallelism, n_blocks)
    e = edges.persist()
    loops = e.where(F.col("src") == F.col("dst")).select(
        F.col("src").alias("id"), F.col("w").alias("self_w")
    )
    nonloop = e.where(F.col("src") != F.col("dst"))
    sym = nonloop.select("src", "dst", "w").unionByName(
        nonloop.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    k = (
        ids.join(
            sym.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("_kw")),
            "id",
            "left",
        )
        .join(loops, "id", "left")
        .select(
            "id",
            (
                F.coalesce("_kw", F.lit(0.0)) + 2.0 * F.coalesce("self_w", F.lit(0.0))
            ).alias("k"),
            F.coalesce("self_w", F.lit(0.0)).alias("self_w"),
        )
        .persist()
    )
    sym = sym.persist()
    # unpersisted on an error too: a failed sweep must not leave the
    # level's edge and degree tables cached
    try:
        # the total weight is a loop/level invariant the caller usually
        # already knows (Σw survives coarsening exactly) — accept it to skip
        # the duplicate per-level aggregate job (r7)
        m = total_w if total_w is not None else e.agg(F.sum("w")).collect()[0][0]

        # the sweep-state parquet carries (id, community, k): k is loop-
        # invariant, and folding it into the checkpointed state removes one
        # |V|-dimension join (+ its broadcast build stage) from EVERY sweep's
        # plan — per-sweep wall is dominated by the count of sequential query
        # stages, not data volume (r7 probe: 137 jobs ≈ 0.2s each). Sweep
        # 0 reads the singleton state straight from the cached k.
        assign = k.select("id", F.col("id").alias("community"), "k")
        res, mm, lvl, sd = float(resolution), float(m), int(level), int(seed)

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            moved_ids, new_coms = block_local_moves(
                pdf["src"].to_numpy(),
                pdf["dst"].to_numpy(),
                pdf["w"].to_numpy(dtype=np.float64),
                pdf["cu"].to_numpy(),
                pdf["cd"].to_numpy(),
                pdf["k"].to_numpy(dtype=np.float64),
                pdf["tot_cu"].to_numpy(dtype=np.float64),
                pdf["tot_cd"].to_numpy(dtype=np.float64),
                res,
                mm,
                sd,
                lvl,
                int(pdf["_sweep"].iloc[0]),
                int(pdf["_blk"].iloc[0]),
                n_blocks,
            )
            return pd.DataFrame({"id": moved_ids, "new_com": new_coms}).astype("int64")

        for sweep in range(_louvain_kernel.MAX_SWEEPS):
            # ONE combined per-vertex dimension per sweep — (id, community, k,
            # Σ_tot of its community) — joined twice (src side and dst side)
            # through TWO ALIASES OF THE IDENTICAL SUBTREE, both keyed on id:
            # the canonicalized broadcast exchange is the same on both sides,
            # so Spark's exchange/stage reuse builds it ONCE per sweep (the
            # former per-side projections defeated reuse and paid two
            # broadcast builds plus a cache-fill stage). The dimension is
            # |V|-sized, tiny next to the edge table: below the dimension-join
            # gate (plans/gate.py) it ships as broadcast hash joins, so the
            # only shuffle per sweep is the groupBy(_blk) feeding the kernel;
            # above it, shuffle_hash joins.
            # Σ_tot via a window over the checkpointed assign state — ONE
            # exchange (community) inside the dim broadcast's build job. The
            # former groupBy(tot)+join form paid two sequential broadcast
            # builds per sweep (tot, then assign⋈tot); identical values, the
            # window sum is over the same groups (r7 barrier trim).
            dim = assign.select(
                "id", "community", "k",
                F.sum("k").over(Window.partitionBy("community")).alias("tot"),
            )
            dd = broadcast_or_shuffle(dim.alias("_dd"), n_nodes)
            ds = broadcast_or_shuffle(dim.alias("_ds"), n_nodes)
            tagged = (
                sym.join(dd, F.col("dst") == F.col("_dd.id"))
                .select(
                    "src",
                    "dst",
                    "w",
                    F.col("_dd.community").alias("cd"),
                    F.col("_dd.tot").alias("tot_cd"),
                )
                .join(ds, F.col("src") == F.col("_ds.id"))
                .select(
                    "src",
                    "dst",
                    "w",
                    "cd",
                    "tot_cd",
                    F.col("_ds.community").alias("cu"),
                    F.col("_ds.k").alias("k"),
                    F.col("_ds.tot").alias("tot_cu"),
                )
                .withColumn("_blk", F.pmod(F.xxhash64("src"), F.lit(n_blocks)).cast("int"))
                .withColumn("_sweep", F.lit(sweep))
            )
            moved_df = tagged.groupBy("_blk").applyInPandas(
                kernel, "id long, new_com long"
            )
            # ONE driver-blocking action per sweep: the parquet write of the
            # UPDATED assignments. It pulls the whole chain — dim cache fill,
            # kernel cogroup, moved broadcast, assign merge — as stages of a
            # single job; the moved-count observation fills during the write,
            # and the roundtrip doubles as the durable sweep checkpoint + the
            # Catalyst stats reset (see plans/loop.stats_reset).
            # observe on the MERGED root (not on moved_df): an Observation
            # under a BroadcastExchange fails its exactly-once assertion — the
            # root select executes exactly once, in the write job
            obs = Observation()
            # moved_df merges via a shuffle-hash join, NOT broadcast: a
            # broadcast of the kernel's output would run the whole
            # tagged-join + kernel pipeline as a separate broadcast-build
            # job before the write job could start; the shuffle join keeps
            # kernel and write inside ONE action (and is the right shape
            # above the broadcast gate anyway — both sides key on id).
            merged = (
                assign.join(moved_df.hint("shuffle_hash"), "id", "left")
                .select(
                    "id",
                    F.coalesce("new_com", "community").alias("community"),
                    "k",
                    F.col("new_com").isNotNull().alias("_m"),
                )
                .observe(
                    obs, F.coalesce(F.sum(F.col("_m").cast("long")), F.lit(0)).alias("n")
                )
                .select("id", "community", "k")
            )
            assign = stats_reset(
                spark, merged, os.path.join(ckpt_dir, f"assign-l{level}-s{sweep}")
            )
            moved = int(obs.get["n"])
            if moved < min_moved:
                # the sub-threshold sweep's few moves are already applied (the
                # merge rides the same action) — keep them, stop sweeping
                break

        return assign.select("id", "community")  # drop the loop-carried k
    finally:
        for df in (e, k, sym):
            df.unpersist()


# ---------------------------------------------------------------------------
# one task: every level from the first that fits, in one applyInPandas task
# ---------------------------------------------------------------------------

_SWEEP_OPTS = {"n_blocks"}


def _tail_max(spark: SparkSession, mode: str, popts: dict) -> float:
    """The largest level graph, in vertices, that runs exact levels: every
    level in exact mode, auto_exact_max (popped from popts) in auto mode.
    The other popts keys must be sweep options."""
    auto_exact_max = popts.pop("auto_exact_max", None)
    if set(popts) - _SWEEP_OPTS:
        raise ValueError(
            f"unknown louvain parallel_opts {sorted(set(popts) - _SWEEP_OPTS)}; "
            f"expected auto_exact_max or {sorted(_SWEEP_OPTS)}"
        )
    if mode == "exact":
        return math.inf
    if mode != "auto":
        raise ValueError(f"unknown louvain mode: {mode!r}")
    if auto_exact_max is not None:
        return auto_exact_max
    return _louvain_kernel.BLOCK_TARGET * spark.sparkContext.defaultParallelism


def _level_graph(spark: SparkSession, edges: DataFrame, path: str) -> tuple[DataFrame, int]:
    """stats_reset of a level graph, and its edge count, observed during
    the write (no extra job)."""
    obs = Observation()
    out = stats_reset(spark, edges.observe(obs, F.count(F.lit(1)).alias("n")), path)
    return out, int(obs.get["n"])


def _compose(mapping: DataFrame, assign: DataFrame) -> DataFrame:
    """(vertex → level node) then (level node → community)."""
    return (
        mapping.withColumnRenamed("community", "_c")
        .join(assign.withColumnRenamed("id", "_c"), "_c")
        .select("id", "community")
    )


def _one_task(
    spark, runner, edges, nodes, mapping, level, max_levels, resolution, seed,
    min_gain, tail_max, popts,
) -> tuple[DataFrame, float]:
    """Levels `level`, `level`+1, … in one task (dendrogram_csr): parallel
    levels while the level graph has more than tail_max vertices, then
    exact ones.

    edges: the level graph (src, dst, w); nodes: its vertices with their
    min member vertex id (id, rep); mapping: vertex → level node, or None
    at level 0. The kept levels make one runner advance; when none is
    kept, the renumbered mapping is returned without one.
    """
    src_type = edges.schema["src"].dataType
    sweeps = dict(
        popts,
        cores=spark.sparkContext.defaultParallelism,
        # Spark hashes an int column as 4 bytes; the level-0 vertex ids
        # keep the caller's type, coarse node ids are longs
        int32=level == 0 and isinstance(src_type, (IntegerType, ShortType, ByteType)),
    )

    def kernel(b):
        import numpy as np

        rep = np.empty(len(b.ids), dtype=np.int64)
        rep[b.state_at] = b.state_label
        com, mod, kept = dendrogram_csr(
            rep, b.src, b.dst, b.w, resolution, seed, level, max_levels, min_gain,
            tail_max, sweeps,
        )
        return com, kept, mod

    snap, kept, mod = one_block(
        edges, nodes, nodes.select("id", F.col("rep").alias("community")),
        kernel, "community", "long",
    )
    out = snap.select("id", "community")
    if mapping is not None:
        out = _compose(mapping, out)
    if kept:
        out = runner.advance(StepResult(out, metric=mod, steps=kept, one_block=True))
        release(snap)
    return out, float(mod)


def _levels(
    spark, runner, ckpt_base, edges, n_edges, ids, mapping, mod, level, n, tail_max,
    popts, max_levels, resolution, seed, min_gain, total_w=None,
) -> tuple[DataFrame, float]:
    """Dendrogram levels from `level` on (shared by louvain() and
    resume_louvain()): distributed parallel levels while the level graph
    has more than tail_max vertices and more than
    gate.LOUVAIN_ONE_TASK_MAX_EDGES edges, then the rest in one task.

    edges: the level graph, with n_edges edges; ids: its n vertices, or
    None to take them from mapping (n is read only above the edge gate);
    mapping: vertex → level node, or None at level 0; mod: the previous
    level's modularity, read only by a distributed level's gain check.
    Every branch depends on the level graph alone, so a resumed run takes
    the same path as a fresh one.
    """
    from louvain_spark.operators.quality import modularity as q_mod

    while n_edges > gate.LOUVAIN_ONE_TASK_MAX_EDGES and n > tail_max:
        if level >= max(1, max_levels):
            return mapping, float(mod)
        own_ids = ids is None
        if own_ids:
            ids = mapping.select(F.col("community").alias("id")).distinct().persist()
        try:
            assign = _one_level_parallel(
                spark, edges, ids, resolution, seed, level, ckpt_base, n,
                total_w=total_w, **popts,
            )
        finally:
            if own_ids:
                ids.unpersist()
        n_next = assign.select("community").distinct().count()
        # a level handing off to the exact levels keeps its raw labels:
        # the task renumbers them and recomputes their modularity (level 0
        # has no gain check to feed)
        handoff = n_next <= tail_max
        new_mod = None
        if level > 0 or not handoff:
            new_mod = q_mod(edges.withColumnRenamed("w", "weight"), assign, resolution, "weight")
            if level > 0 and new_mod - mod < min_gain:
                return mapping, float(mod)
        if not handoff:
            assign, ranked = _renumber(assign)
        if mapping is None:  # level 0: coarsen from the checkpoint
            mapping = assign = runner.advance(StepResult(assign, metric=new_mod))
        else:
            mapping = runner.advance(StepResult(_compose(mapping, assign), metric=new_mod))
        # level boundaries are natural checkpoints: cut lineage so the next
        # level replans against a flat, materialized graph
        edges, n_edges = _level_graph(
            spark, _coarsen(edges, assign), os.path.join(ckpt_base, f"edges-l{level + 1}")
        )
        if not handoff:  # the level graph was the last frame to read it
            release(ranked)
        ids, n, mod, level = None, n_next, new_mod, level + 1
    if mapping is None:
        nodes = ids.select("id", F.col("id").alias("rep"))
    else:
        nodes = mapping.groupBy(F.col("community").alias("id")).agg(F.min("id").alias("rep"))
    return _one_task(
        spark, runner, edges, nodes, mapping, level, max_levels, resolution, seed,
        min_gain, tail_max, popts,
    )


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    resolution: float = 1.0,
    seed: int = 42,
    weight_col: str | None = "weight",
    mode: str = "exact",
    min_gain: float = MIN_GAIN,
    max_levels: int = 32,
    runner: SuperstepRunner | None = None,
    parallel_opts: dict | None = None,
) -> tuple[DataFrame, float]:
    """Returns (assignments(id, community), final modularity).

    Communities are labeled 0..k-1 (dendrogram top level). weight_col=None
    clusters the unweighted graph, reproducing the reference's shipped
    behavior (SURVEY.md §2.8).

    mode='auto' is the executable form of the 100TB story: each dendrogram
    level runs parallel block sweeps while the level graph is larger than
    auto_exact_max vertices (parallel_opts key; default BLOCK_TARGET ×
    defaultParallelism), and every level from the first that fits runs
    exact — coarse levels shrink geometrically, so the tail of the
    dendrogram converges sequentially instead of burning multi-block
    sweeps on tiny graphs. At or below gate.LOUVAIN_ONE_TASK_MAX_EDGES
    edges the parallel levels run in the same single task as the exact
    ones, with the partition the distributed sweeps give.

    parallel_opts keys: auto_exact_max, and the sweep plan's n_blocks
    (_louvain_kernel.sweep_plan).
    """
    popts = dict(parallel_opts or {})
    tail_max = _tail_max(spark, mode, popts)
    if runner is None:
        runner = SuperstepRunner(spark, "adhoc", f"louvain-{mode}")
    ids = vertex_ids(edges, vertices).persist()
    # without a durable checkpoint_dir the per-level edge tables and sweep
    # states go to a private temp dir, removed on return: the returned
    # mapping is runner.advance output, which never reads from it
    owned = runner.checkpoint_dir is None
    ckpt_base = runner.checkpoint_dir or tempfile.mkdtemp(prefix="louvain-ckpt-")
    try:
        # materialize the normalized canonical edge table once: every sweep
        # re-plans over it, and carrying the caller's lineage (e.g. an inline
        # local relation) into each task binary dominated sweep time by 4-10x
        e = stats_reset(
            spark, _normalize(edges, weight_col), os.path.join(ckpt_base, "edges-l0")
        )
        total_w, n_edges = e.agg(
            F.coalesce(F.sum("w"), F.lit(0.0)), F.count(F.lit(1))
        ).first()
        if not total_w:
            from louvain_spark.plans.rank import dense_sorted_rank

            assign = dense_sorted_rank(ids, "id", id_col="community")[0].select(
                "id", F.col("community").cast("long")
            )
            return assign, 0.0
        # level 0 is always kept, as in python-louvain generate_dendrogram;
        # only a distributed level needs the vertex count
        n = 0
        if tail_max < math.inf and n_edges > gate.LOUVAIN_ONE_TASK_MAX_EDGES:
            n = ids.count()
        return _levels(
            spark, runner, ckpt_base, e, n_edges, ids, None, None, 0, n, tail_max,
            popts, max_levels, resolution, seed, min_gain, total_w=float(total_w),
        )
    finally:
        ids.unpersist()
        if owned:
            shutil.rmtree(ckpt_base, ignore_errors=True)


def _ledger_modularity(spark, runner, run_id, operator, step) -> float:
    ledger = spark.read.parquet(runner.ledger_path)
    row = (
        ledger.where(
            (F.col("run_id") == run_id)
            & (F.col("operator") == operator)
            & (F.col("superstep") == step)
            & F.col("metric").isNotNull()
        )
        .select("metric")
        .first()
    )
    if row is None:  # only a level that handed off to the exact levels has none
        raise ValueError(
            f"louvain run {run_id} handed level {step} to its exact levels; "
            "resume it with the mode and parallel_opts it ran with"
        )
    return row[0]


def resume_louvain(
    spark: SparkSession,
    run_id: str,
    checkpoint_dir: str,
    resolution: float = 1.0,
    seed: int = 42,
    mode: str = "exact",
    min_gain: float = MIN_GAIN,
    max_levels: int = 32,
    parallel_opts: dict | None = None,
) -> tuple[DataFrame, float]:
    """Continue a Louvain run from its durable checkpoints (north_rule:
    resumable mid-iteration). Each completed distributed level is a
    superstep in the run ledger, and the one-task run one advance over the
    levels it kept, so a run resumes after a distributed level or after
    the task. The original normalized edge table is at <dir>/edges-l0, so
    the next level's graph is recomputed as coarsen(edges-l0, mapping)
    regardless of where the run died; it takes the same gate decision as
    a fresh run would. Idempotent on completed runs (re-checks the last
    level and stops).
    """
    popts = dict(parallel_opts or {})
    tail_max = _tail_max(spark, mode, popts)
    runner, mapping, step = SuperstepRunner.resume(
        spark, run_id, f"louvain-{mode}", checkpoint_dir
    )
    if mapping is None:
        raise NoCheckpointError(
            f"no louvain checkpoint for run_id={run_id} in {checkpoint_dir}"
        )
    e0 = spark.read.parquet(os.path.join(checkpoint_dir, "edges-l0"))
    cur_edges, n_edges = _level_graph(
        spark, _coarsen(e0, mapping), os.path.join(checkpoint_dir, f"edges-l{step + 1}")
    )
    n, mod = 0, None
    if tail_max < math.inf and n_edges > gate.LOUVAIN_ONE_TASK_MAX_EDGES:
        n = mapping.select("community").distinct().count()
        if n > tail_max:  # a distributed level's gain check reads the last modularity
            mod = _ledger_modularity(spark, runner, run_id, f"louvain-{mode}", step)
    return _levels(
        spark, runner, checkpoint_dir, cur_edges, n_edges, None, mapping, mod, step + 1,
        n, tail_max, popts, max_levels, resolution, seed, min_gain,
    )
