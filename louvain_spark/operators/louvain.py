"""Louvain community detection — the engine's centerpiece (SURVEY.md §2.8, §7).

Reference semantics: python-louvain best_partition with resolution=3.0,
random_state=42 (/root/reference/tool/Neo4jLouvainProcessor.py:22,285),
including the shipped weight-attribute mismatch — best_partition is called
with weight='final_weight' while edges store 'weight', so the reference
actually clusters the UNWEIGHTED graph (SURVEY.md §2.8). The engine exposes
weight_col: None reproduces that unweighted behavior; weight_col='weight'
is the genuinely weighted mode of the older path
(/root/reference/trach/Neo4jLouvainProcessor_old.py:184-198).

Three local-move modes ('auto' composes the other two):

- mode='exact': the level graph's local-move phase runs as one
  applyInPandas block executing the deterministic CSR kernel
  (_louvain_kernel.py) — bit-for-bit the sequential oracle's visit order,
  so partitions match exactly, not just modularity. Coarsening between
  levels is fully distributed. Since coarsened graphs shrink
  geometrically, at 100TB scale you run level 0 in parallel mode and
  switch to exact once the level graph fits one block.

- mode='parallel': Grappolo-style block-parallel local moves: nodes are
  hash-partitioned into blocks sized to the graph (coarse levels collapse
  to one block → sequential convergence); each sweep ships every block its
  adjacency tagged with a sweep-start snapshot of assignments and Σ_tot,
  and the block kernel runs sequential python-louvain moves to in-block
  fixpoint, tracking local Σ_tot deltas. Sweep 0 activates all nodes
  (bulk consolidation); later sweeps activate a deterministic
  pseudo-random half to damp cross-block swap cycles; the loop stops when
  a sweep moves <1% of nodes. Validated on modularity (allclose vs oracle
  on order-invariant graphs) rather than exact partition, which is
  order-dependent by nature.

- mode='auto': per dendrogram level, parallel while the level graph has
  more than auto_exact_max vertices (default block_target ×
  defaultParallelism), exact once it has coarsened below that — the
  executable form of the "run level 0 in parallel, switch to exact" story.

Level loop (all modes): renumber communities by first appearance over
ascending node order → coarsen groupBy(min(c_src,c_dst), max(...)).sum(w)
with self-loops kept → repeat while level modularity gain ≥ 1e-7.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from louvain_spark.operators._louvain_kernel import (
    MIN_GAIN,
    block_local_moves,
    one_level_csr,
)
from louvain_spark.operators.graph import vertex_ids
from louvain_spark.plans.gate import broadcast_or_shuffle
from louvain_spark.plans.loop import StepResult, SuperstepRunner, stats_reset


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


def _renumber(assign: DataFrame) -> DataFrame:
    """(id, community) → (id, community 0..k-1), first-appearance order over
    ascending ids ≡ communities ranked by their min member id. The rank is
    the two-phase distributed one (plans/rank.py) — the community-reps
    table is |communities|-sized, which at level 0 of a big graph is still
    far too large for a single-partition window."""
    from louvain_spark.plans.rank import dense_sorted_rank

    reps = assign.groupBy("community").agg(F.min("id").alias("_rep"))
    remap = dense_sorted_rank(reps, "_rep", id_col="_new").select("community", "_new")
    # remap is |communities|-sized — at level 0 of a big graph worst-case
    # O(|V|), so the broadcast is count-gated like every other dimension
    # join (the count reads dense_sorted_rank's checkpoint blocks)
    remap = broadcast_or_shuffle(remap, remap.count())
    return assign.join(remap, "community").select(
        "id", F.col("_new").alias("community")
    )


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
# exact mode: one applyInPandas block per level
# ---------------------------------------------------------------------------

def _one_level_exact(
    spark: SparkSession,
    edges: DataFrame,
    ids: DataFrame,
    resolution: float,
    seed: int,
    level: int,
) -> tuple[DataFrame, float]:
    # feed isolated vertices as zero-weight self-loops so the kernel sees them
    padded = edges.unionByName(
        ids.select(F.col("id").alias("src"), F.col("id").alias("dst"), F.lit(0.0).alias("w"))
    ).withColumn("_g", F.lit(0))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
        w = pdf["w"].to_numpy()
        node_ids = np.unique(np.concatenate([src, dst]))
        com, mod = one_level_csr(node_ids, src, dst, w, resolution, seed, level)
        return pd.DataFrame(
            {"id": node_ids, "community": com, "_mod": np.full(len(node_ids), mod)}
        )

    out = (
        padded.groupBy("_g")
        .applyInPandas(kernel, "id long, community long, _mod double")
        .persist()
    )
    mod = out.select("_mod").first()[0]
    # the caller's checkpoint/advance cuts lineage — safe to free the cache
    # immediately (cached blocks otherwise accumulate across levels/resumes)
    assign = out.select("id", "community").localCheckpoint(eager=True)
    out.unpersist()
    return assign, float(mod)


# ---------------------------------------------------------------------------
# parallel mode: synchronous DataFrame sweeps
# ---------------------------------------------------------------------------

def _one_level_parallel(
    spark: SparkSession,
    edges: DataFrame,
    ids: DataFrame,
    resolution: float,
    seed: int,
    level: int,
    ckpt_dir: str,
    max_sweeps: int = 16,
    n_blocks: int | None = None,
    block_target: int = 64,
    min_moved_frac: float = 0.02,
    total_w: float | None = None,
    n_nodes: int | None = None,
) -> tuple[DataFrame, float]:
    """Block-parallel local-move phase (Grappolo-style, the north-star shape).

    Nodes are hash-partitioned into blocks; each sweep ships every block its
    nodes' full adjacency tagged with a sweep-start snapshot of community
    assignments and Σ_tot aggregates, and the block kernel
    (_louvain_kernel.block_local_moves — the same CSR/numpy construction as
    the exact kernel) runs sequential python-louvain moves to in-block
    fixpoint, tracking local Σ_tot deltas. Cross-block state refreshes
    between sweeps; sweeps stop when nothing moves. Order-dependent (as all
    parallel Louvain is) — validated on modularity + order-invariant graphs.
    """
    from louvain_spark.operators.quality import modularity as q_mod

    e = edges.persist()
    # total weight and vertex count are loop/level invariants the caller
    # usually already knows (Σw survives coarsening exactly; auto mode
    # counts ids for its threshold gate) — accept them to skip the
    # duplicate per-level aggregate/count jobs (r7)
    m = total_w if total_w is not None else e.agg(F.sum("w")).collect()[0][0]
    if not m:
        assign = ids.select("id", F.col("id").alias("community"))
        e.unpersist()
        return assign, 0.0
    if n_nodes is None:
        n_nodes = ids.count()
    if n_blocks is None:
        # scale block count to the graph: coarse levels collapse to one
        # block (sequential local moves → guaranteed convergence, the
        # "switch to exact once it fits" half of the north-star design);
        # big level-0 graphs fan out to one block per core.
        n_blocks = max(1, min(spark.sparkContext.defaultParallelism, n_nodes // block_target))
    # local-move tail cutoff: sweeps moving <1% of nodes contribute
    # negligible modularity (coarsening recovers it next level; quality
    # bound vs the sequential oracle is test-enforced)
    min_moved = max(1, int(n_nodes * min_moved_frac)) if n_blocks > 1 else 1

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

    # the sweep-state parquet carries (id, community, k): k is loop-
    # invariant, and folding it into the checkpointed state removes one
    # |V|-dimension join (+ its broadcast build stage) from EVERY sweep's
    # plan — per-sweep wall is dominated by the count of sequential query
    # stages, not data volume (r7 probe: 137 jobs ≈ 0.2s each)
    assign = k.select(
        "id", F.col("id").alias("community"), "k"
    ).localCheckpoint(eager=True)
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

    for sweep in range(max_sweeps):
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
        prev_assign = assign
        # moved_df merges via a shuffle-hash join, NOT broadcast: a
        # broadcast of the kernel's output would run the whole
        # tagged-join + kernel pipeline as a separate broadcast-build
        # job before the write job could start; the shuffle join keeps
        # kernel and write inside ONE action (and is the right shape
        # above the broadcast gate anyway — both sides key on id).
        merged = (
            prev_assign.join(moved_df.hint("shuffle_hash"), "id", "left")
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
        # frees sweep 0's initial eager localCheckpoint blocks (|V|-sized);
        # later sweeps' prev_assign is parquet-backed — a no-op there
        prev_assign.unpersist()
        if moved < min_moved:
            # the sub-threshold sweep's few moves are already applied (the
            # merge rides the same action) — keep them, stop sweeping
            break

    assign = assign.select("id", "community")  # drop the loop-carried k
    mod = q_mod(e.withColumnRenamed("w", "weight"), assign, resolution, "weight")
    e.unpersist()
    k.unpersist()
    sym.unpersist()
    return assign, float(mod)


# ---------------------------------------------------------------------------

def _dispatch_one_level(spark, mode, ckpt_base, parallel_opts):
    """Level-phase dispatcher for mode in {'exact', 'parallel', 'auto'}.

    The returned callable yields (assign, modularity, needs_renumber):
    the exact kernel already renumbers communities 0..k-1 by first
    appearance over ascending node ids — identical to _renumber's
    min-member-rank order — so exact levels skip the extra distributed
    rank entirely; parallel levels still need it.
    """

    def run_exact(spark, e, ids, resolution, seed, level, total_w=None, n_nodes=None):
        assign, mod = _one_level_exact(spark, e, ids, resolution, seed, level)
        return assign, mod, False

    if mode == "exact":
        return run_exact
    popts = dict(parallel_opts or {})
    auto_exact_max = popts.pop("auto_exact_max", None)

    def run_parallel(spark, e, ids, resolution, seed, level, total_w=None, n_nodes=None):
        assign, mod = _one_level_parallel(
            spark, e, ids, resolution, seed, level, ckpt_dir=ckpt_base,
            total_w=total_w, n_nodes=n_nodes, **popts
        )
        return assign, mod, True

    if mode == "parallel":
        return run_parallel
    if mode != "auto":
        raise ValueError(f"unknown louvain mode: {mode!r}")
    threshold = auto_exact_max
    if threshold is None:
        threshold = popts.get("block_target", 64) * spark.sparkContext.defaultParallelism

    def run_auto(spark, e, ids, resolution, seed, level, total_w=None, n_nodes=None):
        n = n_nodes if n_nodes is not None else ids.count()
        if n <= threshold:
            return run_exact(spark, e, ids, resolution, seed, level)
        return run_parallel(spark, e, ids, resolution, seed, level, total_w=total_w, n_nodes=n)

    return run_auto


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
    auto_exact_max vertices (parallel_opts key; default block_target ×
    defaultParallelism) and switches to the exact single-block kernel once
    the coarsened graph fits — coarse levels shrink geometrically, so the
    tail of the dendrogram converges sequentially instead of burning
    multi-block sweeps on tiny graphs.
    """
    if runner is None:
        runner = SuperstepRunner(spark, "adhoc", f"louvain-{mode}")
    # without a durable checkpoint_dir the per-level edge tables and sweep
    # states go to a private temp dir, removed on return: the returned
    # mapping is runner.advance output, which never reads from it
    owned = runner.checkpoint_dir is None
    ckpt_base = runner.checkpoint_dir or tempfile.mkdtemp(prefix="louvain-ckpt-")
    try:
        one_level = _dispatch_one_level(spark, mode, ckpt_base, parallel_opts)

        ids = vertex_ids(edges, vertices).persist()
        # materialize the normalized canonical edge table once: every sweep
        # re-plans over it, and carrying the caller's lineage (e.g. an inline
        # local relation) into each task binary dominated sweep time by 4-10x
        e = stats_reset(
            spark, _normalize(edges, weight_col), os.path.join(ckpt_base, "edges-l0")
        )
        total_w = e.agg(F.coalesce(F.sum("w"), F.lit(0.0))).collect()[0][0]
        if not total_w:
            from louvain_spark.plans.rank import dense_sorted_rank

            assign = dense_sorted_rank(ids, "id", id_col="community").select(
                "id", F.col("community").cast("long")
            )
            return assign, 0.0

        # level 0 (always kept, as in python-louvain generate_dendrogram)
        assign, mod, needs_rn = one_level(
            spark, e, ids, resolution, seed, 0, total_w=float(total_w)
        )
        if needs_rn:
            assign = _renumber(assign)
        mapping = runner.advance(StepResult(assign, metric=mod))
        # level boundaries are natural checkpoints: cut lineage so each level's
        # sweeps replan against a flat, materialized graph
        cur_edges = stats_reset(
            spark, _coarsen(e, mapping), os.path.join(ckpt_base, "edges-l1")
        )
        mapping, mod = _level_loop(
            spark, one_level, runner, ckpt_base, mapping, mod, cur_edges,
            start_level=1, max_levels=max_levels, resolution=resolution,
            seed=seed, min_gain=min_gain, total_w=float(total_w),
        )
        ids.unpersist()
        return mapping, float(mod)
    finally:
        if owned:
            shutil.rmtree(ckpt_base, ignore_errors=True)


def _level_loop(
    spark, one_level, runner, ckpt_base, mapping, mod, cur_edges,
    start_level, max_levels, resolution, seed, min_gain, total_w=None,
):
    """Dendrogram levels ≥ 1 (shared by louvain() and resume_louvain())."""
    for level in range(start_level, max_levels):
        cur_ids = (
            mapping.select(F.col("community").alias("id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        assign, new_mod, needs_rn = one_level(
            spark, cur_edges, cur_ids, resolution, seed, level, total_w=total_w
        )
        if new_mod - mod < min_gain:
            break
        if needs_rn:
            assign = _renumber(assign)
        mapping = runner.advance(
            StepResult(
                mapping.withColumnRenamed("community", "_c")
                .join(assign.withColumnRenamed("id", "_c"), "_c")
                .select("id", "community"),
                metric=new_mod,
            )
        )
        mod = new_mod
        cur_edges = stats_reset(
            spark, _coarsen(cur_edges, assign),
            os.path.join(ckpt_base, f"edges-l{level + 1}"),
        )
    return mapping, float(mod)


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
    resumable mid-iteration). Each completed dendrogram level is a
    superstep in the run ledger; the original normalized edge table is at
    <dir>/edges-l0, so the next level's graph is recomputed as
    coarsen(edges-l0, mapping) regardless of where the run died.
    Idempotent on completed runs (re-checks the last level and stops).
    """
    runner, mapping, step = SuperstepRunner.resume(
        spark, run_id, f"louvain-{mode}", checkpoint_dir
    )
    if mapping is None:
        raise NoCheckpointError(
            f"no louvain checkpoint for run_id={run_id} in {checkpoint_dir}"
        )
    ledger = spark.read.parquet(runner.ledger_path)
    mod = (
        ledger.where(
            (F.col("run_id") == run_id)
            & (F.col("operator") == f"louvain-{mode}")
            & (F.col("superstep") == step)
            & F.col("metric").isNotNull()
        )
        .select("metric")
        .first()[0]
    )
    e0 = spark.read.parquet(os.path.join(checkpoint_dir, "edges-l0"))
    cur_edges = stats_reset(
        spark, _coarsen(e0, mapping),
        os.path.join(checkpoint_dir, f"edges-l{step + 1}"),
    )
    one_level = _dispatch_one_level(spark, mode, checkpoint_dir, parallel_opts)
    return _level_loop(
        spark, one_level, runner, checkpoint_dir, mapping, float(mod), cur_edges,
        start_level=step + 1, max_levels=max_levels, resolution=resolution,
        seed=seed, min_gain=min_gain,
    )
