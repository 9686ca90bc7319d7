"""Connected components via alternating large-star / small-star.

Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC 2014):
alternate two local rewrites until fixpoint; both are a groupBy(min) plus a
re-emit, so each round is one shuffle and the edge set converges to stars
(every node linked directly to its component's minimum id) in O(log²n)
rounds — O(log n) in practice. No floats, exact result; oracle =
networkx.connected_components (SURVEY.md §2.8).

At or below gate.ONE_BLOCK_MAX_EDGES input edges the whole run is one
task instead (_block_kernels.cc_block: min-label hooking plus pointer
jumping, to convergence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from louvain_spark.operators._block_kernels import cc_block, one_block
from louvain_spark.operators.graph import canonicalize, checksum, symmetrize, vertex_ids
from louvain_spark.plans.gate import fits_one_block
from louvain_spark.plans.loop import StepResult, SuperstepRunner


def _tag_min(df: DataFrame) -> DataFrame:
    """Attach `_mn` = per-src min(dst).

    groupBy(min) does map-side partial aggregation (hub minima reduce
    before the shuffle) and the join back on src is AQE-skew-splittable —
    the skew-safe shape for power-law hubs. (A one-shuffle window form
    funnels a hub's whole neighborhood through one task: AQE splits
    skewed joins, not windows.)"""
    mins = df.groupBy("src").agg(F.min("dst").alias("_mn"))
    # shuffle-hash pin: mins is |V|-sized — left to AQE this join can
    # pick a |V|-row broadcast whose driver-side build OOMs at tight
    # per-core memory and never fits a 100 TB graph (the same pin as
    # pagerank's out_strength join). Both sides key on src and mins is
    # already hash-partitioned on src by its own groupBy, so the hint
    # reuses that exchange; bench-scale wall measured neutral (r7 A/B:
    # 2.01s vs 2.00s warm best-of-3).
    return df.join(mins.hint("shuffle_hash"), "src")


def _large_star(edges: DataFrame, dedup: bool = False) -> DataFrame:
    """For each u: m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.

    dedup=False skips the intermediate distinct (one full shuffle per
    round): the output has one row per (u,v) orientation — no inflation —
    and the downstream small★ is duplicate-insensitive (its min aggregate
    collapses dupes; the round's single canonicalize dedups at the end).
    Emitted rows always have src=v > dst=m, so no self-loops either."""
    sym = symmetrize(edges)
    tagged = _tag_min(sym).withColumn("_m", F.least(F.col("src"), F.col("_mn")))
    out = tagged.where(F.col("dst") > F.col("src")).select(
        F.col("dst").alias("src"), F.col("_m").alias("dst")
    )
    return canonicalize(out) if dedup else out


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient u = max(pair); m = min(Γ_small(u) ∪ {u});
    emit (v, m) for v ∈ Γ_small(u) ∪ {u}, v ≠ m."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    tagged = _tag_min(oriented).withColumn("_m", F.col("_mn"))
    out1 = tagged.where(F.col("dst") != F.col("_m")).select(
        F.col("dst").alias("src"), F.col("_m").alias("dst")
    )
    # out2 one row per edge (not per distinct src) — canonicalize's
    # distinct dedups the union in the same shuffle
    out2 = tagged.select("src", F.col("_m").alias("dst"))
    return canonicalize(out1.unionByName(out2))


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
    runner: SuperstepRunner | None = None,
    start_state: DataFrame | None = None,
) -> DataFrame:
    """assignments(id, component) with component = min vertex id reachable.

    Pass a SuperstepRunner for durable checkpoints/ledger; pass
    (runner, start_state) from SuperstepRunner.resume to continue a run.

    Round batching (chaining 2 rounds per action to halve the per-action
    serial floor, r3 VERDICT #5) was tried and MEASURED WORSE — 4-5x wall
    at both 2 and 32 cores (BENCH/batching_r4.md): each round is a
    union+distinct over the full edge set, and chaining two of them in one
    plan loses the materialized boundary that keeps the second round's
    shuffle sizes and join strategies sane. PageRank keeps batching (its
    intermediate is a narrow (id,score) table); CC stays one round per
    action by design.

    At or below gate.ONE_BLOCK_MAX_EDGES input edges the run is one kernel
    task that ignores max_iter and runs to convergence. It makes ONE
    runner advance whose state is the star edge table (component, id), so
    it resumes only from before the kernel; a checkpoint written by either
    path resumes on either.
    """
    if runner is None:
        runner = SuperstepRunner(spark, "adhoc", "cc")
    if fits_one_block(edges):
        # star edges from a checkpoint join the same components
        pairs = edges.select("src", "dst")
        if start_state is not None:
            pairs = pairs.unionByName(start_state.select("src", "dst"))
        snap, steps, _ = one_block(
            pairs.withColumn("w", F.lit(1.0)), vertices, None, cc_block,
            "component", "long",
        )
        labels = snap.select("id", "component")
        stars = labels.where(F.col("id") != F.col("component")).select(
            F.col("component").alias("src"), F.col("id").alias("dst")
        )
        # a fresh run also counts its initial state as superstep 0
        runner.advance(
            StepResult(stars, moved=0, steps=steps + (start_state is None), one_block=True)
        )
        return labels
    cur = start_state if start_state is not None else canonicalize(edges)
    if start_state is None:
        cur = runner.advance(StepResult(cur))
    prev_sig = checksum(cur, "src", "dst")
    for _ in range(max_iter):
        # fixpoint checksum rides the checkpoint action as observed
        # metrics — one action per superstep, no re-scan
        obs = Observation()
        nxt = _small_star(_large_star(cur)).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        )
        nxt = runner.advance(StepResult(nxt))
        vals = obs.get
        sig = (int(vals["n"]), int(vals["h"]))
        cur = nxt
        if sig == prev_sig:
            break
        prev_sig = sig

    # After convergence the edge set is a union of stars rooted at each
    # component's min id: label = min(id, min neighbor).
    ids = vertex_ids(edges, vertices)
    sym = symmetrize(cur)
    mn = sym.groupBy(F.col("src").alias("id")).agg(F.min("dst").alias("_mn"))
    return ids.join(mn, "id", "left").select(
        "id", F.least("id", F.coalesce("_mn", "id")).alias("component")
    )
