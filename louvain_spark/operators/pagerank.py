"""PageRank as superstep joins + aggregations (SURVEY.md §2.8).

ranks init 1/N; per superstep: contribs = edges ⋈ ranks on src →
rank·w/out_strength per dst → groupBy(dst).sum; damping
(1-d)/N + d·(contribs + dangling_mass/N); iterate until L∞ < tol.
Oracle: numpy power iteration, allclose 1e-6 (BASELINE.md).

A vertex whose out-strength is 0 (no out-edges, or only zero-weight
ones) is dangling: networkx's stochastic_graph rule.

At or below gate.ONE_BLOCK_MAX_EDGES input edges the whole run is one
task (_block_kernels.pagerank_block), which stops at the first step whose
L∞ delta is below tol. Above it the supersteps below run distributed.

Scale notes: ranks and out-strengths are (id, value) tables shuffled on
id; the contrib join is the only wide op per superstep and AQE's skew
split covers hot dst ids. The convergence scalars (L∞ delta, dangling
mass) are observed metrics on the checkpoint action — one driver action
per batch of steps_per_action supersteps, with no collect. An action is
not one Spark job: under AQE each query stage runs as its own job, 7.2
jobs per step at steps_per_action=2 on a 12.7k-edge graph.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from louvain_spark.operators._block_kernels import one_block, pagerank_block
from louvain_spark.operators.graph import symmetrize, vertex_ids
from louvain_spark.plans.gate import fits_one_block
from louvain_spark.plans.loop import StepResult, SuperstepRunner, release


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 100,
    weight_col: str | None = "weight",
    directed: bool = False,
    runner: SuperstepRunner | None = None,
    start_state: DataFrame | None = None,
    steps_per_action: int = 1,
) -> DataFrame:
    """scores(id, score) summing to 1.0 at convergence.

    Pass (runner, start_state) from SuperstepRunner.resume to continue an
    interrupted run mid-iteration from its last durable checkpoint.

    steps_per_action chains that many supersteps into ONE driver action
    (r3 VERDICT #5: the ~2s/action plan+schedule floor dominates N→4N
    scaling at low core counts). Inside a batch the next step's dangling
    mass is a 1-row in-plan aggregate (broadcast crossJoin) instead of an
    observed scalar, intermediate ranks are persisted so the single action
    computes each step once, and convergence (L∞ < tol) is checked at
    batch boundaries. At tol=0 trajectories are identical for every batch
    size (pinned by tests). At tol>0 a batched run may take up to
    steps_per_action−1 extra power-iteration steps past the first
    sub-tol delta — each extra step moves scores CLOSER to the fixed
    point (per-vertex drift ≤ ~damping·tol), so accuracy only improves.
    Default is 1 (per-step early stopping, the historical behavior);
    bench/driver call sites opt into 2 where the serial floor dominates.

    At or below gate.ONE_BLOCK_MAX_EDGES input edges the run is one
    kernel task and steps_per_action has no effect. It makes ONE runner
    advance (steps = iterations run), so it resumes only from before the
    kernel; a checkpoint written by either path resumes on either.
    """
    if runner is None:
        runner = SuperstepRunner(spark, "adhoc", "pagerank")

    w = F.col(weight_col) if weight_col else F.lit(1.0)
    wedges = edges.select("src", "dst", w.cast("double").alias("w"))
    if fits_one_block(edges):
        snap, steps, delta = one_block(
            wedges, vertices,
            None if start_state is None else start_state.select("id", "score"),
            partial(
                pagerank_block, damping=damping, tol=tol, max_iter=max_iter,
                directed=directed,
            ),
            "score", "double",
        )
        # a fresh run also counts its initial state as superstep 0
        scores = runner.advance(
            StepResult(
                snap.select("id", "score"), metric=delta,
                steps=steps + (start_state is None), one_block=True,
            )
        )
        release(snap)
        return scores
    adj = wedges if directed else symmetrize(wedges, "w")
    ids = vertex_ids(edges, vertices).persist()
    n = ids.count()
    if n == 0:
        ids.unpersist()
        return spark.createDataFrame([], "id long, score double")

    # an out-strength of 0 leaves the vertex out, so it counts as
    # dangling instead of dividing by zero
    out_strength = (
        adj.groupBy("src").agg(F.sum("w").alias("out_w")).where(F.col("out_w") != 0)
    )
    # normalized contribution fraction per edge is loop-invariant: cache it.
    # shuffle_hash hint: out_strength is O(|V|) — left to AQE this join can
    # pick a |V|-sized broadcast whose driver-side build OOMs at tight
    # per-core memory (observed at scale4/1core/4g) and would never fit on
    # a 100TB graph; both sides key on src, so a shuffle hash join is the
    # scale shape
    frac = (
        adj.join(out_strength.hint("shuffle_hash"), "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("frac"))
        .persist()
    )
    frac.count()

    # Rank/contrib dimension joins ship as SHUFFLE-HASH, not broadcast
    # (r7 barrier trim): every broadcast of a per-step table (cur ranks,
    # contribs, old scores) is a separate blocking broadcast-build job —
    # ~6 driver barriers per 2-step batch. With shuffle-hash hints the
    # whole batch runs as ONE action, and the exchanges are mostly free:
    # frac is already hash-partitioned on src by its build join, and
    # iddang/contribs/checkpointed ranks are partitioned on id, so
    # exchange reuse elides most of the hinted shuffles. Bytes argument
    # holds at every scale: exchanging the |V|-row dimension once beats
    # broadcasting it to every executor.
    jb = lambda df: df.hint("shuffle_hash")  # noqa: E731

    if start_state is not None:
        ranks = start_state
    else:
        ranks = ids.select("id", F.lit(1.0 / n).alias("score"))
        ranks = runner.advance(StepResult(ranks))
    # the loop-invariant (id, _dangling) dimension, one snapshot released
    # after the last step: _dangling is True for a vertex with no
    # out-edge, NULL otherwise, so a superstep plans 3 joins, not 4
    iddang = ids.join(
        out_strength.select(F.col("src").alias("id"), F.lit(True).alias("_out"))
        .hint("shuffle_hash"),
        "id",
        "left",
    ).select("id", F.when(F.col("_out").isNull(), F.lit(True)).alias("_dangling"))
    iddang = iddang.localCheckpoint(eager=True)
    # initial dangling mass: an IN-PLAN 1-row aggregate consumed by the
    # first batch as a broadcast fold (the same mechanism in-batch steps
    # already use) — not a driver collect; identical double (same agg
    # plan, same division) without the extra blocking job
    dangling = None
    dm0 = ranks.join(iddang.where("_dangling"), "id", "left_semi").agg(
        F.coalesce(F.sum("score"), F.lit(0.0)).alias("_dm")
    )

    spa = max(1, int(steps_per_action))
    done = 0
    while done < max_iter:
        batch = min(spa, max_iter - done)
        cur, inner = ranks, []
        if dangling is None:
            # first batch: dangling mass rides the plan as the dm0
            # broadcast fold (no setup collect); later batches use the
            # scalar observed on the previous batch's action
            dang_over_n = F.col("_dm") / F.lit(float(n))
            base0 = iddang.crossJoin(F.broadcast(dm0))
        else:
            dang_over_n = F.lit(dangling / n)  # observed scalar for step 0
            base0 = iddang
        scored = None
        for s in range(batch):
            contribs = (
                frac.join(jb(cur.withColumnRenamed("id", "src")), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("frac") * F.col("score")).alias("c"))
            )
            base = base0 if s == 0 else iddang.crossJoin(F.broadcast(dm))
            score_expr = (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("c"), F.lit(0.0)) + dang_over_n)
            ).alias("score")
            joined = base.join(jb(contribs), "id", "left")
            if s == batch - 1:
                # only the batch's LAST step needs previous scores (the
                # observed L-inf delta); intermediate steps skip this
                # |V|-sized broadcast join entirely
                scored = joined.join(
                    jb(cur.withColumnRenamed("score", "old")), "id"
                ).select("id", score_expr, "old", "_dangling")
            else:
                scored = joined.select("id", score_expr, "_dangling")
            if s < batch - 1:
                # persist (no action): the batch's one action computes this step
                # once and later stages read the cache — without it the
                # next step's 3 references would recompute the subtree
                scored = scored.persist()
                inner.append(scored)
                # next step's dangling mass as an in-plan 1-row broadcast
                dm = scored.where("_dangling").agg(
                    F.coalesce(F.sum("score"), F.lit(0.0)).alias("_dm")
                )
                dang_over_n = F.col("_dm") / F.lit(float(n))
                cur = scored.select("id", "score")
        # convergence scalars (last step's L∞ delta + next batch's dangling
        # mass) ride the checkpoint action as observed metrics — one
        # action per batch of steps_per_action supersteps
        obs = Observation()
        new_ranks = scored.observe(
            obs,
            F.max(F.abs(F.col("score") - F.col("old"))).alias("delta"),
            F.coalesce(
                F.sum(F.when(F.col("_dangling"), F.col("score"))), F.lit(0.0)
            ).alias("dangling"),
        ).select("id", "score")
        new_ranks = runner.advance(
            StepResult(new_ranks, observation=obs, metric_key="delta", steps=batch)
        )
        for df in inner:
            df.unpersist()
        stats = obs.get
        delta, dangling = float(stats["delta"]), float(stats["dangling"])
        ranks = new_ranks
        done += batch
        if delta < tol:
            break
    release(iddang)
    frac.unpersist()
    ids.unpersist()
    return ranks
