"""Synchronous weighted label propagation (SURVEY.md §2.8).

Superstep: neighbor-label histogram groupBy(node, label).sum(w) → argmax
with deterministic tie-break (max weight, then MIN label) via one window;
all nodes update simultaneously; stop at fixpoint or max_iter (synchronous
LPA can 2-cycle on bipartite-ish structures — max_iter bounds it, and the
moved-count is recorded per superstep in the ledger).
Oracle: seeded synchronous numpy/dict reimplementation with the same
tie-break (tests/).

At or below gate.ONE_BLOCK_MAX_EDGES input edges the whole run is one
task (_block_kernels.lpa_block), which stops at the first fixpoint. Above
it the supersteps run distributed, one driver action per batch of
steps_per_action supersteps (under AQE each query stage of that action
runs as its own Spark job).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from louvain_spark.operators._block_kernels import lpa_block, one_block
from louvain_spark.operators.graph import symmetrize, vertex_ids
from louvain_spark.plans.gate import broadcast_or_shuffle, fits_one_block
from louvain_spark.plans.loop import StepResult, SuperstepRunner, release


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    weight_col: str | None = "weight",
    max_iter: int = 20,
    runner: SuperstepRunner | None = None,
    start_state: DataFrame | None = None,
    steps_per_action: int = 1,
) -> DataFrame:
    """assignments(id, community) — community = converged label (init: own id).

    Pass (runner, start_state) from SuperstepRunner.resume to continue an
    interrupted run mid-iteration from its last durable checkpoint.

    Below the dimension-join gate (plans/gate.py) the per-superstep label
    table ships as broadcast hash joins (one shuffle per superstep: the
    histogram groupBy); above it, shuffle_hash joins.

    steps_per_action chains that many synchronous supersteps into one
    driver action (same floor-cutting pattern as pagerank; the chained
    intermediate is the narrow (id, community) label table, persisted so
    the single batch job computes each step once). Fixpoint (moved == 0,
    observed on the LAST step of the batch) is checked at batch
    boundaries; a converged state is invariant under the extra step, so
    the final labels are identical to the unbatched trajectory. Default
    is 1 (per-step behavior); bench/driver call sites opt into 2 where
    the per-action serial floor dominates.

    At or below gate.ONE_BLOCK_MAX_EDGES input edges the run is one
    kernel task and steps_per_action has no effect. It makes ONE runner
    advance (steps = iterations run), so it resumes only from before the
    kernel; a checkpoint written by either path resumes on either.
    """
    if runner is None:
        runner = SuperstepRunner(spark, "adhoc", "lpa")

    w = F.col(weight_col) if weight_col else F.lit(1.0)
    wedges = edges.select("src", "dst", w.cast("double").alias("w"))
    if fits_one_block(edges):
        snap, steps, moved = one_block(
            wedges, vertices,
            None if start_state is None else start_state.select("id", "community"),
            partial(lpa_block, max_iter=max_iter), "community", "long",
        )
        # a fresh run also counts its initial state as superstep 0
        labels = runner.advance(
            StepResult(
                snap.select("id", "community"),
                moved=None if moved is None else int(moved),
                steps=steps + (start_state is None), one_block=True,
            )
        )
        release(snap)
        return labels
    adj = symmetrize(wedges, "w").persist()
    adj.count()
    ids = vertex_ids(edges, vertices).persist()
    n_ids = ids.count()

    if start_state is not None:
        labels = start_state
    else:
        labels = ids.select("id", F.col("id").alias("community"))
        labels = runner.advance(StepResult(labels))

    spa = max(1, int(steps_per_action))
    done = 0
    while done < max_iter:
        batch = min(spa, max_iter - done)
        cur, inner = labels, []
        new_labels = None
        for s in range(batch):
            nbr = cur.select(F.col("id").alias("dst"), F.col("community").alias("nbr_label"))
            hist = (
                adj.join(broadcast_or_shuffle(nbr, n_ids), "dst")
                .groupBy(F.col("src").alias("id"), F.col("nbr_label"))
                .agg(F.sum("w").alias("s"))
            )
            win = Window.partitionBy("id").orderBy(F.col("s").desc(), F.col("nbr_label").asc())
            best = (
                hist.withColumn("_rn", F.row_number().over(win))
                .where(F.col("_rn") == 1)
                .select("id", F.col("nbr_label").alias("new_label"))
            )
            # labels spans exactly the vertex set (initialized from ids,
            # preserved by construction) — joining ids back in would be a
            # third join of pure per-superstep serial floor
            new_labels = cur.join(broadcast_or_shuffle(best, n_ids), "id", "left").select(
                "id", F.coalesce("new_label", "community").alias("community"),
                (F.coalesce("new_label", "community") != F.col("community")).alias("_moved"),
            )
            if s < batch - 1:
                # persist (no action): the batch job computes this step
                # once; the next step references it via histogram + merge
                nxt = new_labels.select("id", "community").persist()
                inner.append(nxt)
                cur = nxt
        # moved-count (last step of the batch) rides the checkpoint action
        # — one action per batch of steps_per_action supersteps
        obs = Observation()
        observed = new_labels.observe(
            obs, F.coalesce(F.sum(F.col("_moved").cast("long")), F.lit(0)).alias("moved")
        )
        labels = runner.advance(
            StepResult(
                observed.select("id", "community"), observation=obs,
                moved_key="moved", steps=batch,
            )
        )
        for df in inner:
            df.unpersist()
        moved = int(obs.get["moved"])
        done += batch
        if moved == 0:
            break
    adj.unpersist()
    ids.unpersist()
    return labels
