"""Louvain's parallel levels in one task (below
plans/gate.LOUVAIN_ONE_TASK_MAX_EDGES) against the distributed sweeps.

The one-task kernel (_louvain_kernel.parallel_level_csr) must place every
vertex in the same block as the distributed sweep, so its numpy port of
Spark's xxhash64 must agree with F.xxhash64 bit for bit; then the two
sides give the same partition.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from louvain_spark.operators import _louvain_kernel
from louvain_spark.operators import louvain as louvain_mod
from louvain_spark.operators._louvain_kernel import xxhash64
from louvain_spark.operators.induce import cooccurrence_edges
from louvain_spark.operators.louvain import louvain
from louvain_spark.synth import transcripts_df
from tests import graphs
from tests.conftest import cached_rdds, edges_df, local_checkpoints, use_gate_side


BOUNDS = {"long": (-(2**63), 2**63 - 1), "int": (-(2**31), 2**31 - 1)}


@pytest.mark.parametrize("spark_type", list(BOUNDS))
def test_xxhash64_matches_spark(spark, spark_type):
    lo, hi = BOUNDS[spark_type]
    rng = np.random.default_rng(7)
    x = np.concatenate([
        rng.integers(lo, hi, 2000, endpoint=True),
        rng.integers(-1000, 1000, 500),
        [lo, lo + 1, -1, 0, 1, hi - 1, hi],
    ])
    df = spark.createDataFrame([(int(v),) for v in x], f"v {spark_type}")
    got = df.select(
        "v", F.xxhash64("v").alias("h"), F.pmod(F.xxhash64("v"), F.lit(16)).alias("b")
    ).toPandas()
    h = xxhash64(got["v"].to_numpy(), int32=spark_type == "int")
    assert np.array_equal(h, got["h"].to_numpy())
    assert np.array_equal(np.mod(h, 16), got["b"].to_numpy())


@pytest.mark.parametrize("seed", [2, 3])
def test_synth_graph_same_on_both_sides(spark, monkeypatch, seed):
    """A 2000-conversation synth graph (~2.2k vertices, ~10k edges): auto
    runs its level-0 sweeps in 8 blocks, then exact levels; both gate
    sides give the same assignment and modularity."""
    verts, edges = cooccurrence_edges(transcripts_df(spark, n_conv=2000, seed=seed), window=8)
    edges, verts = edges.localCheckpoint(eager=True), verts.localCheckpoint(eager=True)
    got = {}
    for side in ("one_block", "distributed"):
        use_gate_side(monkeypatch, side)
        assign, mod = louvain(spark, edges, vertices=verts.select("id"), mode="auto")
        got[side] = {r["id"]: r["community"] for r in assign.collect()}, mod
    (one, one_mod), (dist, dist_mod) = got["one_block"], got["distributed"]
    assert len(one) > 2000 and len(set(one.values())) > 1
    assert one == dist
    assert abs(one_mod - dist_mod) < 1e-12


def test_failed_sweep_leaves_nothing_cached(spark, monkeypatch):
    use_gate_side(monkeypatch, "distributed")
    edges, n = graphs.g_ring_of_cliques(k=8, c=5)
    e = edges_df(spark, edges)
    real = louvain_mod.stats_reset

    def fail_in_sweep_1(sp, df, path):
        if "assign-l0-s1" in path:
            raise RuntimeError("sweep failed")
        return real(sp, df, path)

    monkeypatch.setattr(louvain_mod, "stats_reset", fail_in_sweep_1)
    before = cached_rdds(spark)
    with pytest.raises(RuntimeError, match="sweep failed"):
        louvain(spark, e, mode="auto", parallel_opts={"auto_exact_max": 0, "n_blocks": 4})
    assert cached_rdds(spark) <= before


def test_parallel_level_leaves_one_local_checkpoint(spark, monkeypatch):
    """One distributed level and sweep: the sweep-0 state is read from the
    cached degree table, the renumbering rank's snapshots are released
    once the next level graph is written, and the runner's result is the
    only localCheckpoint left; nothing stays cached."""
    use_gate_side(monkeypatch, "distributed")
    monkeypatch.setattr(_louvain_kernel, "MAX_SWEEPS", 1)
    e = edges_df(spark, graphs.g_ring_of_cliques(k=8, c=5)[0])
    lc, cached = local_checkpoints(spark), cached_rdds(spark)
    assign, _ = louvain(
        spark, e, mode="auto", max_levels=1, parallel_opts={"auto_exact_max": 0}
    )
    assert len(local_checkpoints(spark) - lc) == 1
    assert cached_rdds(spark) <= cached
    assert assign.count() == 40


def test_unknown_parallel_opt_is_rejected(spark):
    e = edges_df(spark, graphs.g_two_cliques()[0])
    with pytest.raises(ValueError, match="nblocks"):
        louvain(spark, e, mode="auto", parallel_opts={"nblocks": 2})
