"""Deep-superstep regression tests (≥30 iterations, default ad-hoc runner).

Guards the Spark-4 Catalyst stats-explosion landmine: localCheckpoint
preserves the origin plan's sizeInBytes estimate and join estimates are
PRODUCTS of child sizes, so k joins/superstep compound the estimate
exponentially until the optimizer hangs for minutes and dies with
"BigInteger would overflow supported range" (r2 driver crash:
pagerank_events at max_iter=30). The SuperstepRunner now parquet-
roundtrips every STATS_RESET_EVERY localCheckpoints; these tests run the
exact crash shape — NO checkpoint_dir, ≥30 supersteps — under a wall-time
bound far below the pre-fix behavior (>7 min hang on a 20-vertex graph).

Only the distributed superstep loops chain joins, so every test here runs
with the one-block gate off.
"""

import time

import numpy as np
import pytest

from louvain_spark.operators.lpa import label_propagation
from louvain_spark.operators.pagerank import pagerank
from tests import graphs
from tests.conftest import edges_df, use_gate_side, vertices_df
from tests.test_pagerank import np_pagerank

WALL_BOUND_S = 180  # pre-fix: optimizer alone burned >420s by superstep ~25


@pytest.fixture(autouse=True)
def _distributed(monkeypatch):
    use_gate_side(monkeypatch, "distributed")


def test_pagerank_30_supersteps_adhoc_runner(spark):
    """The r2 driver crash shape: default runner, max_iter=30, tol so small
    it never early-stops. Must complete quickly and match the oracle."""
    edges, n = graphs.g_random(40, 0.1, seed=9, weighted=True)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    t0 = time.monotonic()
    got_df = pagerank(spark, e, vertices=verts, max_iter=30, tol=0.0)
    got = np.zeros(n)
    for r in got_df.collect():
        got[r["id"]] = r["score"]
    wall = time.monotonic() - t0
    assert wall < WALL_BOUND_S, f"stats explosion is back: {wall:.0f}s"
    want = np_pagerank(edges, n, max_iter=30)
    assert np.allclose(got, want, atol=1e-9)
    assert abs(got.sum() - 1.0) < 1e-9


def test_lpa_oscillating_bipartite_40_supersteps(spark):
    """Complete bipartite graphs 2-cycle under synchronous LPA (labels swap
    sides every superstep), so moved never reaches 0 and the loop runs the
    full max_iter=40 — the non-converging shape that hits the same stats
    landmine through LPA's 3-joins-per-superstep path."""
    a, b = range(4), range(4, 8)
    edges = [(u, v, 1.0) for u in a for v in b]
    e = edges_df(spark, edges)
    verts = vertices_df(spark, 8)
    t0 = time.monotonic()
    got = {
        r["id"]: r["community"]
        for r in label_propagation(
            spark, e, vertices=verts, max_iter=40
        ).collect()
    }
    wall = time.monotonic() - t0
    assert wall < WALL_BOUND_S, f"stats explosion is back: {wall:.0f}s"
    # after an EVEN number of sync supersteps, each side holds the other
    # side's min label from the previous flip: A=own-min? — trace: step1
    # A->4, B->0; step2 A->0, B->4; ... even steps = (A=0, B=4)
    assert all(got[u] == 0 for u in a) and all(got[v] == 4 for v in b)


def test_pagerank_batch_sizes_same_trajectory(spark):
    """steps_per_action must be a pure batching knob: odd sizes, sizes
    that don't divide max_iter, and size 1 all produce the identical
    fixed-step trajectory."""
    import numpy as np

    from louvain_spark.operators.pagerank import pagerank
    from tests import graphs
    from tests.conftest import edges_df

    edges, n = graphs.g_random(40, 0.12, seed=11, weighted=True)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    ref = None
    for spa in (1, 2, 3, 7):
        got = {
            r["id"]: r["score"]
            for r in pagerank(
                spark, e, vertices=verts, max_iter=7, tol=0.0,
                steps_per_action=spa,
            ).collect()
        }
        if ref is None:
            ref = got
        else:
            assert set(got) == set(ref)
            for i in ref:
                assert abs(got[i] - ref[i]) < 1e-12, (spa, i)


def test_lpa_batch_sizes_same_partition(spark):
    """LPA batching parity: same labels for any steps_per_action."""
    from louvain_spark.operators.lpa import label_propagation
    from tests import graphs
    from tests.conftest import edges_df

    edges, n = graphs.g_ring_of_cliques(k=5, c=4)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    ref = None
    for spa in (1, 2, 3):
        got = {
            r["id"]: r["community"]
            for r in label_propagation(
                spark, e, vertices=verts, max_iter=9, steps_per_action=spa
            ).collect()
        }
        if ref is None:
            ref = got
        else:
            assert got == ref, spa


def test_pagerank_batched_early_stop_within_tol(spark):
    """tol>0 contract under batching: a batched run may take up to
    steps_per_action-1 extra steps past the first sub-tol delta; each
    extra step contracts toward the fixed point, so batched and unbatched
    early-stopped scores differ by at most ~tol per vertex."""
    from louvain_spark.operators.pagerank import pagerank
    from tests import graphs
    from tests.conftest import edges_df

    edges, n = graphs.g_random(40, 0.12, seed=3, weighted=True)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    tol = 1e-3
    r1 = {
        r["id"]: r["score"]
        for r in pagerank(
            spark, e, vertices=verts, tol=tol, max_iter=100, steps_per_action=1
        ).collect()
    }
    r2 = {
        r["id"]: r["score"]
        for r in pagerank(
            spark, e, vertices=verts, tol=tol, max_iter=100, steps_per_action=2
        ).collect()
    }
    assert set(r1) == set(r2)
    assert max(abs(r1[i] - r2[i]) for i in r1) <= tol
