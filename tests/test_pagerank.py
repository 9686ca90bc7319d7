"""PageRank vs numpy power-iteration oracle.

Parity strategy: both engine and oracle implement the identical update
(damping + dangling redistribution); at any fixed superstep count the
trajectories agree to float rounding, so we compare at k=15 iterations —
allclose far below the 1e-6 target — instead of burning ~100 Spark
supersteps per test to reach the true fixed point. One cheap test covers
the tol early-stop path; full-convergence numbers come from bench.py.
"""

import numpy as np
import pytest

from louvain_spark.operators.pagerank import pagerank
from louvain_spark.plans.loop import SuperstepRunner
from tests import graphs
from tests.conftest import edges_df, local_df, on_both_sides, use_gate_side, vertices_df

K = 15


def np_pagerank(edges, n, damping=0.85, tol=0.0, max_iter=K, directed=False):
    W = {}  # sparse: (u, v) -> summed weight, so a 10k-leaf hub fits
    for u, v, w in edges:
        W[u, v] = W.get((u, v), 0.0) + w
        if not directed:
            W[v, u] = W.get((v, u), 0.0) + w
    rows = np.array([u for u, _ in W], dtype=np.int64)
    cols = np.array([v for _, v in W], dtype=np.int64)
    vals = np.array(list(W.values()), dtype=np.float64)
    out = np.zeros(n)
    np.add.at(out, rows, vals)
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        dangling = r[out == 0].sum()
        nz = out[rows] > 0
        contrib = np.zeros(n)
        np.add.at(contrib, cols[nz], r[rows[nz]] / out[rows[nz]] * vals[nz])
        new = (1 - damping) / n + damping * (contrib + dangling / n)
        delta = np.abs(new - r).max()
        r = new
        if delta < tol:
            break
    return r


def _run(spark, edges, n, **kw):
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    got = pagerank(spark, e, vertices=verts, **kw)
    out = np.zeros(n)
    for r in got.collect():
        out[r["id"]] = r["score"]
    return out


@pytest.mark.parametrize(
    "fixture,gate_side", on_both_sides(["g_two_triangles", "g_disconnected"]),
    indirect=["gate_side"],
)
def test_pagerank_goldens(spark, fixture, gate_side):
    edges, n = getattr(graphs, fixture)()
    got = _run(spark, edges, n, max_iter=K, tol=0.0)
    want = np_pagerank(edges, n)
    assert np.allclose(got, want, atol=1e-9)
    assert abs(got.sum() - 1.0) < 1e-9  # dangling mass conserved


def test_pagerank_weighted_random(spark):
    edges, n = graphs.g_random(50, 0.08, seed=5, weighted=True)
    got = _run(spark, edges, n, max_iter=K, tol=0.0)
    want = np_pagerank(edges, n)
    assert np.allclose(got, want, atol=1e-9)


@pytest.mark.parametrize("gate_side", ["distributed"], indirect=True)
def test_pagerank_weighted_random_distributed(spark, gate_side):
    test_pagerank_weighted_random(spark)


def test_pagerank_directed(spark):
    # build directly — edges_df canonicalizes pairs, which would destroy direction
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (2, 3, 2.0)]
    e = local_df(spark, edges, "src long, dst long, weight double")
    verts = vertices_df(spark, 4)
    got_df = pagerank(spark, e, vertices=verts, max_iter=K, tol=0.0, directed=True)
    got = np.zeros(4)
    for r in got_df.collect():
        got[r["id"]] = r["score"]
    want = np_pagerank(edges, 4, directed=True)
    assert np.allclose(got, want, atol=1e-9)


@pytest.mark.parametrize("gate_side", ["distributed"], indirect=True)
def test_pagerank_directed_distributed(spark, gate_side):
    test_pagerank_directed(spark)


def test_pagerank_tol_early_stop(spark):
    edges, n = graphs.g_two_cliques()
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    runner = SuperstepRunner(spark, "pr-tol", "pagerank")
    got = pagerank(
        spark, e, vertices=verts, tol=1e-3, max_iter=100, runner=runner
    )
    # stopped well before max_iter, and matches oracle run to same tol
    assert runner.superstep < 40
    want = np_pagerank(edges, n, tol=1e-3, max_iter=100)
    gotv = np.zeros(n)
    for r in got.collect():
        gotv[r["id"]] = r["score"]
    assert np.allclose(gotv, want, atol=1e-9)


def test_pagerank_resume_matches_uninterrupted(spark, tmp_path):
    """north_rule resumability: stop after 4 supersteps, resume from the
    durable checkpoint, finish — scores identical to the uninterrupted run."""
    from louvain_spark.plans.loop import SuperstepRunner

    edges, n = graphs.g_random(40, 0.1, seed=6, weighted=True)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)

    full = pagerank(spark, e, vertices=verts, max_iter=10, tol=0.0)
    want = {r["id"]: r["score"] for r in full.collect()}

    d = str(tmp_path / "ck")
    r1 = SuperstepRunner(spark, "pr-run", "pagerank", checkpoint_dir=d)
    pagerank(spark, e, vertices=verts, max_iter=4, tol=0.0, runner=r1)

    r2, state, step = SuperstepRunner.resume(spark, "pr-run", "pagerank", d)
    assert step == 4 and state is not None
    resumed = pagerank(
        spark, e, vertices=verts, max_iter=6, tol=0.0, runner=r2, start_state=state
    )
    got = {r["id"]: r["score"] for r in resumed.collect()}
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) < 1e-12, i


@pytest.mark.parametrize(
    "first,second",
    [("one_block", "distributed"), ("distributed", "one_block"),
     ("distributed", "distributed")],
)
def test_pagerank_resume_across_paths(spark, tmp_path, monkeypatch, first, second):
    """A checkpoint written on either side of the one-block gate resumes on
    either side to the uninterrupted scores."""
    edges, n = graphs.g_random(40, 0.1, seed=6, weighted=True)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    want = _run(spark, edges, n, max_iter=10, tol=0.0)

    d = str(tmp_path / "ck")
    use_gate_side(monkeypatch, first)
    r1 = SuperstepRunner(spark, "pr-x", "pagerank", checkpoint_dir=d)
    pagerank(spark, e, vertices=verts, max_iter=4, tol=0.0, runner=r1)
    use_gate_side(monkeypatch, second)
    r2, state, step = SuperstepRunner.resume(spark, "pr-x", "pagerank", d)
    assert step == 4 and state is not None
    resumed = pagerank(
        spark, e, vertices=verts, max_iter=6, tol=0.0, runner=r2, start_state=state
    )
    assert r2.superstep == 10
    got = np.zeros(n)
    for r in resumed.collect():
        got[r["id"]] = r["score"]
    assert np.allclose(got, want, rtol=0.0, atol=1e-9)
