"""Louvain parity: engine exact mode vs sequential oracle — exact partition
match up to label permutation + modularity allclose 1e-6 (north_rule).
Parallel levels (auto with auto_exact_max=0) validated on well-separated
graphs + modularity quality.
"""

import networkx as nx
import pytest

from louvain_spark.operators.louvain import louvain
from tests import graphs
from tests.conftest import edges_df, use_gate_side, vertices_df
from tests.oracle import louvain_ref

# every level parallel
PARALLEL = {"mode": "auto", "parallel_opts": {"auto_exact_max": 0}}


def canon(partition):
    """Canonical relabel: each community → min member id (permutation-proof)."""
    reps = {}
    for node, c in partition.items():
        reps.setdefault(c, node)
        reps[c] = min(reps[c], node)
    return {node: reps[c] for node, c in partition.items()}


def _run(spark, edges, n, **kw):
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    assign, mod = louvain(spark, e, vertices=verts, **kw)
    return {r["id"]: r["community"] for r in assign.collect()}, mod


@pytest.mark.parametrize(
    "fixture,resolution",
    [
        ("g_two_triangles", 1.0),
        ("g_two_cliques", 1.0),
        ("g_ring_of_cliques", 1.0),
        ("g_ring_of_cliques", 3.0),
        ("g_disconnected", 1.0),
        ("g_star_hub", 1.0),
    ],
)
def test_exact_matches_oracle_goldens(spark, fixture, resolution):
    edges, n = getattr(graphs, fixture)()
    got, got_mod = _run(spark, edges, n, resolution=resolution, mode="exact")
    want = louvain_ref.best_partition(range(n), edges, resolution=resolution)
    want_mod = louvain_ref.partition_modularity(range(n), edges, want, resolution)
    assert canon(got) == canon(want)
    assert abs(got_mod - want_mod) < 1e-6


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_exact_matches_oracle_random_weighted(spark, seed):
    edges, n = graphs.g_random(60, 0.08, seed=seed, weighted=True)
    got, got_mod = _run(spark, edges, n, mode="exact")
    want = louvain_ref.best_partition(range(n), edges)
    want_mod = louvain_ref.partition_modularity(range(n), edges, want)
    assert canon(got) == canon(want)
    assert abs(got_mod - want_mod) < 1e-6


def test_weighted_vs_unweighted_pin(spark):
    """Pins the reference's weight-attr mismatch (SURVEY §2.8): on
    g_weighted_split the two modes give different partitions; weight_col=None
    must match the unweighted oracle, weight_col='weight' the weighted one."""
    edges, n = graphs.g_weighted_split()
    got_u, _ = _run(spark, edges, n, weight_col=None, mode="exact")
    got_w, _ = _run(spark, edges, n, weight_col="weight", mode="exact")
    want_u = louvain_ref.best_partition(range(n), edges, weighted=False)
    want_w = louvain_ref.best_partition(range(n), edges, weighted=True)
    assert canon(got_u) == canon(want_u)
    assert canon(got_w) == canon(want_w)
    assert canon(want_u) != canon(want_w), "fixture must separate the modes"


def test_empty_edges(spark):
    edges, n = graphs.g_empty_edges()
    got, mod = _run(spark, edges, n, mode="exact")
    assert got == {i: i for i in range(n)}
    assert mod == 0.0


def test_modularity_nondecreasing_vs_singletons(spark):
    """Louvain's final modularity ≥ singleton-partition modularity."""
    edges, n = graphs.g_random(50, 0.1, seed=4, weighted=True)
    _, mod = _run(spark, edges, n, mode="exact")
    singletons = {i: i for i in range(n)}
    base = louvain_ref.partition_modularity(range(n), edges, singletons)
    assert mod >= base


def test_oracle_sanity_vs_networkx(spark):
    """Cross-check the oracle itself against networkx louvain on the
    ring-of-cliques (unambiguous optimum: one community per clique)."""
    edges, n = graphs.g_ring_of_cliques(k=6, c=5)
    want = louvain_ref.best_partition(range(n), edges)
    cliques = {i: i // 5 for i in range(n)}
    assert canon(want) == canon(cliques)
    g = graphs.to_nx(edges, n)
    nx_comms = nx.community.louvain_communities(g, weight="weight", seed=1)
    nx_part = {v: i for i, c in enumerate(nx_comms) for v in c}
    assert canon(nx_part) == canon(want)


@pytest.mark.parametrize("fixture", ["g_two_cliques", "g_ring_of_cliques"])
def test_parallel_mode_well_separated(spark, fixture):
    edges, n = getattr(graphs, fixture)()
    got, got_mod = _run(spark, edges, n, **PARALLEL)
    want = louvain_ref.best_partition(range(n), edges)
    want_mod = louvain_ref.partition_modularity(range(n), edges, want)
    assert canon(got) == canon(want)
    assert abs(got_mod - want_mod) < 1e-6


def test_parallel_mode_quality_random(spark):
    """Parallel local moves are order-dependent; require modularity within
    2% of the sequential oracle's on a random graph."""
    edges, n = graphs.g_random(60, 0.08, seed=7, weighted=True)
    _, got_mod = _run(spark, edges, n, **PARALLEL)
    want = louvain_ref.best_partition(range(n), edges)
    want_mod = louvain_ref.partition_modularity(range(n), edges, want)
    assert got_mod >= want_mod - 0.02 * abs(want_mod)


def test_parallel_mode_multiblock(spark):
    """Force the genuinely-parallel path (4 blocks + alternation) on a
    ring of cliques: the optimum is unambiguous, so block-parallel moves
    must still land on one community per clique."""
    edges, n = graphs.g_ring_of_cliques(k=8, c=5)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    assign, got_mod = louvain(
        spark, e, vertices=verts, mode="auto",
        parallel_opts={"auto_exact_max": 0, "n_blocks": 4},
    )
    got = {r["id"]: r["community"] for r in assign.collect()}
    want = louvain_ref.best_partition(range(n), edges)
    want_mod = louvain_ref.partition_modularity(range(n), edges, want)
    assert canon(got) == canon(want)
    assert abs(got_mod - want_mod) < 1e-6


def test_adhoc_runner_removes_its_checkpoint_dir(spark, tmp_path):
    """Without a checkpoint_dir, louvain() keeps its per-level edges and
    sweep states in a private louvain-ckpt-* temp dir and removes it on
    return; the result still collects, with the same assignments as a
    run on a durable checkpoint_dir."""
    import glob
    import os
    import tempfile

    from louvain_spark.plans.loop import SuperstepRunner

    edges, n = graphs.g_ring_of_cliques(k=8, c=5)
    opts = {"auto_exact_max": 0, "n_blocks": 4}
    pattern = os.path.join(tempfile.gettempdir(), "louvain-ckpt-*")
    before = set(glob.glob(pattern))
    got, _ = _run(spark, edges, n, mode="auto", parallel_opts=opts)
    assert set(glob.glob(pattern)) <= before
    runner = SuperstepRunner(
        spark, "leak", "louvain-auto", checkpoint_dir=str(tmp_path / "ck")
    )
    want, _ = _run(spark, edges, n, mode="auto", parallel_opts=opts, runner=runner)
    assert got == want


def test_auto_mode_small_graph_equals_exact(spark):
    """Below the auto threshold every level runs the exact kernel → full
    oracle partition parity, same as mode='exact'."""
    edges, n = graphs.g_ring_of_cliques()
    got, got_mod = _run(spark, edges, n, mode="auto")
    want = louvain_ref.best_partition(range(n), edges)
    want_mod = louvain_ref.partition_modularity(range(n), edges, want)
    assert canon(got) == canon(want)
    assert abs(got_mod - want_mod) < 1e-6


def test_auto_mode_forced_parallel_matches_parallel_trajectory(spark, monkeypatch):
    """auto_exact_max=0 forces the parallel path at every level — the
    one-task trajectory (seeded sweeps) must be identical to the
    distributed sweeps'."""
    edges, n = graphs.g_random(60, 0.08, seed=7, weighted=True)
    got_a, mod_a = _run(spark, edges, n, **PARALLEL)
    use_gate_side(monkeypatch, "distributed")
    got_p, mod_p = _run(spark, edges, n, **PARALLEL)
    assert got_a == got_p
    assert abs(mod_a - mod_p) < 1e-12


def test_louvain_auto_deterministic_across_masters():
    """VERDICT r2 #8: the auto-mode driver query (parallel level 0 with
    pinned n_blocks, exact coarse tail) must produce the identical
    partition regardless of master/core count — block assignment is
    xxhash64-pinned, not layout-derived. Fresh subprocesses because
    get_spark caches the first session's master."""
    import json
    import os
    import subprocess
    import sys

    script = (
        "import sys, json; sys.path.insert(0, '/root/repo');\n"
        "import __spark_entry__ as e\n"
        "from louvain_spark import get_spark\n"
        "spark = get_spark('det-check')\n"
        "rows = e.q_louvain(spark, '/root/testdata/sf0.01').collect()\n"
        "print('RESULT=' + json.dumps(sorted((r['id'], r['community']) for r in rows)))\n"
    )
    results = []
    for master in ("local[2]", "local[8]"):
        env = {**os.environ, "SPARK_GRAFT_MASTER": master}
        p = subprocess.run(
            [sys.executable, "-c", script], env=env, capture_output=True, text=True,
            timeout=600,
        )
        lines = [l for l in p.stdout.splitlines() if l.startswith("RESULT=")]
        assert lines, p.stderr[-2000:]
        results.append(lines[0])
    assert results[0] == results[1]
