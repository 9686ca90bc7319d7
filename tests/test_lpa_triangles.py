"""LPA vs synchronous dict oracle (same tie-break); triangles vs networkx."""

import networkx as nx
import pytest

from louvain_spark.operators.lpa import label_propagation
from louvain_spark.operators.triangles import triangle_count, triangles_per_vertex
from tests import graphs
from tests.conftest import edges_df, on_both_sides, use_gate_side, vertices_df


def sync_lpa(edges, n, max_iter=20):
    """Oracle: synchronous weighted LPA, tie-break (max weight, min label)."""
    adj = {i: {} for i in range(n)}
    for u, v, w in edges:
        adj[u][v] = adj[u].get(v, 0.0) + w
        adj[v][u] = adj[v].get(u, 0.0) + w
    labels = {i: i for i in range(n)}
    for _ in range(max_iter):
        new = {}
        moved = 0
        for v in range(n):
            if not adj[v]:
                new[v] = labels[v]
                continue
            hist = {}
            for nbr, w in adj[v].items():
                lbl = labels[nbr]
                hist[lbl] = hist.get(lbl, 0.0) + w
            best = min(hist, key=lambda l: (-hist[l], l))
            new[v] = best
            if best != labels[v]:
                moved += 1
        labels = new
        if moved == 0:
            break
    return labels


def _partition_sets(d):
    out = {}
    for k, v in d.items():
        out.setdefault(v, set()).add(k)
    return sorted((min(s), frozenset(s)) for s in out.values())


@pytest.mark.parametrize(
    "fixture,gate_side",
    on_both_sides(["g_two_triangles", "g_two_cliques", "g_disconnected", "g_ring_of_cliques"]),
    indirect=["gate_side"],
)
def test_lpa_matches_sync_oracle(spark, fixture, gate_side):
    edges, n = getattr(graphs, fixture)()
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    got = {r["id"]: r["community"] for r in label_propagation(spark, e, vertices=verts).collect()}
    want = sync_lpa(edges, n)
    assert got == want


def test_lpa_weighted(spark):
    edges, n = graphs.g_weighted_split()
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    got = {r["id"]: r["community"] for r in label_propagation(spark, e, vertices=verts).collect()}
    assert got == sync_lpa(edges, n)


@pytest.mark.parametrize("gate_side", ["distributed"], indirect=True)
def test_lpa_weighted_distributed(spark, gate_side):
    test_lpa_weighted(spark)


@pytest.mark.parametrize(
    "fixture,expected",
    [("g_two_triangles", 2), ("g_empty_edges", 0)],
)
def test_triangle_count_goldens(spark, fixture, expected):
    edges, n = getattr(graphs, fixture)()
    assert triangle_count(edges_df(spark, edges)) == expected


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_triangles_random_vs_networkx(spark, seed):
    edges, n = graphs.g_random(40, 0.15, seed)
    g = graphs.to_nx(edges, n)
    want_per_v = nx.triangles(g)
    want_total = sum(want_per_v.values()) // 3
    e = edges_df(spark, edges)
    assert triangle_count(e) == want_total
    verts = vertices_df(spark, n)
    got = {r["id"]: r["triangles"] for r in triangles_per_vertex(e, verts).collect()}
    assert got == dict(want_per_v)


def test_triangles_ring_of_cliques(spark):
    edges, n = graphs.g_ring_of_cliques(k=4, c=4)
    g = graphs.to_nx(edges, n)
    e = edges_df(spark, edges)
    assert triangle_count(e) == sum(nx.triangles(g).values()) // 3


def test_lpa_resume_matches_uninterrupted(spark, tmp_path):
    """LPA resumes mid-iteration from the durable checkpoint with the
    identical final labeling (synchronous updates are deterministic)."""
    from louvain_spark.plans.loop import SuperstepRunner

    edges, n = graphs.g_ring_of_cliques(k=4, c=5)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)

    full = label_propagation(spark, e, vertices=verts, max_iter=8)
    want = {r["id"]: r["community"] for r in full.collect()}

    d = str(tmp_path / "ck")
    r1 = SuperstepRunner(spark, "lpa-run", "lpa", checkpoint_dir=d)
    label_propagation(spark, e, vertices=verts, max_iter=2, runner=r1)
    r2, state, step = SuperstepRunner.resume(spark, "lpa-run", "lpa", d)
    assert step >= 1 and state is not None
    resumed = label_propagation(
        spark, e, vertices=verts, max_iter=6, runner=r2, start_state=state
    )
    got = {r["id"]: r["community"] for r in resumed.collect()}
    assert got == want


@pytest.mark.parametrize(
    "first,second",
    [("one_block", "distributed"), ("distributed", "one_block"),
     ("distributed", "distributed")],
)
def test_lpa_resume_across_paths(spark, tmp_path, monkeypatch, first, second):
    """A checkpoint written on either side of the one-block gate resumes on
    either side to the uninterrupted labels."""
    from louvain_spark.plans.loop import SuperstepRunner

    edges, n = graphs.g_ring_of_cliques(k=4, c=5)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    full = label_propagation(spark, e, vertices=verts, max_iter=8)
    want = {r["id"]: r["community"] for r in full.collect()}

    d = str(tmp_path / "ck")
    use_gate_side(monkeypatch, first)
    r1 = SuperstepRunner(spark, "lpa-x", "lpa", checkpoint_dir=d)
    label_propagation(spark, e, vertices=verts, max_iter=2, runner=r1)
    use_gate_side(monkeypatch, second)
    r2, state, step = SuperstepRunner.resume(spark, "lpa-x", "lpa", d)
    assert step >= 1 and state is not None
    resumed = label_propagation(
        spark, e, vertices=verts, max_iter=6, runner=r2, start_state=state
    )
    assert {r["id"]: r["community"] for r in resumed.collect()} == want
