"""PageRank, LPA and CC on adversarial graphs, on both sides of the
one-block gate (plans/gate.ONE_BLOCK_MAX_EDGES); Louvain in each mode, on
both sides of the broadcast gate (plans/gate.BROADCAST_MAX_ROWS) and, for
its parallel levels, of plans/gate.LOUVAIN_ONE_TASK_MAX_EDGES.

Triangles, modularity and cluster_summary run on the same graphs.

Edges are passed as written, not canonicalized, so duplicate pairs keep
both orientations. Oracles: test_pagerank.np_pagerank, the synchronous
LPA dict oracle, networkx.connected_components and networkx.triangles,
tests/oracle/louvain_ref (partitions and their modularity) and a pandas
groupby for cluster_summary.
"""

from functools import lru_cache

import networkx as nx
import numpy as np
import pandas as pd
import pytest

from louvain_spark.operators.cc import connected_components
from louvain_spark.operators.clusters import cluster_summary
from louvain_spark.operators.louvain import louvain
from louvain_spark.operators.lpa import label_propagation
from louvain_spark.operators.pagerank import pagerank
from louvain_spark.operators.quality import modularity
from louvain_spark.operators.triangles import triangle_count, triangles_per_vertex
from louvain_spark.plans import gate
from tests import graphs
from tests.conftest import local_df, on_both_sides, vertices_df
from tests.oracle import louvain_ref
from tests.test_cc import _nx_components
from tests.test_louvain import canon
from tests.test_lpa_triangles import sync_lpa
from tests.test_pagerank import np_pagerank

GRAPHS = [
    "g_empty",
    "g_single_vertex",
    "g_self_loops_only",
    "g_duplicate_both_orientations",
    "g_zero_weight",
    "g_zero_out_strength",
    "g_hub_10k",
]
PR_ITERS = 5
LPA_ITERS = 10  # the hub 2-cycles under synchronous LPA


def _graph(spark, fixture):
    edges, n = getattr(graphs, fixture)()
    e = local_df(
        spark,
        [(int(u), int(v), float(w)) for u, v, w in edges],
        "src long, dst long, weight double",
    )
    verts = vertices_df(spark, n)
    return edges, n, e, verts


@pytest.mark.parametrize("fixture,gate_side", on_both_sides(GRAPHS), indirect=["gate_side"])
def test_pagerank_adversarial(spark, fixture, gate_side):
    edges, n, e, verts = _graph(spark, fixture)
    rows = pagerank(spark, e, vertices=verts, max_iter=PR_ITERS, tol=0.0).collect()
    assert sorted(r["id"] for r in rows) == list(range(n))
    if n:
        got = np.zeros(n)
        for r in rows:
            got[r["id"]] = r["score"]
        assert np.allclose(got, np_pagerank(edges, n, max_iter=PR_ITERS), rtol=0.0, atol=1e-9)
        assert abs(got.sum() - 1.0) < 1e-9


@pytest.mark.parametrize("fixture,gate_side", on_both_sides(GRAPHS), indirect=["gate_side"])
def test_lpa_adversarial(spark, fixture, gate_side):
    edges, n, e, verts = _graph(spark, fixture)
    got = label_propagation(spark, e, vertices=verts, max_iter=LPA_ITERS).collect()
    assert {r["id"]: r["community"] for r in got} == sync_lpa(edges, n, LPA_ITERS)


@pytest.mark.parametrize("fixture,gate_side", on_both_sides(GRAPHS), indirect=["gate_side"])
def test_cc_adversarial(spark, fixture, gate_side):
    edges, n, e, verts = _graph(spark, fixture)
    got = connected_components(spark, e, vertices=verts).collect()
    assert {r["id"]: r["component"] for r in got} == _nx_components(edges, n)


# auto_exact_max=0 keeps auto on its parallel levels to the end: in the
# blocks sweep_plan sizes to the graph ("auto": one block below 128
# vertices) or in four ("parallel": cross-block moves on every graph)
LOUVAIN_MODES = {
    "exact": {"mode": "exact"},
    "parallel": {"mode": "auto", "parallel_opts": {"auto_exact_max": 0, "n_blocks": 4}},
    "auto": {"mode": "auto", "parallel_opts": {"auto_exact_max": 0}},
}
# the parallel levels run in one task under the default gates, and as
# distributed sweeps on the "-distributed" side
LOUVAIN_SIDES = [pytest.param(m, "one_block", id=m) for m in LOUVAIN_MODES] + [
    pytest.param(m, "distributed", id=f"{m}-distributed") for m in ("parallel", "auto")
]


@lru_cache(maxsize=None)
def _louvain_oracle(fixture):
    edges, n = getattr(graphs, fixture)()
    return canon(louvain_ref.best_partition(range(n), edges))


@pytest.mark.parametrize("join", ["broadcast", "shuffle"])
@pytest.mark.parametrize("mode,gate_side", LOUVAIN_SIDES, indirect=["gate_side"])
@pytest.mark.parametrize("fixture", GRAPHS)
def test_louvain_adversarial(spark, monkeypatch, fixture, mode, gate_side, join):
    if join == "shuffle":
        monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    edges, n, e, verts = _graph(spark, fixture)
    assign, mod = louvain(spark, e, vertices=verts, **LOUVAIN_MODES[mode])
    got = {r["id"]: r["community"] for r in assign.collect()}
    assert sorted(got) == list(range(n))
    assert set(got.values()) == set(range(len(set(got.values()))))
    if mode == "exact":
        assert canon(got) == _louvain_oracle(fixture)
    assert abs(mod - louvain_ref.partition_modularity(range(n), edges, got)) < 1e-9


@pytest.mark.parametrize("fixture", GRAPHS)
def test_triangles_adversarial(spark, fixture):
    edges, n, e, verts = _graph(spark, fixture)
    want = nx.triangles(graphs.to_nx(edges, n))
    assert triangle_count(e) == sum(want.values()) // 3
    got = triangles_per_vertex(e, verts).collect()
    assert {r["id"]: r["triangles"] for r in got} == want


def _partitions(fixture, n):
    """The oracle's Louvain partition and a striped one."""
    return [_louvain_oracle(fixture), {v: v % 3 for v in range(n)}]


def _assign_df(spark, part):
    return local_df(spark, sorted(part.items()), "id long, community long")


@pytest.mark.parametrize("fixture", GRAPHS)
def test_modularity_adversarial(spark, fixture):
    edges, n, e, _ = _graph(spark, fixture)
    for part in _partitions(fixture, n):
        got = modularity(e, _assign_df(spark, part))
        assert abs(got - louvain_ref.partition_modularity(range(n), edges, part)) < 1e-12


@pytest.mark.parametrize("fixture", GRAPHS)
def test_cluster_summary_adversarial(spark, fixture):
    n = getattr(graphs, fixture)()[1]
    names = {v: f"v{(7 * v) % max(n, 1):05d}" for v in range(n)}  # not in id order
    named = local_df(spark, sorted(names.items()), "id long, name string")
    for part in _partitions(fixture, n):
        got = cluster_summary(_assign_df(spark, part), named).collect()
        pdf = pd.DataFrame({"community": list(part.values()), "name": [names[v] for v in part]})
        want = {
            (c, len(g), g.min(), "|".join(sorted(g)))
            for c, g in pdf.groupby("community")["name"]
            if len(g) >= 2
        }
        assert {tuple(r) for r in got} == want
