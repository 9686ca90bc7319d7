"""Modularity vs a pure-python oracle using python-louvain conventions."""

import pytest

from louvain_spark.operators.quality import modularity
from tests import graphs
from tests.conftest import cached_rdds, edges_df


def py_modularity(edges, partition, resolution=1.0, weighted=True):
    m = 0.0
    in_c = {}
    deg_c = {}
    for u, v, w in edges:
        w = w if weighted else 1.0
        m += w
        cu, cv = partition[u], partition[v]
        if cu == cv:
            in_c[cu] = in_c.get(cu, 0.0) + w
        deg_c[cu] = deg_c.get(cu, 0.0) + w
        deg_c[cv] = deg_c.get(cv, 0.0) + w
    if m == 0:
        return 0.0
    q = 0.0
    for c, d in deg_c.items():
        q += in_c.get(c, 0.0) * resolution / m - (d / (2.0 * m)) ** 2
    return q


def _assign_df(spark, partition):
    return spark.createDataFrame(
        [(int(k), int(v)) for k, v in partition.items()], "id long, community long"
    )


@pytest.mark.parametrize("resolution", [1.0, 3.0])
def test_modularity_two_cliques(spark, resolution):
    edges, n = graphs.g_two_cliques()
    part = {i: 0 if i < 5 else 1 for i in range(n)}
    got = modularity(edges_df(spark, edges), _assign_df(spark, part), resolution)
    want = py_modularity(edges, part, resolution)
    assert abs(got - want) < 1e-9


def test_modularity_weighted_and_selfloop(spark):
    edges = [(0, 1, 2.0), (1, 2, 1.0), (2, 2, 3.0), (3, 0, 1.0)]
    part = {0: 0, 1: 0, 2: 1, 3: 0}
    got = modularity(edges_df(spark, edges), _assign_df(spark, part))
    want = py_modularity(edges, part)
    assert abs(got - want) < 1e-9


def test_modularity_random_vs_networkx(spark):
    import networkx as nx

    edges, n = graphs.g_random(40, 0.1, seed=2, weighted=True)
    g = graphs.to_nx(edges, n)
    comms = list(nx.connected_components(g))
    part = {v: i for i, c in enumerate(comms) for v in c}
    got = modularity(edges_df(spark, edges), _assign_df(spark, part))
    want = nx.community.modularity(g, comms, weight="weight")
    assert abs(got - want) < 1e-9


def test_failed_modularity_leaves_nothing_cached(spark):
    """A resolution that is not a number fails the last aggregate (ANSI
    cast), after the first one has cached the tagged edges; they must
    not stay cached."""
    edges, n = graphs.g_two_cliques()
    before = cached_rdds(spark)
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        modularity(edges_df(spark, edges), _assign_df(spark, {i: i // 5 for i in range(n)}), "x")
    assert cached_rdds(spark) <= before
