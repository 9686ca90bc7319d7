"""The dimension-join gate (plans/gate.py) above its threshold.

LPA's label joins and the parallel Louvain sweep's dimension joins switch
from broadcast to shuffle_hash there; the result must not change.
BROADCAST_MAX_ROWS = 0 forces every gated join onto the shuffle side.
"""

import pytest

from louvain_spark.operators.louvain import louvain
from louvain_spark.operators.lpa import label_propagation
from louvain_spark.plans import gate
from tests import graphs
from tests.conftest import edges_df


def _graph(spark, edges, n):
    e = edges_df(spark, edges)
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    return e, verts


def test_lpa_above_gate_matches_default(spark, monkeypatch):
    edges, n = graphs.g_random(60, 0.08, seed=5, weighted=True)
    e, verts = _graph(spark, edges, n)

    def run():
        labels = label_propagation(spark, e, vertices=verts, max_iter=10)
        return {r["id"]: r["community"] for r in labels.collect()}

    want = run()
    monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    assert run() == want


def test_louvain_parallel_above_gate_matches_default(spark, monkeypatch):
    edges, n = graphs.g_ring_of_cliques(k=8, c=5)
    e, verts = _graph(spark, edges, n)

    def run():
        assign, mod = louvain(
            spark, e, vertices=verts, mode="parallel",
            parallel_opts={"n_blocks": 4, "block_target": 1},
        )
        return {r["id"]: r["community"] for r in assign.collect()}, mod

    want, want_mod = run()
    monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    got, got_mod = run()
    assert got == want
    assert got_mod == pytest.approx(want_mod, abs=1e-12)
