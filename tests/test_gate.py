"""The size gates of plans/gate.py.

Above BROADCAST_MAX_ROWS, LPA's label joins and the parallel Louvain
sweep's dimension joins switch from broadcast to shuffle_hash; the result
must not change. BROADCAST_MAX_ROWS = 0 forces every gated join onto the
shuffle side.

At or below ONE_BLOCK_MAX_EDGES, PageRank, LPA and CC run as one kernel
task that makes one runner advance; ONE_BLOCK_MAX_EDGES = 0 turns it off.
Louvain's dendrogram tail makes one advance the same way, in exact mode
and in auto mode at or below auto_exact_max vertices, and so do its
parallel levels at or below LOUVAIN_ONE_TASK_MAX_EDGES edges.
"""

import pytest

from louvain_spark.operators.cc import connected_components
from louvain_spark.operators.louvain import louvain
from louvain_spark.operators.lpa import label_propagation
from louvain_spark.operators.pagerank import pagerank
from louvain_spark.plans import gate, loop
from louvain_spark.plans.loop import SuperstepRunner
from tests import graphs
from tests.conftest import edges_df, use_gate_side, vertices_df


def _graph(spark, edges, n):
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    return e, verts


def test_lpa_above_gate_matches_default(spark, monkeypatch):
    use_gate_side(monkeypatch, "distributed")  # the label joins run there
    edges, n = graphs.g_random(60, 0.08, seed=5, weighted=True)
    e, verts = _graph(spark, edges, n)

    def run():
        labels = label_propagation(spark, e, vertices=verts, max_iter=10)
        return {r["id"]: r["community"] for r in labels.collect()}

    want = run()
    monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    assert run() == want


def test_louvain_parallel_above_gate_matches_default(spark, monkeypatch):
    use_gate_side(monkeypatch, "distributed")  # the sweep's joins run there
    edges, n = graphs.g_ring_of_cliques(k=8, c=5)
    e, verts = _graph(spark, edges, n)

    def run():
        assign, mod = louvain(
            spark, e, vertices=verts, mode="auto",
            parallel_opts={"auto_exact_max": 0, "n_blocks": 4},
        )
        return {r["id"]: r["community"] for r in assign.collect()}, mod

    want, want_mod = run()
    monkeypatch.setattr(gate, "BROADCAST_MAX_ROWS", 0)
    got, got_mod = run()
    assert got == want
    assert got_mod == pytest.approx(want_mod, abs=1e-12)


def test_fits_one_block(spark, monkeypatch):
    three, empty = spark.range(3), spark.range(0)
    assert gate.fits_one_block(three) and gate.fits_one_block(empty)
    monkeypatch.setattr(gate, "ONE_BLOCK_MAX_EDGES", 3)
    assert gate.fits_one_block(three)
    monkeypatch.setattr(gate, "ONE_BLOCK_MAX_EDGES", 2)
    assert not gate.fits_one_block(three)
    monkeypatch.setattr(gate, "ONE_BLOCK_MAX_EDGES", 0)
    assert not gate.fits_one_block(empty)


_RUNS = {
    "pagerank": lambda s, e, v, r: pagerank(s, e, vertices=v, max_iter=7, tol=0.0, runner=r),
    "lpa": lambda s, e, v, r: label_propagation(s, e, vertices=v, max_iter=7, runner=r),
    "cc": lambda s, e, v, r: connected_components(s, e, vertices=v, runner=r),
}


@pytest.mark.parametrize("operator", list(_RUNS))
def test_one_block_run_is_one_advance(spark, monkeypatch, tmp_path, operator):
    """Below the gate a run makes one runner advance that counts its
    iterations, writes one checkpoint, and skips the stats-reset roundtrip
    (its plan has no chain of joins), even with a reset due every step."""
    monkeypatch.setattr(loop, "STATS_RESET_EVERY", 1)
    edges, n = graphs.g_ring_of_cliques(k=4, c=4)
    e, verts = _graph(spark, edges, n)
    d = str(tmp_path / "ck")
    run = _RUNS[operator]
    runner = SuperstepRunner(spark, "one", operator, checkpoint_dir=d)
    run(spark, e, verts, runner)
    ledger = spark.read.parquet(runner.ledger_path).select("superstep").distinct().collect()
    assert [r["superstep"] for r in ledger] == [runner.superstep]
    # iterations plus the initial state's superstep 0, as on the
    # distributed side (PageRank at tol=0 runs all 7)
    assert runner.superstep >= 1
    assert operator != "pagerank" or runner.superstep == 7

    local = SuperstepRunner(spark, "one", operator)
    run(spark, e, verts, local)
    assert local.superstep == runner.superstep
    assert local._resets == 0 and local._tmp_dir is None


@pytest.mark.parametrize("mode", ["exact", "auto"])
def test_louvain_tail_is_one_advance(spark, tmp_path, mode):
    """Below auto's threshold, and always in exact mode, every dendrogram
    level runs in one kernel task that makes one runner advance counting
    the levels it kept."""
    edges, n = graphs.g_ring_of_cliques(k=8, c=5)
    e, verts = _graph(spark, edges, n)
    runner = SuperstepRunner(
        spark, "tail", f"louvain-{mode}", checkpoint_dir=str(tmp_path / "ck")
    )
    louvain(spark, e, vertices=verts, mode=mode, runner=runner)
    ledger = spark.read.parquet(runner.ledger_path).select("superstep").distinct().collect()
    assert [r["superstep"] for r in ledger] == [runner.superstep]


@pytest.mark.parametrize("side", ["one_block", "distributed"])
def test_louvain_parallel_levels_below_gate_are_one_advance(spark, monkeypatch, tmp_path, side):
    """At or below LOUVAIN_ONE_TASK_MAX_EDGES the parallel levels run in
    the one task too: one advance, no per-sweep state on disk. With the
    gate at 0 each level is a distributed superstep with sweep states."""
    use_gate_side(monkeypatch, side)
    edges, n = graphs.g_ring_of_cliques(k=8, c=5)
    e, verts = _graph(spark, edges, n)
    d = tmp_path / "ck"
    runner = SuperstepRunner(spark, "par", "louvain-auto", checkpoint_dir=str(d))
    louvain(
        spark, e, vertices=verts, mode="auto", runner=runner,
        parallel_opts={"auto_exact_max": 0, "n_blocks": 4},
    )
    ledger = spark.read.parquet(runner.ledger_path).select("superstep").distinct().collect()
    sweeps = list(d.glob("assign-l*-s*"))
    if side == "one_block":
        assert [r["superstep"] for r in ledger] == [runner.superstep] and not sweeps
    else:
        assert sweeps and len(ledger) == runner.superstep + 1

