"""Connected components: exact match vs networkx on goldens + random graphs;
weight-permutation invariance; checkpoint/resume equality (SURVEY §5.2)."""

import networkx as nx
import pytest
from pyspark.sql import functions as F

from louvain_spark.operators.cc import connected_components
from louvain_spark.plans.loop import SuperstepRunner
from tests import graphs
from tests.conftest import edges_df, on_both_sides, use_gate_side, vertices_df


def _nx_components(edges, n):
    g = graphs.to_nx(edges, n)
    out = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for v in comp:
            out[v] = root
    return out


def _run(spark, edges, n, **kw):
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    got = connected_components(spark, e, vertices=verts, **kw)
    return {r["id"]: r["component"] for r in got.collect()}


@pytest.mark.parametrize(
    "fixture,gate_side",
    on_both_sides(["g_two_triangles", "g_two_cliques", "g_disconnected", "g_star_hub"]),
    indirect=["gate_side"],
)
def test_cc_goldens(spark, fixture, gate_side):
    edges, n = getattr(graphs, fixture)()
    assert _run(spark, edges, n) == _nx_components(edges, n)


def test_cc_empty_edges(spark):
    edges, n = graphs.g_empty_edges()
    got = _run(spark, edges, n)
    assert got == {i: i for i in range(n)}


@pytest.mark.parametrize(
    "seed,gate_side", on_both_sides([1, 2, 3, 4, 5]), indirect=["gate_side"]
)
def test_cc_random(spark, seed, gate_side):
    # sparse → many components, several CC rounds needed
    edges, n = graphs.g_random(80, 0.02, seed)
    assert _run(spark, edges, n) == _nx_components(edges, n)


def test_cc_weight_permutation_invariant(spark):
    edges, n = graphs.g_random(60, 0.05, seed=9, weighted=True)
    base = _run(spark, edges, n)
    permuted = [(u, v, w * 7.5 + 1) for u, v, w in edges]
    assert _run(spark, permuted, n) == base


@pytest.mark.parametrize("gate_side", ["distributed"], indirect=True)
def test_cc_weight_permutation_invariant_distributed(spark, gate_side):
    test_cc_weight_permutation_invariant(spark)


def test_cc_resume_equals_uninterrupted(spark, tmp_path):
    edges, n = graphs.g_random(100, 0.015, seed=3)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)

    full_dir = str(tmp_path / "full")
    runner = SuperstepRunner(spark, "run-a", "cc", checkpoint_dir=full_dir)
    full = connected_components(spark, e, vertices=verts, runner=runner)
    want = {r["id"]: r["component"] for r in full.collect()}

    # interrupted run: stop after 2 supersteps, then resume from ledger
    part_dir = str(tmp_path / "part")
    r1 = SuperstepRunner(spark, "run-b", "cc", checkpoint_dir=part_dir)
    connected_components(spark, e, vertices=verts, runner=r1, max_iter=1)

    r2, state, step = SuperstepRunner.resume(spark, "run-b", "cc", part_dir)
    assert step >= 0 and state is not None
    resumed = connected_components(
        spark, e, vertices=verts, runner=r2, start_state=state
    )
    got = {r["id"]: r["component"] for r in resumed.collect()}
    assert got == want

    # ledger has per-partition lineage rows
    ledger = spark.read.parquet(r2.ledger_path)
    assert ledger.where(F.col("run_id") == "run-b").count() > 0
    assert set(ledger.columns) >= {
        "run_id", "operator", "superstep", "partition_id", "rows_out", "wall_ms",
    }


@pytest.mark.parametrize(
    "first,second",
    [("one_block", "distributed"), ("distributed", "one_block"),
     ("distributed", "distributed")],
)
def test_cc_resume_across_paths(spark, tmp_path, monkeypatch, first, second):
    """A checkpoint written on either side of the one-block gate (the
    distributed side after one round) resumes on either side to the
    uninterrupted components."""
    edges, n = graphs.g_random(100, 0.015, seed=3)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    full = connected_components(spark, e, vertices=verts)
    want = {r["id"]: r["component"] for r in full.collect()}

    d = str(tmp_path / "ck")
    use_gate_side(monkeypatch, first)
    r1 = SuperstepRunner(spark, "cc-x", "cc", checkpoint_dir=d)
    connected_components(spark, e, vertices=verts, runner=r1, max_iter=1)
    use_gate_side(monkeypatch, second)
    r2, state, step = SuperstepRunner.resume(spark, "cc-x", "cc", d)
    assert step >= 0 and state is not None
    resumed = connected_components(
        spark, e, vertices=verts, runner=r2, start_state=state
    )
    got = {r["id"]: r["component"] for r in resumed.collect()}
    assert got == want


def test_ledger_partition_rows_match_checkpoint(spark, tmp_path):
    """Footer-derived ledger rows must reconcile exactly with the
    checkpointed state: per-partition rows_out sums to the parquet row
    count for every durable superstep."""
    from louvain_spark.plans.loop import SuperstepRunner
    from tests.conftest import edges_df

    e = edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0), (3, 4, 1.0)])
    verts = vertices_df(spark, 5)
    d = str(tmp_path / "ck")
    runner = SuperstepRunner(spark, "run-l", "cc", checkpoint_dir=d)
    connected_components(spark, e, vertices=verts, runner=runner)
    ledger = spark.read.parquet(runner.ledger_path)
    rows = (
        ledger.where(F.col("checkpoint_path").isNotNull())
        .groupBy("superstep", "checkpoint_path")
        .agg(F.sum("rows_out").alias("total"), F.min("partition_id").alias("min_pid"))
        .collect()
    )
    assert rows
    for r in rows:
        assert r["min_pid"] >= 0
        assert r["total"] == spark.read.parquet(r["checkpoint_path"]).count()
