"""Louvain mid-run resume + CLI entry points."""

import os

import pytest

from louvain_spark.cli import main as cli_main
from louvain_spark.operators.louvain import louvain, resume_louvain
from louvain_spark.plans.loop import SuperstepRunner
from tests import graphs
from tests.conftest import edges_df, local_df, vertices_df


def test_louvain_resume_equals_uninterrupted(spark, tmp_path):
    edges, n = graphs.g_ring_of_cliques(k=6, c=5)
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)

    full_dir = str(tmp_path / "full")
    r_full = SuperstepRunner(spark, "lv-full", "louvain-exact", checkpoint_dir=full_dir)
    full_assign, full_mod = louvain(spark, e, vertices=verts, runner=r_full)
    want = {r["id"]: r["community"] for r in full_assign.collect()}

    # interrupted: stop after level 0 (max_levels=1 → only level-0 advance)
    part_dir = str(tmp_path / "part")
    r_part = SuperstepRunner(spark, "lv-part", "louvain-exact", checkpoint_dir=part_dir)
    louvain(spark, e, vertices=verts, runner=r_part, max_levels=1)

    resumed_assign, resumed_mod = resume_louvain(spark, "lv-part", part_dir)
    got = {r["id"]: r["community"] for r in resumed_assign.collect()}
    assert got == want
    assert abs(resumed_mod - full_mod) < 1e-9

    # idempotent: resuming the completed run returns the same result
    again_assign, again_mod = resume_louvain(spark, "lv-part", part_dir)
    assert {r["id"]: r["community"] for r in again_assign.collect()} == want
    assert abs(again_mod - full_mod) < 1e-9


# (mode, parallel_opts) per test id; "parallel" is auto with every level
# parallel (auto_exact_max=0)
RESUME_MODES = {
    "exact": ("exact", None),
    "auto": ("auto", {"auto_exact_max": 20, "n_blocks": 2}),
    "parallel": ("auto", {"auto_exact_max": 0, "n_blocks": 2}),
}
# the parallel levels run in one task under the default gates, and as
# distributed sweeps on the "-distributed" side
RESUME_SIDES = [pytest.param(m, "one_block", id=m) for m in RESUME_MODES] + [
    pytest.param(m, "distributed", id=f"{m}-distributed") for m in ("auto", "parallel")
]
RESUME_GRAPHS = {
    "ring_of_cliques": graphs.g_ring_of_cliques,
    "random": lambda: graphs.g_random(200, 0.03, seed=5, weighted=True),
}
# uninterrupted results per (mode, graph), whichever gate side ran first:
# both sides must give the same partition
_uninterrupted: dict = {}


@pytest.mark.parametrize("stop", [1, 2])
@pytest.mark.parametrize("graph", list(RESUME_GRAPHS))
@pytest.mark.parametrize("mode,gate_side", RESUME_SIDES, indirect=["gate_side"])
def test_louvain_resume_from_each_level(spark, tmp_path, mode, gate_side, graph, stop):
    """A run cut at max_levels=stop and resumed equals the uninterrupted
    run, in every mode."""
    edges, n = RESUME_GRAPHS[graph]()
    e = edges_df(spark, edges)
    verts = vertices_df(spark, n)
    (lv_mode, opts), key = RESUME_MODES[mode], (mode, graph)
    if key not in _uninterrupted:
        assign, mod = louvain(spark, e, vertices=verts, mode=lv_mode, parallel_opts=opts)
        _uninterrupted[key] = {r["id"]: r["community"] for r in assign.collect()}, mod
    want, want_mod = _uninterrupted[key]

    d = str(tmp_path / "part")
    runner = SuperstepRunner(spark, "lv-part", f"louvain-{lv_mode}", checkpoint_dir=d)
    louvain(
        spark, e, vertices=verts, mode=lv_mode, parallel_opts=opts, runner=runner,
        max_levels=stop,
    )
    got_assign, got_mod = resume_louvain(
        spark, "lv-part", d, mode=lv_mode, parallel_opts=opts
    )
    assert {r["id"]: r["community"] for r in got_assign.collect()} == want
    assert abs(got_mod - want_mod) < 1e-9


def test_cli_induce_and_cc(spark, tmp_path):
    from louvain_spark.synth import transcripts_df

    t_in = str(tmp_path / "transcripts")
    transcripts_df(spark, preset="tiny").write.parquet(t_in)
    edges_out = str(tmp_path / "edges")
    rc = cli_main(["induce", "--input", t_in, "--output", edges_out, "--window", "4"])
    assert rc == 0
    assert spark.read.parquet(edges_out).count() > 0
    assert spark.read.parquet(edges_out + "_vertices").count() > 0

    cc_out = str(tmp_path / "cc")
    rc = cli_main([
        "cc", "--input", edges_out, "--output", cc_out,
        "--checkpoint-dir", str(tmp_path / "ck"), "--run-id", "cli-cc",
    ])
    assert rc == 0
    cc = spark.read.parquet(cc_out)
    assert set(cc.columns) == {"id", "component"}
    assert cc.count() > 0


def test_cli_louvain(spark, tmp_path):
    edges, n = graphs.g_two_cliques()
    e = edges_df(spark, edges)
    p = str(tmp_path / "e")
    e.write.parquet(p)
    out = str(tmp_path / "assign")
    rc = cli_main(["louvain", "--input", p, "--output", out, "--mode", "exact"])
    assert rc == 0
    got = {r["id"]: r["community"] for r in spark.read.parquet(out).collect()}
    assert len(set(got.values())) == 2


def test_cli_louvain_resume_missing_checkpoint_exit3(spark, tmp_path):
    """The louvain resume branch must honor the CLI's exit-3 'no
    checkpoint found' contract (not leak a ValueError traceback)."""
    import sys

    from louvain_spark.cli import main

    # minimal valid parquet input so the CLI reaches the resume dispatch
    inp = str(tmp_path / "edges")
    spark.createDataFrame(
        [(0, 1, 1.0)], "src long, dst long, weight double"
    ).write.mode("overwrite").parquet(inp)
    empty_ckpt = str(tmp_path / "no-such-run")
    rc = main([
        "resume", "--input", inp, "--output", str(tmp_path / "out"),
        "--operator", "louvain", "--run-id", "nope",
        "--checkpoint-dir", empty_ckpt,
    ])
    assert rc == 3
