#!/usr/bin/env python3
"""Link-graph benchmark: one workload, one seed, a closed loop with one client.

    python3 perfbench/run.py --workload communities --seed 1 --seconds 10 --trace 0

Run from the root of a repository checkout (``louvain_spark/`` beside
``perfbench/``). Set-up builds the Spark session and stages the workload's
inputs, generated by ``louvain_spark.synth``; ``--seed`` picks among a fixed
set of inputs that do the same work (README.md says why). The timed loop
then runs one operation after another until their summed wall time reaches
``--seconds`` (at least one operation). Each operation's outputs are checked
against numpy/networkx references outside the timed region; a raised error or
a failed check counts the operation as failed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs every public
call under its own Spark job group and reports the per-layer metrics instead
(spans are also written to ``.bench_work/spans/``). The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

Everything the run writes (staged inputs, checkpoints, Spark local dirs,
temp files) lives under ``.bench_work/`` in the checkout and is deleted at
exit, except the span files.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

from spans import GENERIC, Tracer, descendants, dir_mb, peak_rss_mb

ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = ROOT / ".bench_work"

# -- pinned run environment -----------------------------------------------------
MASTER = "local[4]"
CORES = 4
# shuffle partitions = default parallelism. Louvain derives its block count
# and its auto-mode exact threshold (64 x parallelism = 1024 vertices) from
# this value, so the communities graph runs parallel sweeps at level 0 and
# a daily_rank day slice takes the exact kernel.
PARTITIONS = 16
DRIVER_MEM = "2g"
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
JVM_OPTS = "-XX:-UsePerfData"
# a run must finish within 180 s; the watchdog aborts it before that
DEADLINE_S = 170

# -- workload sizes (see README.md for why) ---------------------------------------
COMMUNITIES_CONVS = 2000
# --seed picks one of these synth seeds. Both graphs take the same Louvain
# path (3 levels, 9 parallel sweeps at level 0); other seeds range from 9
# to 16 sweeps, which would swamp code-level differences in op_s.
COMMUNITIES_SYNTH_SEEDS = (2, 3)
SNAPSHOT_CONVS = 2000
DAY_CONVS = 500
DAYS = 2
DAILY_SYNTH_SEED = 20260101  # daily_rank inputs are fixed; --seed picks the day
WINDOW = 8
ITERS = 10

# communities: Louvain's modularity and assignment digest per synth seed
GOLDEN = {2: (0.083249, "a58f4c18c14b2d4b"), 3: (0.086227, "678ca57c65dd42ec")}

# layers with the generic per-call metrics; session and loop get their own
GENERIC_LAYERS = (
    "induce", "louvain", "clusters", "pagerank", "lpa", "cc", "triangles",
    "incremental", "io",
)


# -- metric catalogue -------------------------------------------------------------
GENERIC_UNITS = {
    "wall_s": ("s", "lower"), "jobs": ("count", "lower"), "stages": ("count", "lower"),
    "stages_skipped": ("count", "higher"), "task_s": ("s", "lower"),
    "busy_frac": ("frac", "higher"), "shuffle_write_mb": ("MB", "lower"),
    "shuffle_read_mb": ("MB", "lower"), "spill_mb": ("MB", "lower"),
}


def _generic(layer: str) -> list[tuple[str, str, str]]:
    return [(f"{layer}.{m}", *GENERIC_UNITS[m]) for m in GENERIC]


END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_s", "s", "lower"),
    ("edges_per_s", "edges/s", "higher"),
    ("ops_ok_frac", "frac", "higher"),
]

PER_LAYER = (
    [
        ("session.wall_s", "s", "lower"),
        ("session.jobs", "count", "lower"),
        ("session.stages", "count", "lower"),
        ("session.task_s", "s", "lower"),
    ]
    + [m for layer in GENERIC_LAYERS for m in _generic(layer)]
    + [
        ("induce.shuffle_records_per_edge", "ratio", "lower"),
        ("louvain.levels", "count", "lower"),
        ("louvain.sweeps", "count", "lower"),
        ("louvain.jobs_per_sweep", "count", "lower"),
        ("pagerank.steps", "count", "lower"),
        ("pagerank.jobs_per_step", "count", "lower"),
        ("lpa.steps", "count", "lower"),
        ("cc.rounds", "count", "lower"),
        ("loop.advance_s", "s", "lower"),
        ("loop.ckpt_mb", "MB", "lower"),
        ("loop.tmp_left_mb", "MB", "lower"),
        ("io.write_mb", "MB", "lower"),
        ("run.op_s", "s", "lower"),
        ("run.peak_rss_mb", "MB", "lower"),
        ("run.op_samples", "count", "higher"),
        ("run.unattributed_jobs", "count", "lower"),
        ("run.trace_overhead_s", "s", "lower"),
        ("run.trace_overhead_frac", "frac", "lower"),
    ]
)


# -- environment ------------------------------------------------------------------
def pin_environment(work: Path) -> None:
    """Pin threads, worker import path and every scratch location before
    pyspark or louvain_spark is imported (session.py reads its env at import)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    (work / "spark-local").mkdir(exist_ok=True)
    for v in THREAD_VARS:
        os.environ[v] = "1"
    # pandas UDFs import louvain_spark inside the Python workers
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")  # overrides spark.local.dir
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(tmp)
    # JVMs write /tmp/hsperfdata_<user> whatever java.io.tmpdir says
    opts = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{JVM_OPTS} {opts}".strip()
    os.environ.pop("SPARK_GRAFT_NO_WARM", None)  # setup_s includes the warm-up job
    import tempfile

    tempfile.tempdir = str(tmp)


def spark_conf(work: Path) -> dict[str, str]:
    return {
        "spark.sql.shuffle.partitions": str(PARTITIONS),
        "spark.default.parallelism": str(PARTITIONS),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} {JVM_OPTS}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


class Ctx:
    """What a workload needs: the session, tracer, seed and its directories."""

    def __init__(self, spark, tracer, seed: int, work: Path):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.tmp = work / "tmp"

    def stage(self, df, name: str):
        """Write an input table to parquet and read it back (the engine reads
        tables, not inline local relations)."""
        from louvain_spark.sources.io import read_table, write_table

        path = str(self.work / "input" / name)
        write_table(df.repartition(PARTITIONS), path)
        return read_table(self.spark, path)


# -- helpers ------------------------------------------------------------------------
def _pq(path):
    import pyarrow.parquet as pq

    return pq.read_table(str(path)).to_pandas()


def _ledger_stats(ckpt_root: Path) -> tuple[float, dict[str, int]]:
    """(summed advance wall seconds, supersteps per operator) over every
    runner ledger under ckpt_root. A ledger has one row per checkpoint
    partition, so rows are de-duplicated per (run, operator, superstep)."""
    import pyarrow.parquet as pq

    wall_ms, steps = 0, {}
    for led in ckpt_root.rglob("_ledger"):
        t = pq.read_table(str(led)).to_pandas()
        t = t.drop_duplicates(["run_id", "operator", "superstep"])
        wall_ms += int(t["wall_ms"].sum())
        for op, n in t.groupby("operator")["superstep"].nunique().items():
            steps[op] = steps.get(op, 0) + int(n)
    return wall_ms / 1000.0, steps


def _expected_entities(transcripts_dir: Path) -> int:
    t = _pq(transcripts_dir)
    return (
        t["conv_id"].nunique() + t["role"].nunique() + t["tool"].dropna().nunique()
    )


# -- workloads ------------------------------------------------------------------------
class Communities:
    """cooccurrence_edges(window=8) -> write graph -> louvain(auto, durable
    runner) -> cluster_summary -> write result."""

    def setup(self, ctx: Ctx) -> dict:
        from louvain_spark.synth import transcripts_df

        self.synth_seed = COMMUNITIES_SYNTH_SEEDS[ctx.seed % len(COMMUNITIES_SYNTH_SEEDS)]
        self.t = ctx.stage(
            transcripts_df(ctx.spark, n_conv=COMMUNITIES_CONVS, seed=self.synth_seed),
            "transcripts",
        )
        return {"convs": COMMUNITIES_CONVS, "synth_seed": self.synth_seed}

    def op(self, ctx: Ctx, i: int, d: Path) -> dict:
        from louvain_spark.operators.clusters import cluster_summary
        from louvain_spark.operators.induce import cooccurrence_edges
        from louvain_spark.operators.louvain import louvain
        from louvain_spark.plans.loop import SuperstepRunner
        from louvain_spark.sources.io import read_table, write_table

        sp, tr = ctx.spark, ctx.tracer
        with tr.span("induce", i):
            verts, edges = cooccurrence_edges(self.t, window=WINDOW)
            write_table(edges, str(d / "out" / "edges"))
            write_table(verts, str(d / "out" / "vertices"))
            edges = read_table(sp, str(d / "out" / "edges"))
            verts = read_table(sp, str(d / "out" / "vertices"))
        runner = SuperstepRunner(
            sp, f"communities-op{i}", "louvain-auto", checkpoint_dir=str(d / "ckpt" / "louvain")
        )
        with tr.span("louvain", i):
            assign, mod = louvain(sp, edges, vertices=verts.select("id"), mode="auto", runner=runner)
        with tr.span("clusters", i):
            write_table(cluster_summary(assign, verts), str(d / "out" / "clusters"))
        return {"assign": assign, "mod": mod}

    def collect(self, ctx: Ctx, out: dict, d: Path) -> dict:
        return {
            "assign": out["assign"].toPandas(),
            "mod": out["mod"],
            "edges": _pq(d / "out" / "edges"),
            "verts": _pq(d / "out" / "vertices"),
            "clusters": _pq(d / "out" / "clusters"),
        }

    def check(self, ctx: Ctx, got: dict) -> list[str]:
        import oracles

        bad = []
        e, v, a = got["edges"], got["verts"], got["assign"]
        if len(v) != _expected_entities(ctx.work / "input" / "transcripts"):
            bad.append(f"induce: {len(v)} vertices, expected one per distinct entity")
        if not ((e["src"] < e["dst"]).all() and (e["weight"] >= 1).all()):
            bad.append("induce: edges not canonical (src < dst, weight >= 1)")
        bad += oracles.check_modularity(oracles.graph(e, v["id"]), a, got["mod"])
        bad += oracles.check_clusters(got["clusters"], a, v[["id", "name"]])
        fp = oracles.fingerprint(a)
        print(f"communities: modularity {got['mod']:.6f} digest {fp}", file=sys.stderr)
        # every operation must reproduce the pinned assignment, so the
        # assignment is also identical across operations
        if (round(got["mod"], 6), fp) != GOLDEN[self.synth_seed]:
            bad.append(
                f"louvain: modularity {got['mod']:.6f} / digest {fp} != golden "
                f"{GOLDEN[self.synth_seed]} for synth seed {self.synth_seed}"
            )
        return bad

    def edges(self, got: dict) -> int:
        return len(got["edges"])


def rank_graph(ctx: Ctx, i: int, d: Path, graph, ids) -> dict:
    """pagerank(10 steps, tol=0, 2 per action, durable runner every 4) ->
    label_propagation(10, 2 per action) -> connected_components (durable
    runner) -> triangle_count on one resident graph."""
    from louvain_spark.operators.cc import connected_components
    from louvain_spark.operators.lpa import label_propagation
    from louvain_spark.operators.pagerank import pagerank
    from louvain_spark.operators.triangles import triangle_count
    from louvain_spark.plans.loop import SuperstepRunner

    sp, tr = ctx.spark, ctx.tracer
    pr_runner = SuperstepRunner(
        sp, f"rank-op{i}", "pagerank",
        checkpoint_dir=str(d / "ckpt" / "pagerank"), checkpoint_every=4,
    )
    lpa_runner = SuperstepRunner(sp, f"rank-op{i}", "lpa")
    cc_runner = SuperstepRunner(sp, f"rank-op{i}", "cc", checkpoint_dir=str(d / "ckpt" / "cc"))
    with tr.span("pagerank", i):
        pr = pagerank(
            sp, graph, vertices=ids, max_iter=ITERS, tol=0.0,
            steps_per_action=2, runner=pr_runner,
        )
    with tr.span("lpa", i):
        lp = label_propagation(
            sp, graph, vertices=ids, max_iter=ITERS, steps_per_action=2, runner=lpa_runner
        )
    with tr.span("cc", i):
        # the final star labelling is lazy: materialize it inside the call
        cc = connected_components(sp, graph, vertices=ids, runner=cc_runner)
        cc = cc.localCheckpoint(eager=True)
    with tr.span("triangles", i):
        tri = triangle_count(graph)
    return {
        "pr": pr, "lpa": lp, "cc": cc, "tri": tri,
        "steps": {"pagerank": pr_runner.superstep, "lpa": lpa_runner.superstep,
                  "cc": cc_runner.superstep},
    }


def rank_reference(edges, ids) -> dict:
    import oracles

    g = oracles.graph(edges, ids)
    return {
        "pr": oracles.pagerank_power(edges, ids, ITERS),
        "lpa": oracles.label_propagation_ref(edges, ids, ITERS),
        "cc": oracles.components_ref(g),
        "tri": oracles.triangles_ref(g),
    }


def check_ranks(got: dict, ref: dict) -> list[str]:
    import numpy as np

    import oracles

    bad = []
    pr = got["pr"].sort_values("id")
    if not (
        len(pr) == len(ref["pr"])
        and (pr["id"].to_numpy() == ref["pr"]["id"].to_numpy()).all()
        and np.allclose(pr["score"].to_numpy(), ref["pr"]["score"].to_numpy(),
                        rtol=1e-6, atol=1e-12)
    ):
        bad.append("pagerank: scores differ from numpy power iteration")
    bad += oracles.same_map(got["lpa"], "id", "community", ref["lpa"], "lpa")
    bad += oracles.same_map(got["cc"], "id", "component", ref["cc"], "cc")
    if got["tri"] != ref["tri"]:
        bad.append(f"triangles: {got['tri']} != networkx {ref['tri']}")
    return bad


class DailyRank:
    """Per operation: one day slice -> induce with the shared entity
    dictionary -> louvain(auto; exact kernel at this size) ->
    migrate_subgraph into the fixed snapshot -> overwrite the merged parquet
    -> rank the merged graph read back from it (rank_graph)."""

    def setup(self, ctx: Ctx) -> dict:
        from pyspark.sql import functions as F

        from louvain_spark.operators.induce import cooccurrence_edges, entity_vertices, membership
        from louvain_spark.operators.louvain import louvain
        from louvain_spark.sources.io import read_table, write_table
        from louvain_spark.synth import transcripts_df

        sp, w = ctx.spark, ctx.work / "input"
        # snapshot and day slices: disjoint conversation ranges, own seeds
        snap_t = ctx.stage(
            transcripts_df(sp, n_conv=SNAPSHOT_CONVS, seed=DAILY_SYNTH_SEED), "snapshot"
        )
        allt = snap_t
        for k in range(DAYS):
            day = ctx.stage(
                transcripts_df(sp, n_conv=DAY_CONVS, seed=DAILY_SYNTH_SEED + 1 + k,
                               conv_offset=SNAPSHOT_CONVS + k * DAY_CONVS),
                f"day{k}",
            )
            allt = allt.unionByName(day)
        # the shared dictionary spans snapshot and days, so ids agree
        write_table(entity_vertices(membership(allt)), str(w / "dictionary"))
        self.dict = read_table(sp, str(w / "dictionary"))
        _, snap_e = cooccurrence_edges(snap_t, vertices=self.dict, window=WINDOW)
        write_table(snap_e, str(w / "snapshot_edges"))
        self.snap_e = read_table(sp, str(w / "snapshot_edges"))
        snap_a, _ = louvain(sp, self.snap_e, mode="exact")
        write_table(snap_a, str(w / "snapshot_assign"))
        self.snap_a = read_table(sp, str(w / "snapshot_assign"))
        self.attrs = self.dict.select("id", F.col("name").alias("text"))
        self.snap = None
        self.refs: dict[int, dict] = {}
        return {"convs": SNAPSHOT_CONVS, "day_convs": DAY_CONVS}

    def op(self, ctx: Ctx, i: int, d: Path) -> dict:
        from louvain_spark.operators.induce import cooccurrence_edges
        from louvain_spark.operators.louvain import louvain
        from louvain_spark.plans.loop import SuperstepRunner
        from louvain_spark.sources.io import overwrite_assignments, read_table, write_table
        from louvain_spark.streaming.incremental import migrate_subgraph

        sp, tr = ctx.spark, ctx.tracer
        day = (ctx.seed + i) % DAYS
        merged_dir = ctx.work / "merged"
        with tr.span("induce", i):
            day_t = read_table(sp, str(ctx.work / "input" / f"day{day}"))
            _, de = cooccurrence_edges(day_t, vertices=self.dict, window=WINDOW)
            write_table(de, str(d / "out" / "day_edges"))
            de = read_table(sp, str(d / "out" / "day_edges"))
        runner = SuperstepRunner(
            sp, f"daily-op{i}", "louvain-auto", checkpoint_dir=str(d / "ckpt" / "louvain")
        )
        with tr.span("louvain", i):
            da, mod = louvain(sp, de, mode="auto", runner=runner)
        with tr.span("incremental", i):
            merged, merged_e = migrate_subgraph(
                sp, da, self.attrs, de, self.snap_a, self.attrs, self.snap_e
            )
        with tr.span("io", i):
            overwrite_assignments(merged, str(merged_dir / "assignments"))
            write_table(merged_e, str(merged_dir / "edges"))
            graph = read_table(sp, str(merged_dir / "edges"))
            ids = read_table(sp, str(merged_dir / "assignments")).select("id")
        out = rank_graph(ctx, i, d, graph, ids)
        out.update(assign=da, mod=mod, day=day)
        return out

    def collect(self, ctx: Ctx, out: dict, d: Path) -> dict:
        m = ctx.work / "merged"
        return {
            "assign": out["assign"].toPandas(),
            "mod": out["mod"],
            "day": out["day"],
            "day_edges": _pq(d / "out" / "day_edges"),
            "merged_assign": _pq(m / "assignments"),
            "merged_edges": _pq(m / "edges"),
            "pr": out["pr"].toPandas(),
            "lpa": out["lpa"].toPandas(),
            "cc": out["cc"].toPandas(),
            "tri": out["tri"],
        }

    def check(self, ctx: Ctx, got: dict) -> list[str]:
        import oracles

        if self.snap is None:
            self.snap = {
                "assign": _pq(ctx.work / "input" / "snapshot_assign"),
                "edges": _pq(ctx.work / "input" / "snapshot_edges"),
            }
        sa, se = self.snap["assign"], self.snap["edges"]
        de, ma, me = got["day_edges"], got["merged_assign"], got["merged_edges"]
        bad = oracles.check_modularity(oracles.graph(de), got["assign"], got["mod"])
        if ma["id"].duplicated().any():
            bad.append("incremental: merged assignment lists a vertex twice")
        kept = sa.merge(ma, on="id", how="left", suffixes=("", "_m"))
        if not (kept["community"] == kept["community_m"]).all():
            bad.append("incremental: a snapshot vertex changed community")
        day_ids = set(de["src"]) | set(de["dst"])
        if not day_ids <= set(ma["id"]):
            bad.append("incremental: a day vertex has no merged community")
        key = ["src", "dst"]
        new = de.merge(se[key], on=key, how="left", indicator=True)
        new = new[new["_merge"] == "left_only"][key + ["weight"]]
        exp = sorted(
            map(tuple, se[key + ["weight"]].to_numpy().tolist() + new.to_numpy().tolist())
        )
        if sorted(map(tuple, me[key + ["weight"]].to_numpy().tolist())) != exp:
            bad.append("io: merged edges != snapshot edges + the day's new edges")
        if got["day"] not in self.refs:
            self.refs[got["day"]] = rank_reference(me, ma["id"].to_numpy())
        return bad + check_ranks(got, self.refs[got["day"]])

    def edges(self, got: dict) -> int:
        return len(got["merged_edges"])


WORKLOADS = {"communities": Communities, "daily_rank": DailyRank}


# -- the run ---------------------------------------------------------------------------
class Run:
    def __init__(self, args):
        self.work = WORK_ROOT / f"{args.workload}-s{args.seed}-{os.getpid()}"
        self.spark = None
        self.jvm = None

    def start_session(self):
        from louvain_spark import get_spark

        t0 = time.monotonic()
        self.spark = get_spark("perfbench", master=MASTER, extra_conf=spark_conf(self.work))
        wall = time.monotonic() - t0
        self.jvm = self.spark.sparkContext._gateway.proc
        return wall

    def stop(self):
        """Stop Spark, then the JVM and its Python workers, and wait for all."""
        if self.spark is None:
            return
        kids = descendants(self.jvm.pid)
        try:
            self.spark.stop()
            self.spark.sparkContext._gateway.shutdown()
        finally:
            self.spark = None
            if self.jvm.stdin:
                self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                self.jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait(timeout=30)
            deadline = time.monotonic() + 20
            while kids and time.monotonic() < deadline:
                kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
                time.sleep(0.1)
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass

    def abort(self):
        print(f"perfbench: run exceeded {DEADLINE_S}s, aborting", file=sys.stderr, flush=True)
        if self.jvm is not None:
            for p in [self.jvm.pid] + descendants(self.jvm.pid):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        os._exit(3)


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer, op: int, out: dict, d: Path, edges: int, ctx: Ctx) -> dict:
    """Per-layer metric values for one operation (untimed)."""
    vals: dict[str, float] = {}
    totals = tracer.layer_totals(op)
    for layer in GENERIC_LAYERS:
        agg = totals.get(layer)
        for m in GENERIC:
            vals[f"{layer}.{m}"] = float(agg[m]) if agg else 0.0
    ind = totals.get("induce")
    vals["induce.shuffle_records_per_edge"] = (
        ind["shuffle_write_records"] / edges if ind and edges else 0.0
    )
    ckpt = d / "ckpt"
    advance_s, steps = _ledger_stats(ckpt) if ckpt.exists() else (0.0, {})
    louvain_dir = ckpt / "louvain"
    sweeps = len(list(louvain_dir.glob("assign-l*-s*"))) if louvain_dir.exists() else 0
    vals["louvain.levels"] = float(steps.get("louvain-auto", 0))
    vals["louvain.sweeps"] = float(sweeps)
    vals["louvain.jobs_per_sweep"] = vals["louvain.jobs"] / sweeps if sweeps else 0.0
    st = out.get("steps", {})
    vals["pagerank.steps"] = float(st.get("pagerank", 0))
    vals["pagerank.jobs_per_step"] = (
        vals["pagerank.jobs"] / st["pagerank"] if st.get("pagerank") else 0.0
    )
    vals["lpa.steps"] = float(st.get("lpa", 0))
    vals["cc.rounds"] = float(st.get("cc", 0))
    vals["loop.advance_s"] = advance_s
    vals["loop.ckpt_mb"] = dir_mb(str(ckpt))
    vals["loop.tmp_left_mb"] = dir_mb(str(ctx.tmp))
    # the io layer's writes: the merged parquet daily_rank overwrites
    vals["io.write_mb"] = dir_mb(str(ctx.work / "merged"))
    return vals


def run(args) -> int:
    if not (ROOT / "louvain_spark" / "__init__.py").is_file():
        print(f"perfbench: no louvain_spark package under {ROOT}; run it from a "
              "repository checkout", file=sys.stderr)
        return 2
    r = Run(args)
    pin_environment(r.work)
    watchdog = threading.Timer(DEADLINE_S, r.abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        return _run(args, r)
    finally:
        r.stop()
        watchdog.cancel()
        shutil.rmtree(r.work, ignore_errors=True)


def _run(args, r: Run) -> int:
    wl = WORKLOADS[args.workload]()
    t_setup = time.monotonic()
    session_s = r.start_session()
    sc = r.spark.sparkContext
    tracer = Tracer(sc, CORES, bool(args.trace))
    tracer.record_jobs("session", -1, list(sc.statusTracker().getJobIdsForGroup(None)), session_s)
    ctx = Ctx(r.spark, tracer, args.seed, r.work)
    with tracer.span("setup", -1):
        sizes = wl.setup(ctx)
    setup_s = time.monotonic() - t_setup

    walls, edges, per_op, failed, spent, i = [], [], [], 0, 0.0, 0
    overhead, unattributed = [], []
    while True:
        d = r.work / f"op{i}"
        tracer.enter_idle(i)
        ov0 = tracer.overhead_s
        t0 = time.monotonic()
        try:
            out, err = wl.op(ctx, i, d), None
        except Exception:
            out, err = None, traceback.format_exc()
        wall = time.monotonic() - t0
        walls.append(wall)
        overhead.append(tracer.overhead_s - ov0)
        unattributed.append(tracer.unattributed_jobs())
        spent += wall
        # -- untimed: collect outputs, measure leftovers, clean up, check
        problems = [f"error: {err}"] if err else []
        got = None
        if out is not None:
            tracer.enter_group("check")
            try:
                got = wl.collect(ctx, out, d)
            except Exception:
                problems.append(f"collect: {traceback.format_exc()}")
        n_edges = wl.edges(got) if got is not None else 0
        edges.append(n_edges)
        if got is not None and not problems:
            try:
                problems += wl.check(ctx, got)
            except Exception:
                problems.append(f"check: {traceback.format_exc()}")
        if args.trace and out is not None:
            per_op.append(layer_metrics(tracer, i, out, d, n_edges, ctx))
        shutil.rmtree(d, ignore_errors=True)
        for p in ctx.tmp.iterdir():
            shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink()
        if problems:
            failed += 1
            print(f"perfbench: op {i} failed:\n  " + "\n  ".join(problems), file=sys.stderr)
        gc.collect()
        i += 1
        if spent >= args.seconds:
            break
    rss = peak_rss_mb(r.jvm.pid)
    attempted = len(walls)
    op_s = median(walls)

    if args.trace:
        metrics = {name: median([v[name] for v in per_op]) for name, _, _ in PER_LAYER
                   if not name.startswith(("run.", "session."))}
        sess = tracer.layer_totals(-1).get("session", {})
        for m in ("wall_s", "jobs", "stages", "task_s"):
            metrics[f"session.{m}"] = float(sess.get(m, 0.0))
        ov = median(overhead)
        metrics.update({
            "run.op_s": op_s,
            "run.peak_rss_mb": rss,
            "run.op_samples": float(attempted),
            "run.unattributed_jobs": float(sum(unattributed)),
            "run.trace_overhead_s": ov,
            "run.trace_overhead_frac": ov / (op_s - ov) if op_s > ov else 0.0,
        })
        units = {n: u for n, u, _ in PER_LAYER}
        spans_dir = WORK_ROOT / "spans"
        spans_dir.mkdir(parents=True, exist_ok=True)
        with open(spans_dir / f"{args.workload}-s{args.seed}.json", "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.spans,
                       "per_op": per_op}, f, indent=1)
        # counts are only trustworthy when every job sat in a span and every
        # stage was still in the status store when its span ended
        missing = sum(rec["missing_stages"] for rec in tracer.spans)
        if sum(unattributed) or missing:
            print(f"perfbench: {sum(unattributed)} Spark jobs ran outside every span, "
                  f"{missing} stages were gone from the status store", file=sys.stderr)
            failed = max(failed, 1)
    else:
        med_edges = median(edges)
        metrics = {
            "setup_s": setup_s,
            "op_s": op_s,
            "edges_per_s": med_edges / op_s if op_s else 0.0,
            "ops_ok_frac": 1.0 - failed / attempted,
        }
        units = {n: u for n, u, _ in END_TO_END}

    print(f"workload={args.workload} seed={args.seed} master={MASTER} "
          f"partitions={PARTITIONS} inputs={sizes} edges={median(edges):.0f} "
          f"ops={attempted} failed={failed} session_s={session_s:.3f}")
    for name, v in metrics.items():
        print(f"  {name:<36} {v:>14.6f} {units[name]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
