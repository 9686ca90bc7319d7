"""SuperstepRunner construction contract and snapshot lifetimes.

The run ledger lives on the local filesystem, so a checkpoint_dir with
another URI scheme is refused up front instead of failing at the first
checkpoint.

An eager localCheckpoint (a snapshot) is freed by plans/loop.release,
not by unpersist(). Each operator call below leaves a pinned number of
snapshots: the ones its result still reads, and the runner's last state.
"""

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from louvain_spark.operators.cc import connected_components
from louvain_spark.operators.louvain import louvain
from louvain_spark.operators.lpa import label_propagation
from louvain_spark.operators.pagerank import pagerank
from louvain_spark.plans.loop import SuperstepRunner, release
from louvain_spark.plans.rank import dense_sorted_rank
from louvain_spark.streaming.incremental import migrate
from tests import graphs
from tests.conftest import (
    cached_rdds, edges_df, local_checkpoints, local_df, on_both_sides, vertices_df,
)


@pytest.mark.parametrize("uri", ["hdfs://nn:8020/ckpt", "s3a://bucket/ckpt"])
def test_runner_rejects_non_local_checkpoint_dir(spark, uri):
    with pytest.raises(ValueError, match="local filesystem"):
        SuperstepRunner(spark, "run", "cc", checkpoint_dir=uri)


def test_runner_accepts_local_paths(spark, tmp_path):
    assert SuperstepRunner(spark, "run", "cc", str(tmp_path)).checkpoint_dir == str(tmp_path)
    uri = SuperstepRunner(spark, "run", "cc", f"file://{tmp_path}")
    assert uri.checkpoint_dir == str(tmp_path)
    assert SuperstepRunner(spark, "run", "cc").checkpoint_dir is None


def test_reading_a_released_snapshot_raises(spark):
    snap = spark.range(5).localCheckpoint(eager=True)
    derived = snap.select((F.col("id") + 1).alias("x"))
    rdd = snap._jdf.logicalPlan().rdd().id()
    assert rdd in local_checkpoints(spark)
    release(snap)
    assert rdd not in local_checkpoints(spark)
    with pytest.raises(Py4JJavaError, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        derived.collect()


def _migrate(spark):
    """A 4-vertex day (a matched and a fresh cluster) into a 3-vertex
    all-time snapshot."""
    at_assign = local_df(spark, [(1, 0), (2, 0), (3, 5)], "id long, community long")
    at_attrs = local_df(
        spark, [(1, "alpha bravo"), (2, "alpha charlie"), (3, "zulu")], "id long, text string"
    )
    d_assign = local_df(spark, [(10, 0), (11, 0), (12, 1), (13, 1)], "id long, community long")
    d_attrs = local_df(
        spark, [(10, "alpha bravo"), (11, "alpha charlie"), (12, "novel"), (13, "novel too")],
        "id long, text string",
    )
    return migrate(spark, d_assign, d_attrs, at_assign, at_attrs)


_CALLS = {
    "pagerank": lambda s, e, v: pagerank(s, e, vertices=v, max_iter=10, tol=0.0),
    "lpa": lambda s, e, v: label_propagation(s, e, vertices=v, max_iter=10),
    "cc": lambda s, e, v: connected_components(s, e, vertices=v),
    "louvain-auto": lambda s, e, v: louvain(s, e, vertices=v, mode="auto")[0],
    "louvain-exact": lambda s, e, v: louvain(s, e, vertices=v, mode="exact")[0],
    "dense_sorted_rank": lambda s, e, v: dense_sorted_rank(v, "id", id_col="rank")[0],
    "migrate": lambda s, e, v: _migrate(s),
}

# snapshots left per call, (one task, distributed): the runner's last
# state; CC's one-task labels, which its result reads; the rank's result;
# the migration's remap and, distributed, the match inputs it reads
_LEFT = {
    "pagerank": (1, 1),
    "lpa": (1, 0),  # distributed: the last state is a stats-reset parquet read
    "cc": (2, 1),
    "louvain-auto": (1, 1),
    "louvain-exact": (1, 1),
    "dense_sorted_rank": (1, 1),
    "migrate": (1, 3),
}


@pytest.mark.parametrize(
    "call,gate_side", on_both_sides(list(_CALLS)), indirect=["gate_side"]
)
def test_snapshots_left_per_call(spark, monkeypatch, call, gate_side):
    """A call leaves exactly its pinned snapshots and caches nothing. The
    test holds every snapshot the call makes, so only release frees one
    (not a JVM garbage collection), and reads the whole result after the
    call, so nothing it reads was released."""
    held = []
    frame = type(spark.range(0))
    snapshot = frame.localCheckpoint

    def hold(df, *args, **kwargs):
        held.append(snapshot(df, *args, **kwargs))
        return held[-1]

    edges, n = graphs.g_ring_of_cliques(k=8, c=5)
    e, v = edges_df(spark, edges), vertices_df(spark, n)
    lc, cached = local_checkpoints(spark), cached_rdds(spark)
    monkeypatch.setattr(frame, "localCheckpoint", hold)
    out = _CALLS[call](spark, e, v)
    assert len(out.collect()) == (7 if call == "migrate" else n)
    assert len(local_checkpoints(spark) - lc) == _LEFT[call][gate_side == "distributed"]
    assert cached_rdds(spark) <= cached
