"""Superstep runner: checkpointing, per-partition run ledger, resume.

Every iterative operator (CC, PageRank, LPA, Louvain) drives its loop
through this runner (SURVEY.md §3.4, §4.4): each superstep is a pure
DataFrame transform; the runner truncates lineage (parquet checkpoint or
localCheckpoint), appends a ledger row per partition (run_id, operator,
superstep, partition_id, rows, moved, metric, wall_ms, checkpoint_path),
and exposes resume(run_id) → (last superstep, its checkpointed state).

Cost: each advance is one driver action (a localCheckpoint or a parquet
write), not one Spark job: under AQE every query stage of the action's
plan runs as its own job. Below gate.ONE_BLOCK_MAX_EDGES, PageRank, LPA
and CC make a single advance for their whole one-block kernel run
(steps = the kernel's iterations), so the ledger holds one row for it and
such a run resumes only from before the kernel. Louvain's dendrogram tail
(every level once the level graph fits one block: all of them in exact
mode) is one advance too, with steps = the levels it kept; a Louvain run
resumes after a parallel level or before the tail, never inside it.

Snapshots: unpersist() does not free an eager localCheckpoint; release()
does. An operator releases each snapshot it made once nothing it returns
reads it (a frame reading a released one fails, it does not recompute);
the rest stay until JVM GC. The runner releases each state it replaces.

The reference's ad-hoc resume story is its legacy-cluster reconciliation
(/root/reference/tool/Neo4jLouvainProcessor.py:305-364); this replaces it
with explicit per-superstep lineage.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STATS_RESET_EVERY = 4  # localCheckpointed supersteps between stats_resets


def release(df: DataFrame) -> None:
    """Unpersist `df`; free its blocks if it is an eager localCheckpoint."""
    df.unpersist()
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def stats_reset(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Write `df` to parquet at `path` and read it back.

    Iterative state must cross a parquet roundtrip now and then, not only
    localCheckpoint: localCheckpoint keeps the origin plan's Catalyst
    sizeInBytes estimate, and SizeInBytesOnlyStats estimates a join as the
    PRODUCT of its children, so a frame fed back through k joins per
    superstep grows its estimate ~k× per step until the optimizer spends
    minutes multiplying million-digit BigIntegers (observed: 30 PageRank
    supersteps on a 20-vertex graph die with "BigInteger would overflow
    supported range"; Louvain sweeps peg a core in InjectRuntimeFilter).
    Reading back from parquet replaces the estimate with the real file
    size. The files double as a durable checkpoint of the state.
    """
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@dataclass
class StepResult:
    state: DataFrame
    moved: int | None = None  # convergence counter (labels changed, etc.)
    metric: float | None = None  # operator metric (modularity, L∞ delta, …)
    # observed metrics attached to the state plan (DataFrame.observe): they
    # materialize during advance()'s checkpoint action, so counters reach
    # the ledger without a second scan job
    observation: object | None = None  # pyspark.sql.Observation
    moved_key: str | None = None
    metric_key: str | None = None
    # logical supersteps this advance represents: operators that chain
    # multiple supersteps into one action (PageRank/LPA steps_per_action,
    # one-block kernel runs; distributed CC stays at 1 by design, see
    # cc.py) pass >1 so the ledger/checkpoint counter stays in LOGICAL
    # superstep units — resume and max_iter accounting agree with the
    # unbatched trajectory
    steps: int = 1
    # the state is one whole-graph kernel's output (operators/
    # _block_kernels.py): its plan has no chain of joins, so the advance
    # does not tick the stats-reset clock
    one_block: bool = False


class SuperstepRunner:
    """Drives an iterative operator with durable checkpoints + ledger.

    checkpoint_dir=None → localCheckpoint only (fast, not resumable);
    otherwise every `checkpoint_every` supersteps the state is written to
    parquet and recorded in the ledger, enabling mid-iteration resume.

    Every STATS_RESET_EVERY consecutive localCheckpoints the state is
    instead parquet-roundtripped through a session temp dir (see
    stats_reset — not optional hygiene). Each advance releases the state
    the previous one returned.

    checkpoint_dir must be a local path (or a file:// URI): the ledger is
    written and its checkpoints' footers are read driver-side with
    pyarrow (see _append_ledger). Other URI schemes raise ValueError.
    """

    def __init__(
        self,
        spark: SparkSession,
        run_id: str,
        operator: str,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 1,
    ):
        if checkpoint_dir is not None:
            uri = urlparse(checkpoint_dir)
            if uri.scheme not in ("", "file"):
                raise ValueError(
                    f"SuperstepRunner checkpoint_dir {checkpoint_dir!r} has URI "
                    f"scheme {uri.scheme!r}: the run ledger is written and read "
                    "on the local filesystem (driver-side pyarrow), so pass a "
                    "local path or a file:// URI (on HDFS/S3, a fuse mount)"
                )
            checkpoint_dir = uri.path if uri.scheme else checkpoint_dir
        self.spark = spark
        self.run_id = run_id
        self.operator = operator
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = max(1, checkpoint_every)
        self.superstep = -1
        self._ckpt_bucket = -1  # last superstep//checkpoint_every checkpointed
        self._persisted: DataFrame | None = None
        self._local_since_reset = 0
        self._resets = 0
        self._tmp_dir: str | None = None

    def _stats_reset_dir(self) -> str:
        """Lazy per-runner temp dir for ad-hoc stats-reset roundtrips
        (local filesystem; removed at interpreter exit — these frames are
        working state, not resume targets)."""
        if self._tmp_dir is None:
            import atexit
            import shutil
            import tempfile

            self._tmp_dir = tempfile.mkdtemp(prefix=f"superstep-{self.operator}-")
            atexit.register(shutil.rmtree, self._tmp_dir, ignore_errors=True)
        return self._tmp_dir

    # -- ledger -----------------------------------------------------------
    @property
    def ledger_path(self) -> str | None:
        if self.checkpoint_dir is None:
            return None
        return os.path.join(self.checkpoint_dir, "_ledger")

    @staticmethod
    def _partition_rows(ckpt_path: str) -> list[tuple[int, int]]:
        """(partition_id, rows) per part file of a parquet checkpoint —
        read from the footers the checkpoint write just produced, so the
        per-partition ledger costs zero extra Spark jobs."""
        import pyarrow.parquet as pq

        out: list[tuple[int, int]] = []
        for fname in sorted(os.listdir(ckpt_path)):
            if not fname.endswith(".parquet") or fname.startswith("_"):
                continue
            pid = (
                int(fname.split("-")[1])
                if fname.startswith("part-")
                else len(out)
            )
            out.append(
                (pid, pq.ParquetFile(os.path.join(ckpt_path, fname)).metadata.num_rows)
            )
        return out or [(-1, 0)]

    def _append_ledger(
        self,
        superstep: int,
        moved: int | None,
        metric: float | None,
        wall_ms: int,
        ckpt_path: str | None,
    ) -> None:
        """Append ledger rows driver-side (pyarrow, no Spark job).

        Parquet-checkpointed steps get one row per checkpoint partition
        (lineage for resume); localCheckpoint-only steps get a single
        summary row with partition_id = -1 (they are not resume targets).

        LOCAL-FS ASSUMPTION: the footer read + pyarrow append assume checkpoint_dir is a local
        path (__init__ rejects other URI schemes). On HDFS/S3 pass a fuse
        mount, or swap this for a Spark append write (the pre-r2
        implementation) at the cost of one tiny Spark job per superstep.
        """
        if self.ledger_path is None:
            return
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        per_part = (
            self._partition_rows(ckpt_path) if ckpt_path is not None else [(-1, -1)]
        )
        n = len(per_part)
        table = pa.table(
            {
                "run_id": pa.array([self.run_id] * n, pa.string()),
                "operator": pa.array([self.operator] * n, pa.string()),
                "superstep": pa.array([superstep] * n, pa.int32()),
                "partition_id": pa.array([p for p, _ in per_part], pa.int32()),
                "rows_out": pa.array([r for _, r in per_part], pa.int64()),
                "moved": pa.array([moved] * n, pa.int64()),
                "metric": pa.array([metric] * n, pa.float64()),
                "wall_ms": pa.array([wall_ms] * n, pa.int64()),
                "checkpoint_path": pa.array([ckpt_path] * n, pa.string()),
            }
        )
        os.makedirs(self.ledger_path, exist_ok=True)
        pq.write_table(
            table,
            os.path.join(
                self.ledger_path, f"step-{superstep:05d}-{uuid.uuid4().hex}.parquet"
            ),
        )

    # -- checkpoint -------------------------------------------------------
    def _ckpt_path(self, superstep: int) -> str:
        return os.path.join(self.checkpoint_dir, f"step={superstep:05d}")

    def advance(self, result: StepResult) -> DataFrame:
        """Record one completed superstep; return the lineage-cut state."""
        steps = max(1, int(result.steps))
        self.superstep += steps
        ticks = 0 if result.one_block else steps
        t0 = time.monotonic()
        state = result.state
        ckpt_path = None
        # bucket comparison (not modulo): a batched advance can jump the
        # counter past a multiple of checkpoint_every and must still
        # checkpoint when it crosses one
        if (
            self.checkpoint_dir is not None
            and self.superstep // self.checkpoint_every > self._ckpt_bucket
        ):
            ckpt_path = self._ckpt_path(self.superstep)
            state = stats_reset(self.spark, state, ckpt_path)
            self._ckpt_bucket = self.superstep // self.checkpoint_every
            self._local_since_reset = 0  # parquet roundtrip resets stats too
        elif self._local_since_reset + ticks >= STATS_RESET_EVERY:
            # alternate between two paths so a reset never overwrites the
            # files backing the frame it is reading from (back-to-back resets)
            path = os.path.join(self._stats_reset_dir(), f"reset={self._resets % 2}")
            state = stats_reset(self.spark, state, path)
            self._resets += 1
            self._local_since_reset = 0
        else:
            state = state.localCheckpoint(eager=True)
            # count in LOGICAL supersteps: a batched advance preserves a
            # plan with ~steps× the joins, so the stats-explosion clock
            # (see class docstring) ticks steps× faster per advance
            self._local_since_reset += ticks
        wall_ms = int((time.monotonic() - t0) * 1000)
        moved, metric = result.moved, result.metric
        if result.observation is not None:
            vals = result.observation.get
            if result.moved_key is not None:
                moved = int(vals[result.moved_key])
            if result.metric_key is not None:
                metric = float(vals[result.metric_key])
        self._append_ledger(self.superstep, moved, metric, wall_ms, ckpt_path)
        if self._persisted is not None:
            release(self._persisted)
        self._persisted = state
        return state

    # -- resume -----------------------------------------------------------
    @classmethod
    def resume(
        cls, spark: SparkSession, run_id: str, operator: str, checkpoint_dir: str
    ) -> tuple["SuperstepRunner", DataFrame | None, int]:
        """Reload the latest checkpointed superstep for (run_id, operator).

        Returns (runner positioned after that superstep, state or None, last
        superstep index or -1). The restored runner's checkpoint bucket is
        aligned to its (default) checkpoint_every; a caller that changes
        checkpoint_every afterwards must recompute
        `runner._ckpt_bucket = runner.superstep // runner.checkpoint_every`.
        """
        runner = cls(spark, run_id, operator, checkpoint_dir)
        ledger_path = runner.ledger_path
        try:
            ledger = spark.read.parquet(ledger_path)
        except Exception:
            return runner, None, -1
        rows = (
            ledger.where(
                (F.col("run_id") == run_id)
                & (F.col("operator") == operator)
                & F.col("checkpoint_path").isNotNull()
            )
            .groupBy("superstep", "checkpoint_path")
            .count()
            .orderBy(F.col("superstep").desc())
            .limit(1)
            .collect()
        )
        if not rows:
            return runner, None, -1
        last = rows[0]
        runner.superstep = int(last["superstep"])
        # the restored superstep IS checkpointed — align the bucket so the
        # first advance after resume only writes when it crosses a new
        # checkpoint_every boundary (not unconditionally)
        runner._ckpt_bucket = runner.superstep // runner.checkpoint_every
        state = spark.read.parquet(last["checkpoint_path"])
        return runner, state, runner.superstep
