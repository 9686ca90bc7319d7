"""SparkSession factory with engine-tuned defaults.

Defaults chosen for the sandbox (single-JVM local[N]); on a real cluster
the same config keys apply, scaled to executor count. AQE is on so skewed
joins are split at runtime; the one skewed join that split did not rescue,
the unwindowed co-occurrence self-join over a huge conversation, is salted
explicitly (operators/induce.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    # local mode hosts driver+executors in one JVM; the 1g default heap GC-
    # thrashes under iterative workloads (accumulated checkpoint blocks +
    # per-job task-binary broadcasts). Applies only at JVM launch.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # shuffle sizing: ~1 partition per core at sandbox scale; a cluster run
    # would set this to 2-3x total cores (or rely on AQE coalescing).
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all pandas UDF / applyInPandas exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # broadcast small dims aggressively (community aggregate tables are tiny)
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # shuffle/spill files on tmpfs when available: the sandbox's /tmp is a
    # virtual disk whose I/O serializes shuffle-heavy stages (on a real
    # cluster this is local NVMe per executor)
    "spark.local.dir": os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
    ),
    "spark.sql.session.timeZone": "UTC",
}

# glibc malloc tuning for python workers (numpy kernels): by default every
# allocation over the dynamic mmap threshold (capped at 32MB) is served by
# mmap and returned by munmap, so numpy temporaries above that size are
# page-faulted in from scratch on EVERY kernel call — measured on this
# host as 20x run-to-run swings on identical argpartition input
# (BENCH/BASELINE.md r5). Raising the threshold
# and matching the trim threshold lets the worker's heap recycle buffers
# up to 128MB across calls (the kernels themselves block their
# temporaries well below that — see similarity._topk_core). Workers read
# these at process start: os.environ covers local mode (the python daemon
# is a descendant of this process); spark.executorEnv covers real
# executors.
_WORKER_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(128 * 1024 * 1024),
    "MALLOC_TRIM_THRESHOLD_": str(128 * 1024 * 1024),
}


def _sweep_orphaned_local_dirs() -> None:
    """Remove shuffle/local dirs orphaned by killed JVMs.

    spark.local.dir defaults to tmpfs here, and a SIGKILL'd or OOM-killed
    JVM never runs its shutdown hook — its local dir leaks. Leaks
    accumulate across runs until tmpfs starves the host (observed: 109 GB
    in /dev/shm/spark-local after a long session; the next JVM was then
    OOM-killed at launch). Sweeping is exactly safe when no JVM is alive:
    every entry is orphaned by definition. With any java process running
    we cannot attribute dirs to owners, so do nothing.

    Only entries Spark itself creates (``spark-*``, ``blockmgr-*``) are
    deleted, so pointing SPARK_GRAFT_LOCAL_DIR at a shared directory
    (e.g. /tmp, which DEFAULT_CONF falls back to) can never destroy
    unrelated files; that prefix restriction also bounds the blast radius
    of the inherent check-then-delete race. JVM liveness is checked both
    by binary name and by command line (``org.apache.spark``) so a JVM
    launched under a non-``java`` binary name still suppresses the sweep.
    """
    base = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    if not os.path.isdir(base):
        return
    import shutil
    import subprocess

    try:
        for probe in (["pgrep", "-x", "java"], ["pgrep", "-f", "org.apache.spark"]):
            if subprocess.run(probe, capture_output=True).returncode == 0:
                return  # a live JVM may own some of these dirs
        for name in os.listdir(base):
            if name.startswith(("spark-", "blockmgr-")):
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    except OSError:
        pass


def _warm_session(spark: SparkSession) -> None:
    """One tiny end-to-end job at session build (~5s, once per session).

    First-action costs — JVM classloading for the scheduler/shuffle/
    parquet paths, codegen compiler spin-up, and the Python worker
    daemons (one per core; without this they fork inside the first
    pandas-UDF/applyInPandas stage that needs them) — are APPLICATION-
    lifetime costs, not per-query costs: a long-lived cluster pays them
    once at startup, never per query. Paying them at getOrCreate keeps
    the first real query's wall from measuring JVM warm-up (bench.py's
    own ann_topk stage records ann_topk_warm_s for exactly this noise;
    measured: first 600k-row parquet write 11.0s cold vs 8.0s after
    this warm-up, identical second-write wall). SPARK_GRAFT_NO_WARM=1
    skips it (job-counting diagnostics)."""
    import shutil
    import tempfile

    import pandas as pd  # noqa: F401 (type-hint resolution for the UDF)
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # hints must resolve from module globals (PEP 563 stringifies them)
    globals().setdefault("pd", pd)

    @pandas_udf("long")
    def _wid(s: "pd.Series") -> "pd.Series":
        # pull numpy into the reused worker processes here: the ANN/IVF
        # Arrow kernels import it on first use, and with worker reuse the
        # import is a once-per-worker cost best paid at startup
        import numpy  # noqa: F401

        return s

    def _wcell(left, right):
        import pyarrow as pa

        return pa.table({"n": [left.num_rows + right.num_rows]})

    par = spark.sparkContext.defaultParallelism
    d = tempfile.mkdtemp(prefix="spark-warm-")
    try:
        df = spark.range(0, 16 * par, 1, par).select(
            "id", _wid(F.col("id")).alias("w")
        )
        (
            df.repartition(par, "id")
            .groupBy((F.col("id") % 10).alias("g"))
            .count()
            .write.mode("overwrite")
            .parquet(os.path.join(d, "w"))
        )
        spark.read.parquet(os.path.join(d, "w")).count()
        # cogrouped-Arrow + window + higher-order-function paths: distinct
        # serializer/eval-type and CodegenFallback class graphs from the
        # scalar UDF above, each a first-use JVM/worker cost (measured
        # ~2s landing inside the first ANN stage that needed them)
        g = spark.range(0, 4 * par, 1, par).withColumn(
            "g", (F.col("id") % par).cast("int")
        )
        (
            g.groupby("g")
            .cogroup(g.groupby("g"))
            .applyInArrow(_wcell, "n long")
            .count()
        )
        from pyspark.sql import Window

        w = Window.partitionBy(F.col("id") % 7).orderBy("id")
        (
            g.select(
                "id",
                F.row_number().over(w).alias("r"),
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(3)),
                    F.lit(0.0),
                    lambda a, x: a + x * F.col("id"),
                ).alias("h"),
            )
            .where(F.col("r") >= 0)
            .count()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def get_spark(
    app_name: str = "louvain_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[4]")
    if master.startswith("local"):
        _sweep_orphaned_local_dirs()
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    for var, val in _WORKER_MALLOC_ENV.items():
        os.environ.setdefault(var, val)
        conf.setdefault(f"spark.executorEnv.{var}", os.environ[var])
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if not getattr(spark, "_louvain_warmed", False) and not os.environ.get(
        "SPARK_GRAFT_NO_WARM"
    ):
        _warm_session(spark)
        spark._louvain_warmed = True
    return spark
