"""Table sources: driver testdata parquet + events→graph induction.

The events table doubles as a second co-occurrence source (FIXTURES.md §5):
entities are event types and users, a context is a (user, hour) session,
and two entities co-occurring in a context get an edge weighted by distinct
context count — the same induction as transcripts→edges (operators/induce.py),
kept SQL-expressible so DuckDB can replay it as the oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from louvain_spark.plans.gate import broadcast_or_shuffle

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _scan_row_groups(path: str) -> tuple[int, int, int]:
    """(total_bytes, row_groups, rows) of a local parquet file or directory.

    Parquet scan parallelism is bounded by ROW GROUPS, not byte splits: a
    byte-range split only yields the rows of row groups that START inside
    it, so a single-row-group file is one task no matter how small
    spark.sql.files.maxPartitionBytes is. The driver testdata tables are
    exactly that shape (one file, one row group), which serialized every
    per-row map over them onto one core (measured: repetition_scores 9.9s
    on 5000 docs — all on task 0). Footer reads are local-FS, the same
    contract as plans/loop._partition_rows.
    """
    import pyarrow.parquet as pq

    files = (
        [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
        if os.path.isdir(path)
        else [path]
    )
    total = sum(os.path.getsize(f) for f in files)
    groups = rows = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        groups += md.num_row_groups
        rows += md.num_rows
    return total, groups, rows


# fan-out applies only to SMALL inputs: a repartition of a big table would
# be a full payload shuffle for nothing (its scan already parallelizes).
_FANOUT_MAX_BYTES = 1 << 30
# ...and only to PAYLOAD-HEAVY rows: the repartition's payoff is parallel
# per-row compute (regex/tokenize/HOF over text or vector cells), which
# scales with bytes per row. Narrow numeric fact rows (orders/lineitem:
# ~18 B/row) aggregate map-side faster than the extra exchange costs —
# measured +0.3-0.7s per relational stage with an unconditional fan-out
# (pricing_summary 0.25→0.92s) vs 6-10× wins on the text/vector tables.
_FANOUT_MIN_BYTES_PER_ROW = 48


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, MARKING small low-row-group payload-heavy
    files for fan-out to the session's parallelism (plans/fanout.py).

    Scale-adaptive, not a local[32] constant: the mark is set only when
    the scan's row-group count is below defaultParallelism (parquet scan
    parallelism is bounded by row groups, so the scan cannot reach the
    cluster's parallelism on its own), the input is small (< 1 GB: the
    extra shuffle is near-free), and rows are payload-heavy (≥ ~48 B/row).
    A 100 TB table has thousands of row groups and never triggers this.

    The mark, not the repartition itself: only load() sees the file
    footers, but whether the extra exchange PAYS depends on the consumer.
    Per-row-CPU-heavy operators (repetition/PII regex passes, shingle
    minhash — ~ms/row of expression work that otherwise runs on ONE task)
    opt in via plans.fanout.apply_scan_fanout and win 5-8×; aggregation-
    dominated consumers (vocab/TF-IDF/LM explode+combine, window packing,
    sampling) skip it — measured +0.1-0.8s per stage when the source
    repartitioned unconditionally (the exchange re-executes on every
    action and AQE cannot coalesce a user-specified repartition).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    par = spark.sparkContext.defaultParallelism
    try:
        total, groups, rows = _scan_row_groups(path)
    except OSError:
        return df  # non-local path: leave the scan alone
    if (
        groups < par
        and total < _FANOUT_MAX_BYTES
        and total >= _FANOUT_MIN_BYTES_PER_ROW * max(rows, 1)
    ):
        df._scan_fanout = par  # consumed by plans.fanout.apply_scan_fanout
    return df


def events_membership(events: DataFrame) -> DataFrame:
    """(context, entity) distinct — entities 'type:<t>' and 'user:<u>',
    context = '<user>:<yyyy-MM-dd HH>' (hour session)."""
    ctx = F.concat_ws(
        ":", F.col("user_id").cast("string"), F.date_format("ts", "yyyy-MM-dd HH")
    )
    m = events.select(
        ctx.alias("context"),
        F.explode(
            F.array(
                F.concat(F.lit("type:"), F.col("event_type")),
                F.concat(F.lit("user:"), F.col("user_id").cast("string")),
            )
        ).alias("entity"),
    )
    return m.distinct()


def events_vertices(mem: DataFrame) -> tuple[DataFrame, int]:
    """((id, name), its row count) — dense sorted rank over distinct
    entities, via the two-phase distributed rank (plans/rank.py; no
    single-partition window)."""
    from louvain_spark.plans.rank import dense_sorted_rank

    ents = mem.select("entity").distinct()
    ranked, n = dense_sorted_rank(ents, "entity")
    return ranked.select("id", F.col("entity").alias("name")), n


def events_cooc(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(vertices(id,name), edges(src,dst,weight)) co-occurrence graph.

    The dictionary joins the membership through the dimension-join gate
    (plans/gate.py), sized by the row count the rank observed."""
    mem = events_membership(events)
    verts, n = events_vertices(mem)
    d = broadcast_or_shuffle(verts.withColumnRenamed("name", "entity"), n)
    mi = mem.join(d, "entity").select("context", "id")
    a = mi.alias("a")
    b = mi.alias("b")
    pairs = (
        a.join(b, "context")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    )
    edges = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("double").alias("weight"))
    return verts, edges


# Shared DuckDB CTE replaying the same induction — the oracle-side twin of
# events_cooc; every graph oracle query builds on these.
EVENTS_COOC_SQL = """
WITH m AS (
  SELECT DISTINCT
    user_id::VARCHAR || ':' || strftime(ts, '%Y-%m-%d %H') AS context,
    entity
  FROM events, UNNEST(['type:' || event_type, 'user:' || user_id::VARCHAR]) AS t(entity)
),
v AS (
  SELECT entity AS name, row_number() OVER (ORDER BY entity) - 1 AS id
  FROM (SELECT DISTINCT entity FROM m)
),
mi AS (SELECT m.context, v.id FROM m JOIN v ON m.entity = v.name),
e AS (
  SELECT a.id AS src, b.id AS dst, count(*)::DOUBLE AS weight
  FROM mi a JOIN mi b ON a.context = b.context AND a.id < b.id
  GROUP BY 1, 2
)
"""
