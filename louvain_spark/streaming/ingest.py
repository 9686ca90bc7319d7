"""Structured Streaming ingestion of transcript files → edge increments.

The reference is batch-only (SURVEY.md §2.9: streaming is explicitly N/A);
this module is the forward-looking ingestion path for a continuously
appended transcripts table: a file stream (Iceberg/parquet drop directory)
is exploded into entity membership and aggregated into per-batch edge
increments appended to a delta directory. Full graph rebuilds then run the
batch operators over `base ∪ increments` — the same incremental-batch
contract as streaming/incremental.py.

Watermarking: co-occurrence is computed per micro-batch via foreachBatch
(the pair self-join is not an allowed streaming-streaming join shape), so
late data lands in a later increment instead of being dropped — exactness
is restored at compaction (sum over increments groupBy pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from louvain_spark.operators.induce import cooccurrence_edges
from louvain_spark.schema import TRANSCRIPTS


def stream_edge_increments(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: int | None = 8,
    available_now: bool = True,
):
    """Start (or run-to-completion with availableNow) the ingestion stream.

    Each micro-batch: transcripts files → co-occurrence edges (per-batch
    weights) appended as parquet with a batch_id column. Returns the
    StreamingQuery.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # increments are keyed by entity NAME: batch-local integer ids are
        # not globally consistent across micro-batches — the global sorted
        # dictionary is assigned once, at compaction
        verts, edges = cooccurrence_edges(batch_df, window=window)
        named = (
            edges.join(verts.select(F.col("id").alias("src"), F.col("name").alias("src_name")), "src")
            .join(verts.select(F.col("id").alias("dst"), F.col("name").alias("dst_name")), "dst")
            .select("src_name", "dst_name", "weight", "etypes")
        )
        (
            named.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(output_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_increments(spark: SparkSession, increments_dir: str) -> tuple[DataFrame, DataFrame]:
    """(vertices, edges) — exact global edge table from increments.

    Weights are distinct-conv counts per batch; exact globally as long as
    a conversation never spans micro-batches (one file per conversation
    group in the drop contract — document/enforce upstream). The global
    vertex dictionary is the sorted rank over all entity names seen.
    """
    from louvain_spark.plans.rank import dense_sorted_rank

    inc = spark.read.parquet(increments_dir)
    names = (
        inc.select(F.col("src_name").alias("name"))
        .union(inc.select("dst_name"))
        .distinct()
    )
    verts = dense_sorted_rank(names, "name").select("id", "name")
    by_name = inc.groupBy("src_name", "dst_name").agg(
        F.sum("weight").alias("weight"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("etypes")))).alias("etypes"),
    )
    edges = (
        by_name.join(verts.select(F.col("name").alias("src_name"), F.col("id").alias("_s")), "src_name")
        .join(verts.select(F.col("name").alias("dst_name"), F.col("id").alias("_d")), "dst_name")
        .select(
            F.least("_s", "_d").alias("src"),
            F.greatest("_s", "_d").alias("dst"),
            "weight",
            "etypes",
        )
        .groupBy("src", "dst")
        .agg(
            F.sum("weight").alias("weight"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("etypes")))).alias("etypes"),
        )
    )
    return verts, edges


def stream_dedup_docs(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    dedup_horizon: str = "24 hours",
    available_now: bool = True,
):
    """Streaming exact-dedup during ingest: append only the first arrival
    of each normalized-text digest to `output_dir`.

    `dropDuplicatesWithinWatermark` on the md5 digest keeps the dedup
    state bounded by the watermark horizon instead of the corpus size —
    the only state shape that survives an unbounded 100 TB ingest (a
    plain streaming dropDuplicates grows state forever). Duplicates
    farther apart than `dedup_horizon` can both land in the store; as
    with edge increments above, EXACTNESS is restored at compaction —
    run `operators/dedup.exact_duplicates` over the accumulated store and
    keep `is_canonical` rows. Which arrival survives inside the horizon
    is arrival-order-dependent (stream semantics); the batch compaction
    canonicalizes by min doc_id, deterministically.

    Returns the StreamingQuery.
    """
    from louvain_spark.operators.dedup import normalize_text
    from louvain_spark.schema import DOCUMENTS

    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    deduped = (
        stream.withColumn("digest", F.md5(normalize_text(F.col("text"))))
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", dedup_horizon)
        .dropDuplicatesWithinWatermark(["digest"])
        .drop("ingest_ts")
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
