"""Structured Streaming ingestion: exact dedup of an appended document
drop directory (stream_dedup_docs).

The reference is batch-only (SURVEY.md §2.9: streaming is explicitly N/A);
this module is the forward-looking ingestion path for a continuously
appended documents table: a file stream (Iceberg/parquet drop directory)
keeps the first arrival of each normalized-text digest within a watermark
horizon, and exactness is restored at compaction by the batch dedup
operator (operators/dedup.exact_duplicates).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# arrivals of one digest farther apart than this may both be kept
DEDUP_HORIZON = "24 hours"


def stream_dedup_docs(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming exact-dedup during ingest: append only the first arrival
    of each normalized-text digest to `output_dir`.

    `dropDuplicatesWithinWatermark` on the md5 digest keeps the dedup
    state bounded by the watermark horizon instead of the corpus size —
    the only state shape that survives an unbounded 100 TB ingest (a
    plain streaming dropDuplicates grows state forever). Duplicates
    farther apart than DEDUP_HORIZON can both land in the store;
    EXACTNESS is restored at compaction —
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
        .withWatermark("ingest_ts", DEDUP_HORIZON)
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
