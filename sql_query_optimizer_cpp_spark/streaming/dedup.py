"""Streaming deduplication: exact dedup-on-ingest for document streams.

The batch operator (``operators/dedup.py exact_dedup``) answers "what are
the distinct contents of this corpus"; a training-data *ingest* pipeline
needs the streaming form — drop a document the moment its content hash has
been seen before, across micro-batches.  Structured Streaming's
``dropDuplicates`` keeps exactly that first-seen state in the state store.

State posture at 100 TB/day: keyed state is one 60-bit hash per distinct
document — small, but unbounded over an infinite stream.  Production
bounds it with ``dropDuplicatesWithinWatermark`` once records carry event
time (dedup only within the watermark horizon, state evicted beyond it);
the documents fixture has no timestamp column, so the unbounded variant is
the honest default here and the watermarked variant takes the event-time
column as a parameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table_path
from ..operators import reader
from ..operators.text import content_fingerprint


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the documents fixture as a file stream (schema from a batch
    peek; streaming sources need the schema up front)."""
    path = table_path(sf_dir, "documents")
    schema = reader.read(spark, path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def streaming_exact_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    event_time_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """First-occurrence exact dedup on ingest: fingerprint the normalized
    content, keep the first row per hash across micro-batches.

    With ``event_time_col`` the state store is bounded via
    ``dropDuplicatesWithinWatermark`` (hashes older than the watermark are
    evicted — the 100 TB/day posture); without it state grows with the
    number of distinct documents (one 60-bit key each).

    Output: (doc_id, content_hash) — one row per distinct content; WHICH
    doc id represents a duplicate set depends on arrival order, so
    cross-run comparisons should key on content_hash (tests do).
    """
    if event_time_col is not None:
        keyed = docs.select(
            F.col(id_col),
            content_fingerprint(text_col).alias("content_hash"),
            F.col(event_time_col),
        )
        return (
            keyed.withWatermark(event_time_col, watermark)
            .dropDuplicatesWithinWatermark(["content_hash"])
            .select(id_col, "content_hash")
        )
    return docs.select(
        F.col(id_col), content_fingerprint(text_col).alias("content_hash")
    ).dropDuplicates(["content_hash"])
