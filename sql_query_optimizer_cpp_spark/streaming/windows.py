"""Structured Streaming versions of the event-time window operators.

The batch-mode twins in ``inventory/events.py`` define the semantics (and
carry the DuckDB oracles); these run the *same* window expressions as real
streams: parquet source -> watermark -> windowed aggregation -> memory
sink, driven to completion with ``processAllAvailable`` so tests are
synchronous and deterministic.

At scale the source becomes Kafka/files-on-arrival and the sink a Delta/
parquet table via ``foreachBatch``; nothing in the aggregation changes —
that is the point of keeping the logic in shared builder functions.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table_path
from ..functions import dsum
from ..operators import reader


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the events fixture as a file stream (schema from a batch peek;
    a streaming source must be given its schema up front).

    ``maxFilesPerTrigger=1`` keeps micro-batches realistic even with a
    single fixture file.  The nanos->micros conversion matches
    ``catalog.load_tables``.
    """
    # The NTZ->LTZ cast below is only a relabel when the session zone is
    # UTC; mirror catalog.load_tables' runtime guard here rather than
    # assuming the session was built by session.get_session() — a vanilla
    # embedder session in another zone would otherwise wall-clock-shift
    # event times and every watermark/window boundary with them.
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # ...and the OTHER half of that guard: events.parquet is
    # TIMESTAMP(NANOS), which a vanilla session refuses to read at all
    # (PARQUET_TYPE_ILLEGAL) without nanosAsLong — the schema peek below
    # would crash before the ts conversion ever ran
    if (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        != "true"
    ):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    schema = reader.read(spark, path).schema
    # streaming file sources take a directory; select just the events file
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dict(raw.dtypes).get("ts") == "timestamp_ntz":
        # watermarks/event-time require TIMESTAMP (LTZ); the session zone is
        # pinned to UTC, so this cast is a deterministic relabel of the
        # naive parquet timestamps, not a wall-clock shift.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling 1h window x event_type counts/sums — the
    streaming twin of inventory query ``events_tumbling``.

    The sum goes through the decimal trick (``dsum``): micro-batched state
    updates add doubles in a different order than batch partitions, so a
    plain double SUM would make streamed-equals-batch flaky by construction.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", scale=6).alias("total"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
            "total",
        )
    )


def session_counts(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Watermarked session windows per user — streaming twin of
    ``events_session`` (session_window is streaming-native in Spark)."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def run_to_memory(
    agg: DataFrame,
    output_mode: str = "complete",
    query_name: str | None = None,
) -> tuple[str, "object"]:
    """Start ``agg`` against an in-memory sink, drain all available input,
    and return (table_name, query_handle).  Caller stops the query."""
    name = query_name or f"stream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return name, q
