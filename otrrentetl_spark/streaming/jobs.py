"""Structured Streaming jobs over the events table.

Reproduces the reference's scheduling semantics Spark-first
(SURVEY.md §2.10):

- I1 timer-driven micro-batch loop  → ``trigger(availableNow=True)``
  (drain-what's-there-and-stop; an external scheduler supplies the
  cadence) or ``processingTime`` for a resident daemon.
- I2 idempotent ingest              → checkpointed source offsets +
  keyed MERGE sink (re-runs never duplicate).
- I3 10-day backfill tolerance      → ``withWatermark('ts','10 days')``.
- I5 graceful shutdown              → ``query.stop()`` /
  ``awaitTermination`` (``stop_query``).

The write path is ``foreachBatch`` → the engine's keyed merge writer
(operators.merge.KeyedParquetTable) — each micro-batch's updated
window aggregates upsert by key, so the sink is exactly-once at the
row level regardless of micro-batch replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from otrrentetl_spark import catalog
from otrrentetl_spark.operators.merge import KeyedParquetTable
from otrrentetl_spark.streaming import windows


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with the same
    footer-probed ts-unit normalization as the batch catalog reader.
    The file source wants a directory; sf_dir holds every table, so a
    glob filter narrows the listing to the events file(s)."""
    return catalog.read_events_stream(
        spark, sf_dir, glob_filter="events*.parquet"
    )


def run_tumbling_merge_job(
    spark: SparkSession,
    sf_dir: str,
    sink_path: str,
    checkpoint_path: str,
    duration: str = "1 hour",
    watermark: str = windows.DEFAULT_WATERMARK,
) -> StreamingQuery:
    """availableNow run: events stream → watermark → tumbling counts →
    keyed MERGE upsert per micro-batch. Returns the started query;
    caller awaits termination (availableNow self-terminates)."""
    agg = windows.tumbling_counts(
        windows.with_watermark(read_events_stream(spark, sf_dir), watermark),
        duration,
    ).withColumn(
        # String partition key per the engine's keyed-table convention
        # (timestamps don't round-trip as parquet partition values).
        "window_key",
        F.date_format("window_start", "yyyy-MM-dd-HH-mm"),
    )
    sink = KeyedParquetTable(spark, sink_path, keys=["window_key", "event_type"])

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # availableNow can deliver a trailing empty batch; the verb
        # commits nothing for it
        sink.upsert_replace_partitions(batch_df)

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory(
    spark: SparkSession,
    agg: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> StreamingQuery:
    """Drain a streaming aggregation into an in-memory table (tests /
    interactive inspection)."""
    return (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )


def stop_query(query: StreamingQuery, timeout_s: float = 60.0) -> None:
    """I5 graceful shutdown: drain then stop."""
    query.awaitTermination(timeout_s)
    if query.isActive:
        query.stop()
