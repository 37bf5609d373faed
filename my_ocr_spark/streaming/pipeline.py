"""Streaming wrappers: incremental extraction + watermarked windowed aggs.

* ``streaming_extract`` — readStream over a parquet/Iceberg docs directory,
  the SAME extract_docs transform (mapInArrow is streaming-compatible),
  append-mode sink. Late/duplicate snapshots are handled downstream by
  latest_snapshot over the sink (batch compaction), because global
  row_number isn't available in append streams — the documented pattern.
* ``windowed_event_agg`` — event-time tumbling window + watermark: the
  canonical late-data-tolerant aggregate over the events-shaped stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from my_ocr_spark.operators.extract import extract_docs
from my_ocr_spark.schemas import DOCS_SCHEMA


def streaming_extract(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    """Streaming DataFrame of extracted documents from a parquet directory
    source. Caller attaches .writeStream (sink + checkpointLocation —
    checkpointing gives exactly-once per epoch, the streaming twin of the
    batch lineage/resume manifest)."""
    stream = (spark.readStream.schema(DOCS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(source_dir))
    return extract_docs(stream)


def session_event_agg(events: DataFrame,
                      gap: str = "30 minutes",
                      watermark: str = "2 hours") -> DataFrame:
    """Dynamic-gap SESSION window per user (session_window): the
    streaming form of gap sessionization — sessions close when the
    watermark passes last-event + gap. Works on both batch and streaming
    frames; exactness is witnessed by the batch oracle query
    ``session_window_native`` (plans/analytics.py), and batch/stream
    parity by tests/test_lineage_streaming.py."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id", F.session_window("ts", gap).alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events"))


def windowed_event_agg(events: DataFrame,
                       window: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window counts with watermark for late rows.
    Works on both batch and streaming frames (same code path)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("double")).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n", "sum_value"))
