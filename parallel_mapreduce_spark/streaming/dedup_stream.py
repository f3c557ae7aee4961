"""Streaming deduplication: dropDuplicatesWithinWatermark over events.

The streaming twin of the exact-dedup operator (functions/dedup.py) — the
at-least-once-delivery guard every streaming ingestion pipeline needs. State
holds one entry per key seen within the watermark horizon; keys older than
the watermark are evicted, which is what bounds state at 100 TB/day-scale
ingest (plain ``dropDuplicates`` on a stream would grow state forever).

Correctness contract: the key columns are the only output, so the result is
exactly ``SELECT DISTINCT`` over the same keys — fully oracle-checkable.
The driver testdata is a single parquet file per table, so an availableNow
run is one micro-batch and the watermark never evicts mid-run; on a real
multi-batch stream a duplicate arriving later than the watermark delay after
its first occurrence could re-emit (the documented, bounded-state tradeoff).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.sources.tables import table_bytes
from parallel_mapreduce_spark.streaming.drain import drain, table_stream
from parallel_mapreduce_spark.streaming.events_stream import EVENTS_SCHEMA, decode_ts

DEDUP_KEYS = ["user_id", "event_type"]


def dedup_events_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "24 hours"
) -> DataFrame:
    """First-seen (user_id, event_type) pairs with watermark-bounded state."""
    src = table_stream(spark, sf_dir, "events", EVENTS_SCHEMA).withColumn(
        "ts", decode_ts()
    )
    return (
        src.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(DEDUP_KEYS)
        .select(*DEDUP_KEYS)
    )


@query(
    "stream_dedup_events",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot (availableNow) run of the streaming dedup into a memory sink.

    Append mode: dropDuplicatesWithinWatermark emits each key's first
    occurrence immediately (it does not wait for the watermark), so a drained
    one-shot run yields every distinct key exactly once."""
    out, _ = drain(
        dedup_events_stream(spark, sf_dir),
        "append",
        name="stream_dedup_events",
        source_bytes=table_bytes(sf_dir, "events"),
    )
    return out.orderBy(*DEDUP_KEYS)
