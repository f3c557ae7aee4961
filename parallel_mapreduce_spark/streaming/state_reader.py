"""Streaming state introspection: the State Store batch data source.

Spark 4 exposes every streaming checkpoint's state store as a BATCH data
source (``spark.read.format("statestore")``) plus a ``state-metadata``
companion listing the stateful operators and their partition layout. That
turns the most opaque piece of a streaming pipeline — the keyed state the
engine folds micro-batches into — into an ordinary queryable DataFrame:
the operational tool for debugging a corrupt aggregate, auditing what a
pipeline "knows" about a key (GDPR), or bootstrapping a new pipeline from
an old one's state.

The exhibit here closes the loop the stateful module's batch-equality
contract (`stateful.py` docstring) asserts from the OUTSIDE: run a
streaming ``groupBy(user_id).agg(...)`` to a checkpoint, then read the
final state back through the statestore source and oracle it against the
plain batch aggregate over the same events. If the state the engine
persisted diverged from the batch truth, this query — not just a sink
snapshot — would catch it.

Scale shape: the reader is partition-parallel (one task per state-store
partition, `numPartitions` in state-metadata), never a driver-side dump,
so auditing a 10k-partition production checkpoint is an ordinary
distributed scan. Reference parity: the reference has no streaming or
state surface at all (SURVEY.md §2.3 gap category "Streaming"); this is
pure driver-mandated extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.streaming.drain import drain, table_stream, unique_name
from parallel_mapreduce_spark.streaming.events_stream import EVENTS_SCHEMA


def run_user_totals_to_checkpoint(spark: SparkSession, sf_dir: str) -> str:
    """One-shot streaming ``groupBy(user_id).agg(count, sum)`` over the
    events file into a noop sink, persisting state under a fresh
    per-invocation checkpoint; returns the checkpoint path."""
    import os
    import shutil

    from parallel_mapreduce_spark.sources.tables import sink_dir, table_bytes

    ckpt = sink_dir(unique_name("statestore_read"))
    # Fresh checkpoint per invocation: a reused one would make rerun N>1 a
    # no-op resume with an already-final state (still correct) but with
    # maxBatchId drifting upward — keep the exhibit deterministic instead.
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(ckpt, exist_ok=True)
    src = table_stream(spark, sf_dir, "events", EVENTS_SCHEMA).select(
        "user_id", "value"
    )
    agg = src.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    drain(
        agg,
        "update",
        "noop",
        checkpointLocation=ckpt,
        source_bytes=table_bytes(sf_dir, "events"),
    )
    return ckpt


@query(
    "statestore_read_user_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def statestore_read_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted streaming-aggregate state, read back as a batch DataFrame.

    The statestore source returns ``key`` / ``value`` structs mirroring the
    operator's grouping key and aggregation buffer (here ``key.user_id``,
    ``value.count`` / ``value.sum`` — Spark's internal buffer field names for
    count/sum aggregates) plus ``partition_id``. The oracle is the plain
    batch aggregate: after an availableNow drain, the engine's persisted
    state per user IS the batch truth, buffer-for-buffer.
    """
    ckpt = run_user_totals_to_checkpoint(spark, sf_dir)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n_events"),
        F.round(F.col("value.sum"), 4).alias("total_value"),
    )
