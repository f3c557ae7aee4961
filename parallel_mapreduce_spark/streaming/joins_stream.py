"""Stream-stream join: click→purchase attribution over two event streams.

Completes the streaming surface's join kind (windowed agg, stateful,
dedup-within-watermark already exist): two streams of the same source,
inner-joined on user with an event-time range predicate. Structured
Streaming buffers each side's rows in state until the other side's
watermark passes the join window — the time-bound condition is what makes
the state BOUNDED (an unconstrained stream-stream equi-join would buffer
both streams forever), which is the whole 100 TB/day story for this
operator.

Oracle: the identical join expressed as batch SQL over the same table —
for an availableNow run that drains the source, streaming append output
equals the batch join exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.sources.tables import table_bytes
from parallel_mapreduce_spark.streaming.drain import drain, table_stream
from parallel_mapreduce_spark.streaming.events_stream import EVENTS_SCHEMA, decode_ts

ATTRIBUTION_WINDOW_S = 1800  # purchase within 30 min of the click


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table_stream(spark, sf_dir, "events", EVENTS_SCHEMA).withColumn(
        "ts", decode_ts()
    )


def click_purchase_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """(user_id, click_id, purchase_id, gap_s) pairs where the purchase lands
    in [click_ts, click_ts + ATTRIBUTION_WINDOW_S]."""
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (
            purchases.purchase_ts
            <= clicks.click_ts + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS")
        )
    )
    return clicks.join(purchases, cond, "inner").select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts"))
        .cast("long")
        .alias("gap_s"),
    )


@query(
    "stream_click_attribution",
    oracle=f"""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_s
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot (availableNow) run of the stream-stream join into a memory
    sink. Append mode: a joined pair is emitted once both inputs are
    buffered; draining the source flushes every matched pair, so the result
    equals the batch join."""
    out, _ = drain(
        click_purchase_stream(spark, sf_dir),
        "append",
        name="stream_click_attribution",
        source_bytes=table_bytes(sf_dir, "events"),
    )
    return out


# --------------------------------------------------------------------------
# LEFT-OUTER stream-stream join — clicks that never converted. Unlike the
# inner join above, outer results only materialize when the WATERMARK
# passes a row's eviction bound (click_ts + join window + delay): Spark
# must prove no future purchase can match before it emits the null side.
# A single-batch availableNow run would never advance the watermark
# mid-stream, so this query REPLAYS the event history as one file per
# LOJ_BUCKET_DAYS-day bucket (mtime-ordered, maxFilesPerTrigger=1) — a real multi-batch
# run in which state builds, matches emit, the watermark advances batch
# over batch, and the final no-data batch flushes evictable non-matches.
#
# Determinism: the final watermark is min over BOTH sides of (that side's
# max event time) minus the delay — measured, not assumed: the run below
# reports exactly min(last click, last purchase) - delay. Rows younger
# than (that watermark - join window - slack) may still sit in state when
# the stream drains, so BOTH the engine output and the oracle restrict to
# clicks at or below the cutoff — the bound the watermark semantics
# guarantee are final.
# --------------------------------------------------------------------------
LOJ_WATERMARK_S = 600
LOJ_BUCKET_DAYS = 8
LOJ_SLACK_S = 60
LOJ_CUTOFF_S = LOJ_WATERMARK_S + ATTRIBUTION_WINDOW_S + LOJ_SLACK_S


def _bucketed_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot `events` as one parquet file per LOJ_BUCKET_DAYS event-time
    bucket, mtimes strictly increasing with the bucket index, so the file
    stream source replays history in event-time order across micro-batches.
    Built once per (process, sf_dir) and reused (bench repeats, parity)."""
    import glob
    import os
    import shutil

    from parallel_mapreduce_spark.sources.tables import load_table, sink_dir

    root = sink_dir("loj_stream_src")
    tag = sf_dir.rstrip("/").replace("/", "_").replace(".", "_")
    src_dir = os.path.join(root, "src" + tag)
    done = os.path.join(src_dir, "_DONE")
    if os.path.exists(done):
        return src_dir
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    bucket = F.floor(
        F.unix_timestamp("ts") / (86400 * LOJ_BUCKET_DAYS)
    ).cast("long")
    tmp = os.path.join(root, "tmp" + tag)
    (
        ev.withColumn("bucket", bucket)
        .repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)
    bdirs = sorted(
        glob.glob(tmp + "/bucket=*"),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    base = 1_000_000_000  # arbitrary fixed epoch; only relative order matters
    for i, bd in enumerate(bdirs):
        for j, psrc in enumerate(sorted(glob.glob(bd + "/part-*.parquet"))):
            dst = os.path.join(src_dir, f"events_{i:04d}_{j}.parquet")
            shutil.copy(psrc, dst)
            os.utime(dst, (base + i, base + i))
    open(done, "w").close()
    return src_dir


@query(
    "stream_click_no_purchase",
    oracle=f"""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_s
    FROM events c
    LEFT JOIN events p
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS
    WHERE c.event_type = 'click'
      AND c.ts <= LEAST(
            (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
            (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
          - INTERVAL {LOJ_CUTOFF_S} SECONDS
    """,
)
def stream_click_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_mapreduce_spark.sources.tables import load_table

    src_dir = _bucketed_stream_src(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    schema = ev.select("event_id", "ts", "user_id", "event_type").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", f"{LOJ_WATERMARK_S} seconds")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", f"{LOJ_WATERMARK_S} seconds")
    )
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (
            purchases.purchase_ts
            <= clicks.click_ts + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS")
        )
    )
    joined = clicks.join(purchases, cond, "left_outer").select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts"))
        .cast("long")
        .alias("gap_s"),
        "click_ts",
    )
    pairs, _ = drain(
        joined,
        "append",
        name="stream_click_no_purchase",
        source_bytes=table_bytes(sf_dir, "events"),
    )
    cutoff = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).cast("timestamp")
            - F.expr(f"INTERVAL {LOJ_CUTOFF_S} SECONDS")
        ).alias("cutoff")
    )
    return (
        pairs.crossJoin(F.broadcast(cutoff))
        .filter(F.col("click_ts") <= F.col("cutoff"))
        .select("user_id", "click_id", "purchase_id", "gap_s")
    )


# --------------------------------------------------------------------------
# CHAINED STATEFUL OPERATORS (Spark 3.4+/SPARK-42376): a stream-stream
# time-interval join feeding a downstream event-time window aggregation in
# ONE streaming query — two stateful operators in the same plan, the shape
# older Structured Streaming versions rejected outright. The engine must
# propagate the watermark THROUGH the join (the join's output watermark is
# delayed by its buffering bound) for the downstream aggregation to know
# when a window can close; append mode then emits exactly the closed
# windows.
#
# Same multi-batch replay + measured-cutoff discipline as
# stream_click_no_purchase above: the bucketed source advances the
# watermark batch over batch, and BOTH the engine output and the oracle
# restrict to windows whose END is at or below
# min(last click, last purchase) - LOJ_CUTOFF_S — the bound under which
# the propagated watermark semantics guarantee the window was emitted
# (watermark delay + the join's interval bound + slack). Windows younger
# than the cutoff may or may not have flushed when the stream drained;
# both sides exclude them, keeping the value check exact.
# --------------------------------------------------------------------------
def chained_join_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chained-stateful streaming frame (join -> window agg), shared
    with tests/test_streaming.py's state-operator pin."""
    src_dir = _bucketed_stream_src(spark, sf_dir)
    from parallel_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    schema = ev.select("event_id", "ts", "user_id", "event_type").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", f"{LOJ_WATERMARK_S} seconds")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", f"{LOJ_WATERMARK_S} seconds")
    )
    cond = (
        (clicks.user_id == purchases.p_user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (
            purchases.purchase_ts
            <= clicks.click_ts
            + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS")
        )
    )
    return (
        clicks.join(purchases, cond, "inner")
        .groupBy(F.window("purchase_ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.unix_timestamp("purchase_ts")
                - F.unix_timestamp("click_ts")
            )
            .cast("long")
            .alias("sum_gap_s"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            F.col("w.end").alias("hour_end"),
            "n_pairs",
            "sum_gap_s",
        )
    )


def run_chained_join_hourly(spark: SparkSession, sf_dir: str):
    """Drain the chained plan into a memory sink; returns (the emitted
    windows, final StreamingQuery progress dict) — progress exposes the
    per-batch stateOperators metrics the unit test pins."""
    hourly, q = drain(
        chained_join_hourly_stream(spark, sf_dir),
        "append",
        name="stream_chained_join_hourly",
        source_bytes=table_bytes(sf_dir, "events"),
    )
    return hourly, q.lastProgress


@query(
    "stream_chained_join_hourly",
    oracle=f"""
    WITH cut AS (
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL {LOJ_CUTOFF_S} SECONDS AS cutoff
    )
    SELECT CAST(epoch(date_trunc('hour', p.ts)) AS BIGINT) AS hour_epoch,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(date_diff('second', c.ts, p.ts)) AS BIGINT) AS sum_gap_s
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS
    CROSS JOIN cut
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND date_trunc('hour', p.ts) + INTERVAL 1 HOUR <= cut.cutoff
    GROUP BY 1
    """,
)
def stream_chained_join_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-batch replay of click->purchase attribution JOINED then
    WINDOWED in one streaming plan (two chained stateful operators);
    emitted hourly pair counts equal the batch join+group-by on every
    window the measured cutoff proves closed."""
    from parallel_mapreduce_spark.sources.tables import load_table

    hourly, _ = run_chained_join_hourly(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).cast("timestamp")
            - F.expr(f"INTERVAL {LOJ_CUTOFF_S} SECONDS")
        ).alias("cutoff")
    )
    return (
        hourly.crossJoin(F.broadcast(cutoff))
        .filter(F.col("hour_end") <= F.col("cutoff"))
        .select("hour_epoch", "n_pairs", "sum_gap_s")
    )
