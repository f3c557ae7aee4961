"""Structured Streaming surface over the events table.

The reference is strictly batch (SURVEY.md §2.3 "Streaming: none"); this is
the engine's streaming extension (§7 step 6): the same hourly windowed
aggregation as operators/events.events_hourly, expressed as a streaming query
with a watermark for late data. The batch path is the oracle-checked one; the
streaming twin is asserted against it in tests/test_streaming.py (same
result, file source + availableNow trigger).

At scale this is the standard Kafka/file-stream topology: source ->
event-time window + watermark -> stateful aggregation -> sink; state is keyed
by (window, event_type) and bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parallel_mapreduce_spark.operators.events import SESSION_GAP_S
from parallel_mapreduce_spark.operators.rank import top_k
from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.session import apply_runtime_conf
from parallel_mapreduce_spark.streaming.drain import drain, table_stream, unique_name

# Explicit schema: a streaming file source cannot infer. events.ts is a
# Parquet TIMESTAMP read as raw int64 (NANOS arrives that way under the
# nanosAsLong conf; MICROS is read as int64 by the long-typed schema) —
# decode_ts() turns either unit back into a timestamp.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos or micros since epoch
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def decode_ts(col: str = "ts"):
    """int64 epoch ts of either unit -> timestamp.

    The testdata generator has shipped events.ts as both TIMESTAMP(NANOS)
    and TIMESTAMP(MICROS) across rounds; the long-typed streaming schema
    surfaces the raw int64 either way. Branch on magnitude — epoch micros
    stay below 1e17 until the year 5138, epoch nanos exceed it from 1973 —
    so both encodings decode identically for any plausible event time.
    """
    raw = F.col(col)
    # Integer `div`, not float division: ns-epoch magnitudes (~1.7e18)
    # exceed double's 2^53 exact-integer range, so `raw / 1000` could be
    # off by one microsecond on some rows.
    micros = F.when(raw > F.lit(10**17), F.expr(f"`{col}` div 1000")).otherwise(raw)
    return F.timestamp_micros(micros.cast("long"))


def hourly_events_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming hourly (window, event_type) counts/sums with a watermark."""
    src = table_stream(spark, sf_dir, "events", EVENTS_SCHEMA).withColumn(
        "ts", decode_ts()
    )
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def run_hourly_stream_to_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stream to completion (availableNow) into a memory sink and
    return the materialized result. Complete output mode: with a one-shot
    batch the watermark never advances past the data, so append mode would
    hold every window open and emit nothing."""
    out, _ = drain(
        hourly_events_stream(spark, sf_dir), "complete", name="stream_events_hourly"
    )
    return out


def run_hourly_stream_to_parquet(
    spark: SparkSession, sf_dir: str, out_path: str
) -> DataFrame:
    """Stream -> foreachBatch -> parquet: the production sink escape hatch.

    foreachBatch hands each micro-batch to arbitrary batch-writer code (here
    an overwrite snapshot of the complete aggregation state; real pipelines
    do merges/upserts the same way). availableNow drains the source and
    terminates, so the final snapshot equals the batch aggregation — asserted
    in tests/test_streaming.py.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_path)

    drain(hourly_events_stream(spark, sf_dir), "complete", _sink)
    return spark.read.parquet(out_path)


def segment_share_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched with the (static,
    broadcast) customer dimension, aggregated per market segment.

    This is the standard streaming-enrichment topology: the static side is
    re-resolved per micro-batch; while it fits the broadcast threshold
    (always, at test scale) it is broadcast to the stream tasks, so the
    stream side never shuffles for the join, and only the post-join
    aggregation is stateful. No forced hint — a customer table too large to
    broadcast degrades to a shuffle join rather than an OOM.
    Runs to completion via availableNow into a memory sink;
    asserted equal to the batch twin (operators/events.events_user_segment)
    in tests/test_streaming.py.
    """
    src = table_stream(spark, sf_dir, "events", EVENTS_SCHEMA).select(
        "user_id", "event_type", "value"
    )
    cust = (
        spark.read.parquet(f"{sf_dir.rstrip('/')}/customer.parquet")
        .select("c_custkey", F.col("c_mktsegment").alias("segment"))
    )
    enriched = (
        src.join(cust, F.col("c_custkey") == F.col("user_id"))
        .groupBy("segment", "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    out, _ = drain(enriched, "complete", name="stream_segment_share")
    return out


# --------------------------------------------------------------------------
# Registered driver-checkable surface for the streaming pipelines above:
# after an availableNow run drains the one-shot source, the complete-mode
# snapshot equals the batch aggregation — so the batch SQL is a full value
# oracle for the streaming plan, same contract as stream_dedup_events.
# --------------------------------------------------------------------------
@query(
    "stream_events_hourly",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot run of the watermarked hourly windowed aggregation
    (hourly_events_stream) into a memory sink; equals the batch
    events_hourly."""
    return run_hourly_stream_to_memory(spark, sf_dir)


@query(
    "stream_segment_share",
    oracle="""
    SELECT c_mktsegment AS segment, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def stream_segment_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot run of the stream-static enrichment join
    (segment_share_stream) into a memory sink; equals the batch
    events_user_segment."""
    return segment_share_stream(spark, sf_dir)


def session_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: the native session_window operator under
    Structured Streaming — merging session state per user, watermark-bounded.
    State is one open session per (user, gap window); the watermark closes
    and evicts sessions whose end precedes it, which bounds state on an
    unbounded stream."""
    src = table_stream(spark, sf_dir, "events", EVENTS_SCHEMA).withColumn(
        "ts", decode_ts()
    )
    return (
        src.withWatermark("ts", "24 hours")
        .groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


@query(
    "stream_session_windows",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    ), m AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('microsecond', prev_ts, ts) > {SESSION_GAP_S * 1_000_000}
                  THEN 1 ELSE 0 END AS is_new
      FROM e
    ), s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM m
    )
    SELECT user_id,
           CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS session_start,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot run of the streaming sessionization into a memory sink.
    Complete mode: a one-shot batch never advances the watermark past the
    data, so append would emit nothing; the drained complete-mode snapshot
    equals the batch session_window result (asserted against the same
    recursive-sessionization oracle events_session_window uses)."""
    out, _ = drain(
        session_windows_stream(spark, sf_dir),
        "complete",
        name="stream_session_windows",
    )
    return out


@query(
    "stream_hourly_parquet_sink",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hourly_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch -> parquet sink path (run_hourly_stream_to_parquet)
    as a registered query: drains the source with availableNow, snapshots
    the complete-mode aggregation to parquet per batch, returns the final
    snapshot read back from disk — so the oracle checks the SINK contents,
    not just the in-memory result. The per-process sink dir is reused
    across invocations (each batch snapshot overwrites; no checkpoint, so
    no resume coupling between runs)."""
    from parallel_mapreduce_spark.sources.tables import sink_dir

    out = sink_dir("stream_sink")
    return run_hourly_stream_to_parquet(spark, sf_dir, out + "/agg")


@query(
    "stream_dual_sink_consistency",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 4) AS sum_value,
           TRUE AS sinks_agree
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_dual_sink_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sink foreachBatch fanout: each micro-batch's aggregate snapshot
    is written to TWO parquet sinks from one batch callback (metrics store +
    lake copy — the standard fanout when one streaming computation feeds
    several consumers). The returned frame full-outer-joins the read-back
    sinks and asserts row-level agreement, and the oracle pins the agreed
    values to the batch aggregate — so BOTH writers and the fanout's
    consistency are value-checked. Per-batch overwrite keeps the pattern
    idempotent under batch replay (the exactly-once recipe for snapshot
    sinks); an append sink would instead dedupe on batch_id downstream."""
    from parallel_mapreduce_spark.sources.tables import sink_dir

    base = sink_dir("stream_dual_sink")
    pa, pb = base + "/metrics", base + "/lake"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(pa)
        batch_df.write.mode("overwrite").parquet(pb)

    drain(hourly_events_stream(spark, sf_dir), "complete", _sink)
    a = spark.read.parquet(pa)
    b = spark.read.parquet(pb).select(
        F.col("hour_epoch").alias("h2"),
        F.col("event_type").alias("t2"),
        F.col("cnt").alias("cnt2"),
        F.col("sum_value").alias("sv2"),
    )
    j = a.join(
        b,
        (a.hour_epoch == b.h2) & (a.event_type == b.t2),
        "full_outer",
    )
    agree = (
        F.col("hour_epoch").isNotNull()
        & F.col("h2").isNotNull()
        & (F.col("cnt") == F.col("cnt2"))
        & (F.col("sum_value") == F.col("sv2"))
    )
    return j.select(
        "hour_epoch",
        "event_type",
        "cnt",
        "sum_value",
        agree.alias("sinks_agree"),
    )


# --------------------------------------------------------------------------
# Checkpoint RESUME: the durability half of Structured Streaming that the
# availableNow drain queries never exercise. Two runs share one
# checkpointLocation: run 1 sees half the source files, run 2 runs after
# the second half lands. The restored state store carries run 1's
# per-user aggregates into run 2, and numInputRows proves run 2 read ONLY
# the new file (correct totals alone cannot distinguish resume from
# reprocess-everything — a cold restart over both files also sums
# correctly — so the incremental-read fact is pinned as its own column).
# The sink is append-with-batch_id parquet; the final per-user row is the
# one from the LATEST batch (batch ids continue across restarts), which
# is the idempotent read side of an update-mode changelog sink.
# --------------------------------------------------------------------------
RESUME_SPLIT_DAY = "2024-01-15"


@query(
    "stream_resume_from_checkpoint",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value,
           TRUE AS resumed_incrementally
    FROM events
    GROUP BY user_id
    """,
)
def stream_resume_from_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil

    from parallel_mapreduce_spark.sources import load_table
    from parallel_mapreduce_spark.sources.tables import sink_dir

    apply_runtime_conf(spark)
    # Per-INVOCATION scratch (sink_dir is already per-process): a second
    # concurrent invocation in the same process (bench pass overlapping the
    # parity gate, threaded pytest) sharing one checkpointLocation/out dir
    # would race the other run's rmtree and report a spurious
    # resumed_incrementally=false. The sequence suffix gives every
    # invocation its own src/ckpt/out/stage quartet; the process-root
    # atexit cleanup still removes them all.
    base = sink_dir(unique_name("stream_resume"))
    src, ckpt, outp, stage = (
        base + "/src",
        base + "/ckpt",
        base + "/out",
        base + "/stage",
    )
    # Fresh scratch per invocation: a reused checkpoint would make rerun N>1
    # a no-op resume against an already-complete source.
    for d in (src, ckpt, outp, stage):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src, exist_ok=True)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    cutoff = F.lit(RESUME_SPLIT_DAY).cast("timestamp")
    first, second = ev.filter(F.col("ts") < cutoff), ev.filter(
        F.col("ts") >= cutoff
    )
    n1, n2 = first.count(), second.count()
    first.coalesce(1).write.mode("overwrite").parquet(src)

    def run_once() -> int:
        stream = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, value double"
            )
            .parquet(src)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("value").alias("total_raw"),
            )
        )

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(outp)

        # The drain's state_sized_shuffle n is the same on BOTH runs: the
        # shared checkpoint latches the state partition count at run 1,
        # and run 2 must reopen it with the identical count.
        _, q = drain(stream, "update", _sink, checkpointLocation=ckpt)
        return sum(
            int(p["numInputRows"]) for p in (q.recentProgress or [])
        )

    rows_run1 = run_once()
    # The second half LANDS in the source dir (new file, old untouched).
    second.coalesce(1).write.mode("overwrite").parquet(stage)
    for i, f in enumerate(sorted(glob.glob(stage + "/part-*.parquet"))):
        shutil.move(f, src + f"/late-{i}.parquet")
    rows_run2 = run_once()

    resumed = rows_run1 == n1 and rows_run2 == n2
    back = spark.read.parquet(outp)
    return (
        top_k(back, "user_id", [F.col("batch_id").desc()], 1, rank="_rk")
        .select(
            "user_id",
            "n_events",
            F.round("total_raw", 4).alias("total_value"),
            F.lit(resumed).alias("resumed_incrementally"),
        )
    )


# --------------------------------------------------------------------------
# LATE-DATA DROP ACCOUNTING (round 8) — the watermark's OTHER contract.
# Every streaming query above proves what the watermark EMITS (closed
# windows, final joins); none observed what it REFUSES: rows arriving
# after their window already closed are silently discarded, and the only
# record is the stateOperators' numRowsDroppedByWatermark counter. At
# 100 TB that counter IS the data-loss audit (a misconfigured upstream
# replaying a day-old partition must show up in monitoring, not vanish) —
# so this exhibit makes the counter itself a VALUE-CHECKED output.
#
# Replay design (deterministic three-way split on fixed boundaries):
#   batch 0 : B = events in [OLD_BOUND, NEW_BOUND)  — establishes the
#             watermark at max(B) - LATE_WM_S (~2 days before NEW_BOUND);
#   batch 1 : C = events at or after NEW_BOUND — arrive a batch late but
#             newer than the watermark: open windows, MUST be accepted;
#   batch 2 : A = events before OLD_BOUND — 16+ days below the
#             watermark: every row's window is long closed, MUST all be
#             dropped and counted. The margins are days wide, so the
#             drop decision never sits near a boundary.
# A arrives TWO batches after B deliberately: since SPARK-40925
# (Spark 3.4) stateful operators filter late records with the PREVIOUS
# batch's watermark (watermarkForLateEvents) while evicting with the
# current one — a row arriving in the very next batch after its window
# closed is admitted, immediately evicted, and emitted (measured here:
# 158 expired windows re-emitted, counter 0, when A rode in batch 1).
# Only from the second batch on is the late filter armed; the replay
# encodes that engine contract, and the one-batch-grace behavior is
# pinned by the unit test.
# The run emits closed hourly windows (append mode) and the measured
# counter; the oracle replays both EXACTLY: the counter equals A's
# DISTINCT closed windows (the metric counts state-operator input =
# post-combine partials; one task per replay file makes that the window
# count — measured grain, documented in the fn), C's acceptance is
# value-checked through the aggregate itself, and the output is
# restricted to windows provably final (end <= max(ts) - delay - slack,
# the LOJ measured-cutoff discipline — computed from DATA on both
# engines).
# --------------------------------------------------------------------------
LATE_WM_S = 172_800  # 2-day watermark delay
LATE_SLACK_S = 60
LATE_OLD_BOUND = "2024-01-10"  # A: ts < this -> replayed late, must drop
LATE_NEW_BOUND = "2024-01-28"  # C: ts >= this -> late but accepted


def _late_replay_src(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Three-file replay source: file 0 = B (on-time), file 1 = C
    (late-but-open), file 2 = A (too late), mtimes increasing so
    maxFilesPerTrigger=1 replays them as three micro-batches. Returns
    (src_dir, |B|). Built once per (process, sf_dir, source-content
    fingerprint) and reused; a regenerated dataset rebuilds."""
    import glob
    import json
    import os
    import shutil

    from parallel_mapreduce_spark.sources.tables import load_table, sink_dir

    root = sink_dir("late_drop_src")
    tag = sf_dir.rstrip("/").replace("/", "_").replace(".", "_")
    src_dir = os.path.join(root, "src" + tag)
    done = os.path.join(src_dir, "_DONE")
    # The reuse marker is keyed on a CONTENT fingerprint of the source
    # events files, not just the sf_dir path: a regenerated dataset at
    # the same path must rebuild the replay files, or the stream replays
    # stale data against a fresh oracle and the mismatch surfaces as a
    # baffling hash error instead of a rebuild. Round-10 review fix: the
    # fingerprint hashes ACTUAL BYTES (head + parquet-footer tail of each
    # file) alongside path+size — size+mtime alone would reuse stale
    # replays against a deterministic regeneration that restores
    # timestamps (mtime is deliberately NOT keyed: a timestamp-preserving
    # copy with identical bytes is the same data).
    import hashlib

    paths = sorted(glob.glob(os.path.join(sf_dir, "events*.parquet")))
    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            # Directory-layout dataset: fingerprint the PART FILES, not
            # the directory entry — an in-place regeneration (same part
            # names) leaves the dirent's size/mtime unchanged.
            files.extend(sorted(glob.glob(os.path.join(p, "*"))))
        else:
            files.append(p)

    def _content_digest(path: str) -> str:
        h = hashlib.sha256()
        size = os.path.getsize(path)
        with open(path, "rb") as fh:
            h.update(fh.read(4096))  # header + first row group start
            if size > 8192:
                fh.seek(size - 4096)
            h.update(fh.read(4096))  # parquet footer: schema + rg stats
        return h.hexdigest()

    fp = sorted(
        (os.path.relpath(f, sf_dir), os.path.getsize(f), _content_digest(f))
        for f in files
    )
    fp_key = json.dumps(fp)
    if os.path.exists(done):
        state = json.load(open(done))
        if state.get("fp") == fp_key:
            return src_dir, state["n_b"]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.to_timestamp_ltz("ts").alias("ts"),  # LTZ: == NTZ wall clock
        "user_id",                             # under the UTC session
        "value",
    )
    old_b = F.lit(LATE_OLD_BOUND).cast("timestamp")
    new_b = F.lit(LATE_NEW_BOUND).cast("timestamp")
    b = ev.filter((F.col("ts") >= old_b) & (F.col("ts") < new_b))
    c = ev.filter(F.col("ts") >= new_b)
    a = ev.filter(F.col("ts") < old_b)
    n_b = b.count()
    tmp = os.path.join(root, "tmp" + tag)
    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)
    base = 1_000_000_000
    for i, part in enumerate((b, c, a)):
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = sorted(glob.glob(tmp + "/part-*.parquet"))[0]
        dst = os.path.join(src_dir, f"events_{i:04d}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(tmp, ignore_errors=True)
    json.dump({"n_b": n_b, "fp": fp_key}, open(done, "w"))
    return src_dir, n_b


@query(
    "stream_late_drop_accounting",
    oracle=f"""
    WITH a AS (SELECT * FROM events
               WHERE ts < TIMESTAMP '{LATE_OLD_BOUND}'),
    c AS (SELECT * FROM events WHERE ts >= TIMESTAMP '{LATE_NEW_BOUND}'),
    surv AS (
      SELECT * FROM events WHERE ts >= TIMESTAMP '{LATE_OLD_BOUND}'
    ),
    cut AS (
      SELECT MAX(ts) - INTERVAL {LATE_WM_S + LATE_SLACK_S} SECONDS AS t
      FROM events
    )
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           (SELECT CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT)
            FROM a) AS n_late_windows_dropped,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a)
             + (SELECT CAST(COUNT(*) AS BIGINT) FROM c)
             AS n_late_rows_replayed
    FROM surv
    GROUP BY 1
    HAVING hour_epoch + 3600 <= (SELECT epoch(t) FROM cut)
    """,
)
def stream_late_drop_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closed hourly windows from the three-batch late-replay run, with
    the engine's numRowsDroppedByWatermark counter (= A's distinct
    closed windows, see the metric-grain note below) and the replayed
    late-row total as value-checked columns."""
    import glob
    import os

    from parallel_mapreduce_spark.session import scoped_conf
    from parallel_mapreduce_spark.sources.tables import load_table

    apply_runtime_conf(spark)
    src_dir, n_b = _late_replay_src(spark, sf_dir)
    # The oracle pin (counter == A's distinct closed windows) requires
    # each replay file to scan as EXACTLY ONE split: the counter counts
    # per-(window, task) partials, so a file split N ways would count
    # each dropped window up to N times. Spark's actual split size is
    #   maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    #                                              totalBytes/minPartitionNum))
    # so raising maxPartitionBytes ALONE never lifts the split above
    # max(~4 MB default openCost, bytesPerCore) — a replay file past that
    # would still byte-range split (it survives today only because a
    # coalesce(1) file under parquet.block.size has one row group).
    # Enforce the precondition for real: scope BOTH maxPartitionBytes and
    # openCostInBytes above twice the largest replay file, which pins
    # maxSplitBytes = one_split_bytes >= 2x any file.
    max_bytes = max(
        os.path.getsize(f) for f in glob.glob(src_dir + "/*.parquet")
    )
    one_split_bytes = str(max(134_217_728, 2 * max_bytes))
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    agg = (
        stream.withWatermark("ts", f"{LATE_WM_S} seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("value").alias("sum_raw"),
        )
    )
    with scoped_conf(
        spark, "spark.sql.files.maxPartitionBytes", one_split_bytes
    ), scoped_conf(
        spark, "spark.sql.files.openCostInBytes", one_split_bytes
    ):
        closed, q = drain(agg, "append", name="stream_late_drop_accounting")
    progress = q.recentProgress or []
    # METRIC GRAIN, measured not assumed: numRowsDroppedByWatermark
    # counts rows reaching the STATE operator — i.e. post-map-side-
    # combine PARTIAL aggregates, one per (window, task). Each replay
    # batch is a single coalesced file read as ONE split (enforced by
    # the scoped maxPartitionBytes + openCostInBytes pair above, which
    # pins maxSplitBytes itself), so the counter equals exactly
    # A's count of DISTINCT closed windows, which is what the oracle
    # pins. (Raw-row drop counts are not observable from the
    # aggregation metric; the acceptance of C's raw rows is value-checked
    # through the window aggregate itself — the oracle's surv includes
    # C, so a wrongly-dropped C row would break n_events/sum_value.)
    n_dropped = sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in progress
        for op in p["stateOperators"]
    )
    n_input = sum(int(p["numInputRows"]) for p in progress)
    n_replayed = n_input - n_b
    # Provably-final cutoff measured from the DATA (the LOJ discipline):
    # every window ending at or before max(ts) - delay - slack has been
    # flushed by the final no-data commit, whatever the exact eviction
    # strictness at the boundary.
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        (
            F.unix_timestamp(F.max(F.to_timestamp_ltz("ts")))
            - F.lit(LATE_WM_S + LATE_SLACK_S)
        ).alias("t")
    )
    return (
        closed.crossJoin(F.broadcast(cut))
        .filter(F.unix_timestamp(F.col("w.end")) <= F.col("t"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias(
                "hour_epoch"
            ),
            "n_events",
            F.round("sum_raw", 4).alias("sum_value"),
            F.lit(n_dropped).cast("long").alias("n_late_windows_dropped"),
            F.lit(n_replayed).cast("long").alias("n_late_rows_replayed"),
        )
    )
