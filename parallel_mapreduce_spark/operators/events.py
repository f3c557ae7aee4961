"""Event-time operators over the `events` table (batch plans).

The reference is strictly batch with no time notion (one `MR_Run` per process,
``src/mapreduce.c:316-322``); these queries cover the event-time category from
SURVEY.md §2.3: tumbling + sliding windows, gap-based sessionization, and JSON
property extraction. The streaming twins (same window logic under Structured
Streaming with watermarks) live in ``parallel_mapreduce_spark.streaming``; the
batch path is the oracle-checked one, per SURVEY.md §7 step 6.

Timestamps cross the oracle comparison as epoch seconds (BIGINT) — never raw
timestamp objects — so engine formatting/timezone differences can't bite; the
session timezone is pinned to UTC by session.apply_runtime_conf, which the
registry's entry applies before every query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parallel_mapreduce_spark.operators.rank import top_k
from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.sources import load_table

SESSION_GAP_S = 1800
# Gap/ordering comparisons in the sessionize/funnel family run at the
# engine's full event-time precision (microseconds — unix_micros /
# epoch_us on both sides); only REPORTED epochs/durations stay at the
# second grain. This closes the round-2 second-truncation carve-out
# (a click 59 ms after a purchase in the same second now orders
# correctly) and makes the lag-based oracles semantically identical to
# the native session_window operator, which always merged at full
# precision.
SESSION_GAP_US = SESSION_GAP_S * 1_000_000


def _event_us() -> Column:
    """Event time in epoch microseconds, the grain of every gap and
    ordering comparison in the sessionize/funnel family."""
    return F.unix_micros(F.col("ts").cast("timestamp"))


def sessionized(ev: DataFrame) -> DataFrame:
    """``ev`` plus ``session_id``: each user's events in (ts, event_id)
    order, a new session after a gap above SESSION_GAP_US; the id is the
    running count of session starts (a lag, a split, a running sum)."""
    w_order = W.partitionBy("user_id").orderBy("ts", "event_id")
    usec = _event_us()
    prev_usec = F.lag(usec).over(w_order)
    is_new = F.when(
        prev_usec.isNull() | ((usec - prev_usec) > SESSION_GAP_US), 1
    ).otherwise(0)
    return ev.withColumn(
        "session_id",
        F.sum(is_new)
        .over(w_order.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long"),
    )


# --------------------------------------------------------------------------
# Tumbling window: hourly counts + sums per event type.
# --------------------------------------------------------------------------
@query(
    "events_hourly",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    headline=True,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


# --------------------------------------------------------------------------
# Sliding window: 1 hour window, 30 min slide (each event lands in exactly
# two windows). Spark's window() is epoch-aligned; the oracle enumerates the
# same two slide starts arithmetically.
# --------------------------------------------------------------------------
@query(
    "events_sliding_window",
    oracle="""
    SELECT win_start, COUNT(*) AS cnt, ROUND(SUM(value), 4) AS sum_value
    FROM (
      SELECT unnest([CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT),
                     CAST(floor(epoch(ts) / 1800) * 1800 - 1800 AS BIGINT)]) AS win_start,
             value
      FROM events
    )
    GROUP BY win_start
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"), "cnt", "sum_value"
        )
    )


# --------------------------------------------------------------------------
# Gap-based sessionization: a new session starts after >30 min of silence.
# Classic two-window formulation (lag -> boundary flag -> running sum), all
# JVM-side; at scale this is one shuffle on user_id reused by both windows.
# --------------------------------------------------------------------------
@query(
    "events_sessionize",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    ), m AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('microsecond', prev_ts, ts) > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e
    ), s AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM m
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS start_epoch,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
    FROM s GROUP BY 1, 2
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sessionized(ev).groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("start_epoch"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("duration_s"),
    )


# --------------------------------------------------------------------------
# Semi-structured props: JSON extraction + aggregation.
# --------------------------------------------------------------------------
@query(
    "events_json_props",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("cnt"), F.round(F.avg(k), 4).alias("avg_k")
    )


# --------------------------------------------------------------------------
# Semi-structured props via Spark 4 VARIANT (parse once, typed extraction):
# the scale path for heterogeneous event properties — VARIANT stores a
# shredded binary form, so repeated field access skips re-parsing the JSON
# text per expression (get_json_object re-parses per call), and unknown /
# missing fields degrade to NULL via try_variant_get instead of erroring.
# Same oracle surface as JSON-text extraction, so fully value-checked.
# --------------------------------------------------------------------------
@query(
    "events_props_variant",
    oracle="""
    SELECT event_type,
           COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k
    FROM events
    GROUP BY event_type
    """,
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.max(k).alias("max_k"),
        F.sum(k).cast("long").alias("sum_k"),
    )


# --------------------------------------------------------------------------
# Share-of-total via an unpartitioned window over a pre-aggregated frame
# (the window input is |event_type| rows, so the empty partition is fine).
# --------------------------------------------------------------------------
@query(
    "events_type_share",
    oracle="""
    SELECT event_type, cnt,
           ROUND(cnt * 1.0 / SUM(cnt) OVER (), 4) AS share
    FROM (SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY 1)
    """,
)
def events_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
    w = W.partitionBy()
    return counts.select(
        "event_type",
        "cnt",
        F.round(F.col("cnt") * F.lit(1.0) / F.sum("cnt").over(w), 4).alias("share"),
    )


# --------------------------------------------------------------------------
# Semi-structured props as a real MapType (SURVEY.md §1.2: events.props JSON
# -> MapType via from_json) — keys exploded and aggregated. Unlike the
# get_json_object path above, this handles arbitrary/unknown key sets.
# --------------------------------------------------------------------------
@query(
    "events_props_map",
    oracle="""
    WITH kv AS (
      SELECT unnest(json_keys(props)) AS prop_key, props FROM events
    )
    SELECT prop_key,
           COUNT(*) AS n_events,
           ROUND(AVG(CAST(json_extract_string(props, '$.' || prop_key)
                          AS DOUBLE)), 4) AS avg_value
    FROM kv GROUP BY prop_key
    """,
)
def events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    props = F.from_json("props", "map<string,string>")
    return (
        ev.select(F.explode(props).alias("prop_key", "prop_val"))
        .groupBy("prop_key")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg(F.col("prop_val").cast("double")), 4).alias("avg_value"),
        )
    )


# --------------------------------------------------------------------------
# Native session windows: the same 30-min-gap sessionization as
# events_sessionize, but via Spark's built-in session_window operator (one
# hash-agg with merging session state instead of two analytic windows).
#
# Boundary semantics, measured (Spark 4.1, tests/test_events_boundary.py):
# session_window MERGES an event arriving exactly SESSION_GAP_S after the
# previous one — the merge condition is ts <= current session end — which
# is the same `gap > SESSION_GAP_S` splitting convention events_sessionize
# uses. The fixture test pins both surfaces on an explicit exact-gap event
# so any future change in the native operator's boundary rule surfaces
# as a test failure rather than a silent oracle drift. The lag-based
# oracle compares gaps at MICROSECOND precision — the native operator
# always merged at full precision, so the oracle must too.
# --------------------------------------------------------------------------
@query(
    "events_session_window",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    ), m AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('microsecond', prev_ts, ts) > {SESSION_GAP_US}
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
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
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


# --------------------------------------------------------------------------
# Stream-enrichment shape: events joined to the customer dimension
# (user_id -> c_custkey), aggregated per market segment. customer scales
# with the data, so no broadcast hint: the size threshold + AQE broadcast
# it while it fits (it does at every test sf) and shuffle when it doesn't.
# The streaming twin (same join against readStream) is
# streaming/events_stream.py::segment_share_stream, asserted equal to this
# batch plan in tests/test_streaming.py.
# --------------------------------------------------------------------------
@query(
    "events_user_segment",
    oracle="""
    SELECT c_mktsegment AS segment, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def events_user_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    return (
        ev.join(cust, F.col("c_custkey") == F.col("user_id"))
        .groupBy("segment", "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


# --------------------------------------------------------------------------
# Session funnel: per (user, session), did a click convert to a purchase
# later in the same session? The standard product-analytics funnel, built on
# the same lag->boundary->running-sum sessionization as events_sessionize —
# one shuffle on user_id shared by both windows, then a per-session
# conditional aggregation (no extra shuffle: session_id is a refinement of
# the user_id partitioning).
# --------------------------------------------------------------------------
@query(
    "events_session_funnel",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts, event_type,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    ), m AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('microsecond', prev_ts, ts) > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e
    ), s AS (
      SELECT user_id, ts, event_type,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM m
    )
    SELECT user_id, session_id,
           CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
             AS n_clicks,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
             AS n_purchases,
           -- full-precision comparison (micros) on BOTH sides; see the
           -- SESSION_GAP_US note at the top of this module
           CAST(CASE WHEN MIN(CASE WHEN event_type = 'click'
                                   THEN epoch_us(ts) END)
                          <= MAX(CASE WHEN event_type = 'purchase'
                                      THEN epoch_us(ts) END)
                     THEN 1 ELSE 0 END AS BIGINT) AS converted
    FROM s GROUP BY 1, 2
    """,
)
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_id, n_clicks, n_purchases, converted): converted=1
    when the session's first click precedes (or ties) its last purchase —
    NULL-safe on both sides, so click-free or purchase-free sessions are 0."""
    ev = load_table(spark, sf_dir, "events")
    usec = _event_us()
    click_sec = F.when(F.col("event_type") == "click", usec)
    purchase_sec = F.when(F.col("event_type") == "purchase", usec)
    first_click = F.min(click_sec)
    last_purchase = F.max(purchase_sec)
    return sessionized(ev).groupBy("user_id", "session_id").agg(
        F.count(click_sec).alias("n_clicks"),
        F.count(purchase_sec).alias("n_purchases"),
        F.when(first_click <= last_purchase, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("converted"),
    )


# --------------------------------------------------------------------------
# SCD2-style validity intervals: each user's event stream becomes
# effective-from/effective-to rows (half-open [from, to); the latest event
# per user stays open with NULL effective_to) — the standard
# change-data-capture -> warehouse-dimension build. One LEAD window over the
# same (user_id ORDER BY ts, event_id) shuffle the sessionization family
# uses; entirely JVM-side.
# --------------------------------------------------------------------------
@query(
    "events_scd2_intervals",
    oracle="""
    SELECT user_id, event_id, event_type,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS effective_from,
           CAST(epoch(date_trunc('second',
                LEAD(ts) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)))
                AS BIGINT) AS effective_to
    FROM events
    """,
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp("ts").alias("effective_from"),
        F.unix_timestamp(F.lead("ts").over(w)).alias("effective_to"),
    )


INCR_CUTOFF = "2024-01-20 00:00:00"  # "already aggregated" vs "new batch"


# --------------------------------------------------------------------------
# Incremental view maintenance: the hourly aggregate is maintained as
# OLD-partial ∪ NEW-partial -> merge, instead of recomputing over all
# history — sum/count merge associatively, so the merged view must equal
# the from-scratch aggregate (which is exactly what the oracle computes).
# At 100 TB this is the difference between touching one day of new data
# and re-scanning the corpus: the old side would be a stored aggregate,
# and only the delta is scanned+aggregated. The merge itself shuffles
# GROUP-sized frames, never events.
# --------------------------------------------------------------------------
@query(
    "events_hourly_merge_incremental",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(INCR_CUTOFF).cast("timestamp")
    hour = F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch")

    def partial(df: DataFrame) -> DataFrame:
        # Merge-able partials: raw sum + count (round only after the merge —
        # rounding is not associative, merging rounded partials drifts).
        return df.groupBy(hour, "event_type").agg(
            F.count("*").alias("cnt"), F.sum("value").alias("sv")
        )

    old_agg = partial(ev.filter(F.col("ts") < cutoff))
    new_agg = partial(ev.filter(F.col("ts") >= cutoff))
    merged = (
        old_agg.unionByName(new_agg)
        .groupBy("hour_epoch", "event_type")
        .agg(F.sum("cnt").alias("cnt"), F.round(F.sum("sv"), 4).alias("sum_value"))
    )
    return merged


# --------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov): per user-ordered
# stream, count prev_type -> type transitions and each row's share of its
# source state's outgoing mass. One window shuffle on user_id (shared shape
# with the sessionization family) + one GROUP-sized aggregation; the share
# is a window over the TRANSITION MATRIX (#types², tiny at any corpus
# size).
# --------------------------------------------------------------------------
@query(
    "events_type_transitions",
    oracle="""
    WITH s AS (
      SELECT event_type AS cur,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS prev
      FROM events
    ), t AS (
      SELECT prev, cur, COUNT(*) AS cnt
      FROM s WHERE prev IS NOT NULL
      GROUP BY prev, cur
    )
    SELECT prev, cur, cnt,
           ROUND(cnt * 1.0 / SUM(cnt) OVER (PARTITION BY prev), 4) AS p_transition
    FROM t
    """,
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    t = s.groupBy("prev", "cur").agg(F.count("*").alias("cnt"))
    w_share = W.partitionBy("prev")
    return t.select(
        "prev",
        "cur",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(w_share), 4).alias("p_transition"),
    )


# --------------------------------------------------------------------------
# Weekly cohort retention: users grouped by first-seen week; for each
# (cohort, weeks-since-first-seen) cell, how many distinct cohort members
# were active. The canonical product-analytics rollup: first-seen is a
# per-user aggregate joined back onto the stream (user-count-sized side —
# no hint, AQE broadcasts while it fits), then one distinct-count shuffle
# on the (cohort, offset) grid.
# --------------------------------------------------------------------------
@query(
    "events_weekly_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             CAST(floor(epoch(MIN(ts)) / 604800) AS BIGINT) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT cohort_week,
           CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - cohort_week AS week_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN first_seen USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    week = (F.unix_timestamp("ts") / 604800).cast("long")
    first_seen = ev.groupBy("user_id").agg(
        (F.unix_timestamp(F.min("ts")) / 604800).cast("long").alias("cohort_week")
    )
    return (
        ev.join(first_seen, "user_id")
        .groupBy(
            "cohort_week", (week - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


ANOMALY_Z = 2.0  # |z| threshold on hourly counts


# --------------------------------------------------------------------------
# Hourly anomaly flags: hours whose event count deviates from that type's
# mean by more than ANOMALY_Z sample standard deviations. Two GROUP-sized
# aggregations (hourly counts, then per-type moments over ~#hours rows) and
# a broadcast-back join — the monitoring query that watches a pipeline's
# event volume; nothing touches raw events twice.
# --------------------------------------------------------------------------
@query(
    "events_hourly_anomalies",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, AVG(cnt) AS mu, STDDEV_SAMP(cnt) AS sigma
      FROM h GROUP BY event_type
    )
    SELECT h.event_type, hour_epoch, cnt,
           ROUND((cnt - mu) / sigma, 4) AS zscore
    FROM h JOIN m USING (event_type)
    WHERE sigma > 0 AND abs((cnt - mu) / sigma) > {ANOMALY_Z}
    """,
)
def events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
    ).agg(F.count("*").alias("cnt"))
    m = h.groupBy("event_type").agg(
        F.avg("cnt").alias("mu"), F.stddev_samp("cnt").alias("sigma")
    )
    z = (F.col("cnt") - F.col("mu")) / F.col("sigma")
    return (
        h.join(m, "event_type")
        .filter((F.col("sigma") > 0) & (F.abs(z) > ANOMALY_Z))
        .select("event_type", "hour_epoch", "cnt", F.round(z, 4).alias("zscore"))
    )


# --------------------------------------------------------------------------
# Day-of-week x hour-of-day seasonality profile: the 7x24 activity grid an
# ops dashboard draws. One shuffle over a calendar-bounded key space
# (168 cells x #types); conventions aligned across engines (Sunday=0).
# --------------------------------------------------------------------------
@query(
    "events_dow_hod_profile",
    oracle="""
    SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           event_type,
           COUNT(*) AS cnt,
           -- portable half-up rounding: AVG lands on half-ulp boundaries
           -- that ROUND splits differently across engines
           floor(AVG(value) * 10000 + 0.5) / 10000 AS avg_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_dow_hod_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Spark dayofweek is 1..7 with Sunday=1; DuckDB is 0..6 with Sunday=0.
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hod"),
            "event_type",
        )
        .agg(
            F.count("*").alias("cnt"),
            (F.floor(F.avg("value") * 10000 + F.lit(0.5)) / 10000).alias(
                "avg_value"
            ),
        )
    )


# --------------------------------------------------------------------------
# Three-step ordered funnel: per session, did view -> click -> purchase
# happen IN ORDER? Step timestamps are conditional mins over the same
# session frame as events_session_funnel (no extra shuffle); the summary
# collapses to one row per step count — the conversion funnel chart.
# --------------------------------------------------------------------------
@query(
    "events_funnel_steps",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts, event_type,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    ), m AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('microsecond', prev_ts, ts) > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e
    ), s AS (
      SELECT user_id, ts, event_type,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM m
    ), f AS (
      SELECT user_id, session_id,
             -- full-precision step times (micros), matching unix_micros
             MIN(CASE WHEN event_type = 'view'
                      THEN epoch_us(ts) END) AS t_view,
             MIN(CASE WHEN event_type = 'click'
                      THEN epoch_us(ts) END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS t_buy
      FROM s GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) FILTER (t_view IS NOT NULL) AS BIGINT) AS step_view,
           CAST(COUNT(*) FILTER (t_view IS NOT NULL AND t_click >= t_view)
                AS BIGINT) AS step_click,
           CAST(COUNT(*) FILTER (t_view IS NOT NULL AND t_click >= t_view
                                 AND t_buy >= t_click)
                AS BIGINT) AS step_purchase
    FROM f
    """,
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row funnel: sessions reaching view, view->click (ordered),
    view->click->purchase (ordered). NULL comparisons drop sessions
    missing a step, so each stage is a subset of the previous."""
    ev = load_table(spark, sf_dir, "events")
    usec = _event_us()
    step = lambda t: F.min(F.when(F.col("event_type") == t, usec))  # noqa: E731
    f = sessionized(ev).groupBy("user_id", "session_id").agg(
        step("view").alias("t_view"),
        step("click").alias("t_click"),
        step("purchase").alias("t_buy"),
    )
    reached_view = F.col("t_view").isNotNull()
    reached_click = reached_view & (F.col("t_click") >= F.col("t_view"))
    reached_buy = reached_click & (F.col("t_buy") >= F.col("t_click"))
    return f.agg(
        F.count("*").alias("n_sessions"),
        F.sum(reached_view.cast("long")).alias("step_view"),
        F.sum(reached_click.cast("long")).alias("step_click"),
        F.sum(reached_buy.cast("long")).alias("step_purchase"),
    )


DEBOUNCE_GAP_S = 60  # same-user same-type events closer than this are throttled
DEBOUNCE_GAP_US = DEBOUNCE_GAP_S * 1_000_000


# --------------------------------------------------------------------------
# Debounce/throttle dedup: flag events arriving within DEBOUNCE_GAP_S of
# the PREVIOUS same-user same-type event (double-click / retry collapse —
# the event-stream analogue of document dedup). LAG-based gap semantics,
# one (user_id, event_type) shuffle reused by the window; the report is a
# per-type rollup. Gaps compare at full microsecond precision on both
# sides (unix_micros vs date_diff('microsecond', ...)), like the rest of
# the sessionize/funnel family.
# --------------------------------------------------------------------------
@query(
    "events_debounce_dedup",
    oracle=f"""
    WITH e AS (
      SELECT event_type, ts,
             LAG(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (prev_ts IS NOT NULL
                AND date_diff('microsecond', prev_ts, ts) < {DEBOUNCE_GAP_US})
                AS BIGINT) AS n_suppressed,
           floor(COUNT(*) FILTER (prev_ts IS NOT NULL
                 AND date_diff('microsecond', prev_ts, ts) < {DEBOUNCE_GAP_US})
                 * 1.0 / COUNT(*) * 10000 + 0.5) / 10000 AS suppressed_rate
    FROM e GROUP BY event_type
    """,
)
def events_debounce_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    usec = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_usec = F.lag(usec).over(w)
    suppressed = (
        prev_usec.isNotNull() & ((usec - prev_usec) < DEBOUNCE_GAP_US)
    ).cast("long")
    flagged = ev.select("event_type", suppressed.alias("sup"))
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("sup").alias("n_suppressed"),
        (
            F.floor(F.sum("sup") * F.lit(1.0) / F.count("*") * 10000 + F.lit(0.5))
            / 10000
        ).alias("suppressed_rate"),
    )


TOPK_TYPES_PER_HOUR = 2


# --------------------------------------------------------------------------
# Top-k event types per hour: rank WITHIN each hour over the
# already-aggregated (hour, type) frame — the window never sees raw events,
# so each partition holds at most |event_types| rows regardless of scale
# (the aggregate-then-window ordering vocab_min_count pins in test_plans).
# --------------------------------------------------------------------------
@query(
    "events_topk_types_per_hour",
    oracle=f"""
    WITH h AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
             event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT hour_epoch, event_type, cnt, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY hour_epoch
                                   ORDER BY cnt DESC, event_type) AS rk
      FROM h
    )
    WHERE rk <= {TOPK_TYPES_PER_HOUR}
    """,
)
def events_topk_types_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .groupBy("hour_epoch", "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    order = [F.col("cnt").desc(), "event_type"]
    return top_k(h, "hour_epoch", order, TOPK_TYPES_PER_HOUR).select(
        "hour_epoch", "event_type", "cnt", F.col("rk").cast("long").alias("rk")
    )


# --------------------------------------------------------------------------
# Session-duration distribution: exact interpolated percentiles over the
# sessionized stream — the latency-style SLO readout for engagement. The
# sessionization windows shuffle once on user_id; durations (one row per
# session) then feed a single partial-aggregable percentile pass, same
# convention as price_percentiles.
# --------------------------------------------------------------------------
@query(
    "session_duration_percentiles",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    ), m AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('microsecond', prev_ts, ts) > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e
    ), s AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM m
    ), d AS (
      SELECT CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
      FROM s GROUP BY user_id, session_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(quantile_cont(duration_s, 0.5), 4) AS p50_s,
           ROUND(quantile_cont(duration_s, 0.9), 4) AS p90_s,
           ROUND(quantile_cont(duration_s, 0.99), 4) AS p99_s
    FROM d
    """,
)
def session_duration_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = events_sessionize(spark, sf_dir)
    return sessions.agg(
        F.count("*").alias("n_sessions"),
        F.round(F.percentile("duration_s", F.lit(0.5)), 4).alias("p50_s"),
        F.round(F.percentile("duration_s", F.lit(0.9)), 4).alias("p90_s"),
        F.round(F.percentile("duration_s", F.lit(0.99)), 4).alias("p99_s"),
    )


ECDF_PROBES = (10, 50, 100, 200)


# --------------------------------------------------------------------------
# Empirical CDF probes of purchase value: P(value <= p) at fixed probe
# points — the distribution fingerprint a drift monitor compares release
# to release. ONE aggregation pass computes every probe as a conditional
# counter (never a per-probe scan), then the 4-row result unpivots.
# --------------------------------------------------------------------------
@query(
    "events_value_ecdf",
    oracle=f"""
    SELECT CAST(p AS BIGINT) AS probe,
           floor(COUNT(*) FILTER (value <= p) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS cdf
    FROM events CROSS JOIN unnest([{", ".join(str(p) for p in ECDF_PROBES)}]) t(p)
    WHERE event_type = 'purchase'
    GROUP BY p
    """,
)
def events_value_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    aggs = [F.count("*").alias("n")] + [
        F.sum((F.col("value") <= p).cast("long")).alias(f"le_{p}")
        for p in ECDF_PROBES
    ]
    one = ev.agg(*aggs)
    probes = F.array(
        *[
            F.struct(
                F.lit(p).cast("long").alias("probe"),
                (
                    F.floor(
                        F.col(f"le_{p}") * F.lit(1.0) / F.col("n") * 10000
                        + F.lit(0.5)
                    )
                    / 10000
                ).alias("cdf"),
            )
            for p in ECDF_PROBES
        ]
    )
    return one.select(F.explode(probes).alias("r")).select("r.probe", "r.cdf")


# --------------------------------------------------------------------------
# PageRank over the event-type transition graph: nodes are event types,
# edges are per-user consecutive transitions weighted by count (the same
# LAG/LEAD derivation as events_type_transitions). Demonstrates the
# iterative-graph-algorithm shape on Spark: ONE corpus-scale pass builds
# the weighted edge list; every PageRank iteration after that joins frames
# bounded by |event types|^2 (broadcast-sized at any corpus scale, since
# the type vocabulary does not grow with rows). Mass of types with no
# outgoing transitions leaks (no dangling redistribution) — the oracle
# applies the identical recurrence, so the semantics are value-pinned.
# Per-iteration rounding (8 dp) keeps the float recurrence engine-portable;
# the final report rounds to 6.
# --------------------------------------------------------------------------
PR_DAMPING = 0.85
PR_ITERS = 3


@query(
    "pagerank_event_types",
    headline=True,
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS dst
      FROM events
    ), edges AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    ), outw AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    pr0 AS (SELECT node, ROUND(1.0 / (SELECT n FROM nn), 8) AS pr FROM nodes),
    c1 AS (
      SELECT e.dst AS node, SUM(p.pr * e.w / o.out_w) AS mass
      FROM edges e JOIN outw o USING (src) JOIN pr0 p ON p.node = e.src
      GROUP BY e.dst
    ), it1 AS (
      SELECT n.node,
             ROUND({1 - PR_DAMPING} / (SELECT n FROM nn)
                   + {PR_DAMPING} * COALESCE(c1.mass, 0.0), 8) AS pr
      FROM nodes n LEFT JOIN c1 USING (node)
    ), c2 AS (
      SELECT e.dst AS node, SUM(p.pr * e.w / o.out_w) AS mass
      FROM edges e JOIN outw o USING (src) JOIN it1 p ON p.node = e.src
      GROUP BY e.dst
    ), it2 AS (
      SELECT n.node,
             ROUND({1 - PR_DAMPING} / (SELECT n FROM nn)
                   + {PR_DAMPING} * COALESCE(c2.mass, 0.0), 8) AS pr
      FROM nodes n LEFT JOIN c2 USING (node)
    ), c3 AS (
      SELECT e.dst AS node, SUM(p.pr * e.w / o.out_w) AS mass
      FROM edges e JOIN outw o USING (src) JOIN it2 p ON p.node = e.src
      GROUP BY e.dst
    ), it3 AS (
      SELECT n.node,
             ROUND({1 - PR_DAMPING} / (SELECT n FROM nn)
                   + {PR_DAMPING} * COALESCE(c3.mass, 0.0), 8) AS pr
      FROM nodes n LEFT JOIN c3 USING (node)
    )
    SELECT node, ROUND(pr, 6) + 0.0 AS pagerank FROM it3
    """,
)
def pagerank_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    edges = seq.groupBy("src", "dst").agg(F.count("*").alias("w"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    e = edges.join(F.broadcast(outw), "src")
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    nn = nodes.agg(F.count("*").alias("n_nodes"))
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.round(F.lit(1.0) / F.col("n_nodes"), 8).alias("pr")
    )
    for _ in range(PR_ITERS):
        contrib = (
            e.join(F.broadcast(pr.withColumnRenamed("node", "src")), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("w") / F.col("out_w")).alias("mass"))
        )
        pr = (
            nodes.join(
                F.broadcast(contrib.withColumnRenamed("dst", "node")),
                "node",
                "left",
            )
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                F.round(
                    F.lit(1 - PR_DAMPING) / F.col("n_nodes")
                    + F.lit(PR_DAMPING) * F.coalesce(F.col("mass"), F.lit(0.0)),
                    8,
                ).alias("pr"),
            )
        )
    return pr.select("node", (F.round("pr", 6) + F.lit(0.0)).alias("pagerank"))


# --------------------------------------------------------------------------
# Sliding-window DISTINCT count: distinct active users over the trailing
# 24 hours, evaluated at every hour that has traffic. COUNT(DISTINCT) has
# no incremental window form (unlike SUM), so the engine uses the bounded
# fan-out trick: each event contributes its user to the 24 hourly buckets
# whose trailing window covers it (explode of a 24-element sequence — a
# fixed 24x row multiplier, NOT data-dependent), then one exact distinct
# aggregate per (bucket). The alternative — a range self-join of the hour
# grid against raw events — rescans events per hour; the fan-out touches
# each event once and partial-aggregates (hr, user) map-side.
# --------------------------------------------------------------------------
TRAILING_WINDOW_H = 24


@query(
    "active_users_trailing_24h",
    oracle=f"""
    WITH e AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr, user_id
      FROM events
    ), hours AS (SELECT DISTINCT hr FROM e)
    SELECT h.hr AS hour_epoch_h,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM hours h
    JOIN e ON e.hr BETWEEN h.hr - {TRAILING_WINDOW_H - 1} AND h.hr
    GROUP BY h.hr
    """,
)
def active_users_trailing_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr"),
        "user_id",
    )
    hours = e.select("hr").distinct()
    contrib = e.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("hr"), F.col("hr") + F.lit(TRAILING_WINDOW_H - 1)
            )
        ).alias("bucket_hr"),
    )
    return (
        contrib.join(
            F.broadcast(hours).withColumnRenamed("hr", "bucket_hr"),
            "bucket_hr",
            "left_semi",
        )
        .groupBy(F.col("bucket_hr").alias("hour_epoch_h"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE): breadth-first reachability over
# the event-type transition graph — min hops from the 'signup' state to
# every reachable state.
#
# Scale-critical detail, MEASURED: Spark inlines a CTE into every
# recursive step, so a recursion that references the corpus-scale edge
# derivation re-runs that derivation per iteration (~0.8 s/iteration on
# the 10x probe — 4.2 s at 4 hops, linear in the hop cap). The engine
# therefore materializes the aggregated edge list ONCE to a scratch
# parquet and recurses over that |types|^2-bounded file; each iteration
# rescans only the tiny edge file. The oracle keeps the self-contained
# single-statement form (DuckDB materializes CTEs, so it pays the
# derivation once either way) — the VALUES are identical by construction.
# --------------------------------------------------------------------------
REACH_START = "signup"
REACH_MAX_HOPS = 4

_REACH_ORACLE_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT event_type AS src,
           LEAD(event_type) OVER (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS dst
    FROM events) t WHERE dst IS NOT NULL
), reach(node, hops) AS (
  SELECT CAST('{start}' AS VARCHAR) AS node, 0 AS hops
  UNION ALL
  SELECT e.dst AS node, r.hops + 1 AS hops
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.hops < {max_hops}
)
SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops FROM reach GROUP BY node
"""

_REACH_ENGINE_SQL = """
WITH RECURSIVE reach(node, hops) AS (
  SELECT CAST('{start}' AS STRING) AS node, 0 AS hops
  UNION ALL
  SELECT e.dst AS node, r.hops + 1 AS hops
  FROM reach r JOIN reach_edges e ON e.src = r.node
  WHERE r.hops < {max_hops}
)
SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops FROM reach GROUP BY node
"""


@query(
    "recursive_cte_reachability",
    oracle=_REACH_ORACLE_SQL.format(
        start=REACH_START, max_hops=REACH_MAX_HOPS
    ),
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_mapreduce_spark.sources.tables import sink_dir

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .distinct()
    )
    out = sink_dir("reach_edges") + "/edges"
    edges.coalesce(1).write.mode("overwrite").parquet(out)
    spark.read.parquet(out).createOrReplaceTempView("reach_edges")
    return spark.sql(
        _REACH_ENGINE_SQL.format(start=REACH_START, max_hops=REACH_MAX_HOPS)
    )


# --------------------------------------------------------------------------
# CEP-style sequence pattern matching (the Flink-CEP / MATCH_RECOGNIZE
# shape): flag sessions whose ordered event-type sequence contains a
# click -> purchase run with NO error between them (the synthetic stream's
# sessions are 1-3 events long — avg 1.05 — so a longer pattern would
# never fire; 23 sessions match this one at sf0.01, exercising the true
# path). The sequence is matched as a REGEX over the space-joined
# per-session type string — one regex evaluation per session, not a
# window-function cascade per pattern element, so adding pattern states
# costs nothing at plan level. The intermediate-state alternation is
# enumerated (view|click|signup) instead of a negative lookahead because
# DuckDB's RE2 has no lookahead — keeping the ENGINE and ORACLE regex
# semantics identical is part of the operator contract.
#
# Scale: sessionization is the standard per-user LAG/SUM window (bounded
# by one user's history); the collect is per-session (bounded by session
# length); the regex is a narrow map over session-grain rows.
# --------------------------------------------------------------------------
CEP_PATTERN = r"(^| )click( (view|click|signup))* purchase( |$)"


@query(
    "events_cep_pattern_sessions",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts, event_type,
             LAG(ts) OVER (PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    ), m AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('microsecond', prev_ts, ts)
                          > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e
    ), s AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                                    ORDER BY CAST(ts AS TIMESTAMP), event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM m
    ), seq AS (
      SELECT user_id, session_id,
             string_agg(event_type, ' '
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS types
      FROM s GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN regexp_matches(types, '{CEP_PATTERN}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
    FROM seq GROUP BY user_id
    """,
)
def events_cep_pattern_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    usec = _event_us()
    s = sessionized(ev).select(
        "user_id",
        "session_id",
        usec.alias("us"),
        "event_id",
        "event_type",
    )
    # Order-preserving per-session sequence: sort (us, event_id, type)
    # structs after the grouped collect — same determinism recipe as
    # tokens_to_ids' positional reassembly.
    seq = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("us", "event_id", "event_type"))
                    ),
                    lambda x: x.getField("event_type"),
                ),
                " ",
            ).alias("types")
        )
    )
    matched = F.when(F.col("types").rlike(CEP_PATTERN), 1).otherwise(0)
    return seq.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum(matched).cast("long").alias("n_matched"),
    )


# --------------------------------------------------------------------------
# Bipartite projection: the user--event-type bipartite graph projected onto
# event types, weighted by co-engagement — for each type pair, how many
# DISTINCT users touched both, plus the Jaccard affinity against each
# type's audience size. The projection's fan-out is |types-per-user| choose
# 2 per user — bounded by the (tiny) type vocabulary squared, NOT by event
# volume, because the self-join runs on the DISTINCT (user, type) frame
# after one dedup shuffle. The classic market-basket / co-view shape.
# --------------------------------------------------------------------------
@query(
    "event_type_cooccurrence",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut
          GROUP BY event_type),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_both,
           ROUND(n_both * 1.0 / (ca.n + cb.n - n_both), 4) AS jaccard
    FROM p
    JOIN c ca ON ca.event_type = type_a
    JOIN c cb ON cb.event_type = type_b
    """,
)
def event_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    c = ut.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    p = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    ca = c.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    cb = c.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        p.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both") * 1.0
                / (F.col("na") + F.col("nb") - F.col("n_both")),
                4,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Local-time rollup across IANA time zones: the event stream stored in UTC
# reported as per-zone LOCAL calendar dates — the classic analytics trap
# where a "daily" metric differs per region. Zones chosen to pin the edge
# semantics: a negative offset (America/New_York shifts late-evening UTC
# events to the PREVIOUS local date), a large positive one (Asia/Tokyo),
# and a non-whole-hour offset (Asia/Kathmandu, +05:45). Dates cross the
# oracle comparison as formatted strings per the registry convention.
# Engine side fans one scan out via explode over a (zone, local_ts)
# struct array — a narrow map, one aggregate shuffle of |zones| x |dates|
# groups; DuckDB mirrors with per-zone UNION ALL branches
# (timezone('UTC', ts) interprets the naive stamp as UTC, the outer
# timezone(tz, ...) renders the instant in zone-local time).
# --------------------------------------------------------------------------
ROLLUP_ZONES = ["UTC", "America/New_York", "Asia/Tokyo", "Asia/Kathmandu"]


def _tz_branch_sql(tz: str) -> str:
    return f"""
      SELECT '{tz}' AS zone,
             strftime(CAST(timezone('{tz}',
                 timezone('UTC', CAST(ts AS TIMESTAMP))) AS DATE),
                 '%Y-%m-%d') AS local_date
      FROM events"""


@query(
    "events_local_date_rollup",
    oracle=f"""
    WITH z AS ({" UNION ALL ".join(_tz_branch_sql(z) for z in ROLLUP_ZONES)})
    SELECT zone, local_date, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM z GROUP BY zone, local_date
    """,
)
def events_local_date_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    branches = F.array(
        *[
            F.struct(
                F.lit(tz).alias("zone"),
                F.date_format(
                    F.from_utc_timestamp(F.col("ts"), tz), "yyyy-MM-dd"
                ).alias("local_date"),
            )
            for tz in ROLLUP_ZONES
        ]
    )
    return (
        ev.select(F.explode(branches).alias("b"))
        .select("b.zone", "b.local_date")
        .groupBy("zone", "local_date")
        .agg(F.count("*").alias("n_events"))
    )


# --------------------------------------------------------------------------
# OHLC downsampling (the finance resample): per hour, the value stream's
# open/high/low/close + volume. open/close are argmin/argmax by event time
# — min_by/max_by over a zero-padded (micros, event_id) string key, which
# orders lexicographically exactly as the numeric pair (DuckDB's arg_min
# accepts no struct ordering key, so the portable key is a string on BOTH
# engines; the event_id suffix breaks same-microsecond ties
# deterministically). One aggregate shuffle of |hours| groups; no windows.
# --------------------------------------------------------------------------
@query(
    "events_value_ohlc_hourly",
    oracle="""
    WITH b AS (
      SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
               AS hour_epoch,
             value,
             printf('%020d', epoch_us(CAST(ts AS TIMESTAMP))) || ':'
               || printf('%012d', event_id) AS ord
      FROM events
    )
    SELECT hour_epoch,
           ROUND(arg_min(value, ord), 4) AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(arg_max(value, ord), 4) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM b GROUP BY hour_epoch
    """,
)
def events_value_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ord_key = F.concat(
        F.lpad(us.cast("string"), 20, "0"),
        F.lit(":"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    hour = F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias(
        "hour_epoch"
    )
    return (
        ev.select(hour, "value", ord_key.alias("ord"))
        .groupBy("hour_epoch")
        .agg(
            F.round(F.min_by("value", F.col("ord")), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", F.col("ord")), 4).alias("close"),
            F.count("*").alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# Clamped running balance via RECURSIVE CTE (round 6) — the textbook
# NON-window-expressible stateful scan: bal_i = GREATEST(bal_{i-1} +
# delta_i, 0). The floor makes the fold non-associative, so no window
# frame or prefix aggregation can express it — the classic uses are
# inventory that can't go negative, prepaid-credit ledgers, and
# drawdown-reset equity curves. Spark 4 ships WITH RECURSIVE (UNION ALL
# recursion only — fine here, linear recursion over the per-user day
# chain terminates at the day count). Shuffle shape: the per-user-day
# delta aggregate is one exchange; each of the <=30 recursion steps is an
# equi-join on (user_id, i) of the walk frontier (|users| rows) against
# the day frame — frontier-sized work per step, the recursion never
# re-reads events. The oracle is DuckDB's recursive CTE over the same
# SQL shape, value-checking Spark's brand-new recursion execution against
# an independent engine. Depth safety: 30 < the default
# spark.sql.cteRecursionLevelLimit of 100. Arithmetic is EXACT INTEGER
# CENTS end to end (round-7 advice, same fix as map_higher_order_report):
# the per-day delta is a SUM of doubles whose order differs between
# engines, and the walk's `bal = 0` floor test plus the folded balances
# are half-ulp-sensitive — floats here are the documented float-checksum
# hazard class. Integer sums are order-independent, GREATEST/+ stay in
# BIGINT, and the floor comparison is exact, so the cross-engine hash
# cannot split at any scale.
# --------------------------------------------------------------------------
_BALANCE_SQL = """
WITH RECURSIVE deltas AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
             * CASE WHEN event_type = 'purchase' THEN -1 ELSE 1 END)
           AS delta
  FROM events
  GROUP BY user_id, CAST(ts AS DATE)
), seq AS (
  SELECT user_id, delta,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS i
  FROM deltas
), walk (user_id, i, bal) AS (
  SELECT user_id, i, GREATEST(delta, CAST(0 AS BIGINT)) FROM seq WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.i, GREATEST(w.bal + s.delta, CAST(0 AS BIGINT))
  FROM walk w JOIN seq s ON s.user_id = w.user_id AND s.i = w.i + 1
)
SELECT user_id,
       CAST(MAX(i) AS BIGINT) AS n_days,
       CAST(MAX_BY(bal, i) AS BIGINT) AS final_bal_cents,
       CAST(MAX(bal) AS BIGINT) AS peak_bal_cents,
       CAST(COUNT(*) FILTER (WHERE bal = 0) AS BIGINT) AS n_floored_days
FROM walk
GROUP BY user_id
"""


@query("clamped_balance_recursive", oracle=_BALANCE_SQL)
def clamped_balance_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_BALANCE_SQL)


# --------------------------------------------------------------------------
# Map higher-order functions (round 6): the map-typed column family —
# map_from_entries to BUILD per-user (event_type -> stat) maps from an
# aggregate, then transform_values (count -> share), map_filter
# (frequent types only), map_zip_with (count-map x sum-map -> per-type
# mean map), and aggregate() folds over map_values — all JVM-side
# lambda expressions inside codegen, the idiomatic way to carry a
# small keyed summary per row WITHOUT exploding it back to rows. The
# oracle recomputes every scalar relationally (DuckDB never touches a
# map), so the map algebra is value-proven against plain SQL. The
# zipped-map checksum works in INTEGER cents with exact floor
# division: a float version failed at sf0.1 because per-type SUM(value)
# differs between engines in the last ulp (summation order), and the
# per-type means land EXACTLY on round-half boundaries (2-decimal data
# divided by small counts), so any float rounding idiom splits.
# Integer sums are order-independent; (s - s % c) / c is an exact
# double, so both engines agree bit-for-bit. top_share stays float-safe
# because MAX(c)/SUM(c) divides identical exact integers. At 100 TB the
# map stays bounded by |event_type| per user — a per-row summary, never
# a corpus-scale collection.
# --------------------------------------------------------------------------
@query(
    "map_higher_order_report",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, COUNT(*) AS c,
             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s_cents
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_frequent_types,
           floor(MAX(c) * 1.0 / SUM(c) * 10000 + 0.5) / 10000 AS top_share,
           CAST(SUM((s_cents - s_cents % c) / c) AS BIGINT)
             AS mean_cents_checksum
    FROM per GROUP BY user_id
    """,
)
def map_higher_order_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # Totality guards, mirrored in the oracle: a NULL event_type would make
    # map_from_entries raise ("null as map key") and an all-NULL value group
    # would NULL-poison the Spark-side fold while DuckDB's SUM skips it —
    # the current generator emits neither, but the query must not depend on
    # that.
    events = events.filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    per = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("s"),
    )
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "c"))
        ).alias("cnt_map"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "s"))
        ).alias("sum_map"),
    )
    total = F.aggregate(
        F.map_values("cnt_map"), F.lit(0).cast("long"), lambda a, x: a + x
    )
    share_map = F.transform_values("cnt_map", lambda _k, v: v / total)
    # exact: s is divisible by c after the % subtraction, so the double
    # quotient is integral and the long cast loses nothing
    mean_map = F.map_zip_with(
        "cnt_map",
        "sum_map",
        lambda _k, c, s: ((s - s % c) / c).cast("long"),
    )
    checksum = F.aggregate(
        F.map_values(mean_map), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return maps.select(
        "user_id",
        F.size("cnt_map").cast("long").alias("n_types"),
        F.size(F.map_filter("cnt_map", lambda _k, v: v >= 3))
        .cast("long")
        .alias("n_frequent_types"),
        (
            F.floor(F.array_max(F.map_values(share_map)) * 10000 + F.lit(0.5))
            / 10000
        ).alias("top_share"),
        checksum.alias("mean_cents_checksum"),
    )
