"""Time-series operators over the `events` table: as-of join, hypertable
rollup, gap-filled LOCF resampling.

The reference has no time notion at all (SURVEY.md §2.3); an as-of join is
the canonical time-series operator Spark lacks as a built-in relational
operator. Implemented as a composition of existing DataFrame ops (SURVEY.md
§2.3 disposition: composition first, Pandas UDF only if semantics demand it):

    union(tagged right, tagged left)
      -> window per join key ordered by (ts, tag)
      -> last(right payload, ignorenulls) over rows-unbounded-preceding
      -> keep left rows

This is the scalable formulation: ONE shuffle on the join key (the window
exchange), no range-condition fan-out, no per-key driver loop. A sort-merge
range join would re-shuffle both sides and explode on hot keys; the tagged
union sorts each key's timeline once. At 100 TB the shuffle is keyed by
user_id (high cardinality, well spread) and state per task is one row (the
running "last right payload") — the same shape Structured Streaming uses for
stream-stream as-of alignment.

The tag orders right rows before left rows at equal timestamps, matching the
inclusive `l.ts >= r.ts` semantics of DuckDB's native ASOF JOIN, which is the
oracle. Right rows are first deduplicated to one per (key, ts) — max event_id
wins — so equal-timestamp ties are deterministic in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.sources import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    right_payload: tuple[str, ...] = (),
    direction: str = "backward",
) -> DataFrame:
    """Generic as-of join: for every left row, attach the latest right row
    with ``right.ts <= left.ts`` (direction="backward", default) or the
    EARLIEST right row with ``right.ts >= left.ts`` (direction="forward")
    within the same ``on`` key. Both are inclusive at equal timestamps.

    Right payload columns come back as ``asof_<name>`` (nullable — left rows
    with no matching right row keep nulls) plus ``asof_ts``. Right must be
    unique per (on, ts); callers pre-aggregate duplicates so tie-breaks are
    deterministic. The forward form is the backward scan mirrored: the
    merged stream orders by ts DESC, so "last right seen" is the earliest
    right at-or-after the left row — same single shuffle on the key.
    """
    l_tag = left.withColumn("_tag", F.lit(1))
    r_tag = right.withColumn("_tag", F.lit(0))
    # Align schemas: each side gets the other's missing columns as nulls.
    for c, t in l_tag.dtypes:
        if c not in dict(r_tag.dtypes):
            r_tag = r_tag.withColumn(c, F.lit(None).cast(t))
    for c, t in r_tag.dtypes:
        if c not in dict(l_tag.dtypes):
            l_tag = l_tag.withColumn(c, F.lit(None).cast(t))
    u = r_tag.unionByName(l_tag.select(*r_tag.columns))
    ts_key = F.col(ts) if direction == "backward" else F.col(ts).desc()
    w = (
        W.partitionBy(on)
        .orderBy(ts_key, "_tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    payload: Column = F.struct(
        F.col(ts).alias("asof_ts"),
        *[F.col(c).alias(f"asof_{c}") for c in right_payload],
    )
    matched = u.withColumn(
        "_m", F.last(F.when(F.col("_tag") == 0, payload), ignorenulls=True).over(w)
    )
    out_cols = [c for c in left.columns] + [
        F.col("_m.asof_ts").alias("asof_ts"),
        *[F.col(f"_m.asof_{c}").alias(f"asof_{c}") for c in right_payload],
    ]
    return matched.filter(F.col("_tag") == 1).select(*out_cols)


# --------------------------------------------------------------------------
# As-of join instance: attribute each purchase event to the user's latest
# preceding click (inclusive at equal timestamps). Oracle: DuckDB's native
# ASOF LEFT JOIN.
# --------------------------------------------------------------------------
@query(
    "asof_purchase_attribution",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), r AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT l.event_id AS purchase_id,
           l.user_id,
           CAST(epoch(date_trunc('second', l.ts)) AS BIGINT) AS ts_epoch,
           r.click_id,
           CAST(date_diff('second', r.ts, l.ts) AS BIGINT) AS gap_s
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    headline=True,
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    joined = asof_join(left, right, on="user_id", ts="ts", right_payload=("click_id",))
    return joined.select(
        "purchase_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.col("asof_click_id").alias("click_id"),
        (F.unix_timestamp("ts") - F.unix_timestamp("asof_ts"))
        .cast("long")
        .alias("gap_s"),
    )


# --------------------------------------------------------------------------
# Hypertable-style rollup: one pass producing hourly, daily, and grand-total
# aggregates via ROLLUP on (day, hour). At scale this is the continuous-
# aggregate build: a single shuffle computes every resolution level, instead
# of one aggregation job per level. NULL grouping levels are coalesced to -1
# so the epoch columns stay BIGINT through the oracle comparison.
# --------------------------------------------------------------------------
@query(
    "events_rollup_day_hour",
    oracle="""
    WITH e AS (
      SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
             value
      FROM events
    )
    SELECT COALESCE(d, -1) AS day_epoch,
           COALESCE(h, -1) AS hour_epoch,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM e GROUP BY ROLLUP(d, h)
    """,
)
def events_rollup_day_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("d"),
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h"),
        "value",
    )
    return (
        ev.rollup("d", "h")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.coalesce("d", F.lit(-1)).alias("day_epoch"),
            F.coalesce("h", F.lit(-1)).alias("hour_epoch"),
            "cnt",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# Gap-filled hourly series with last-observation-carried-forward: a dense
# (hour x event_type) grid left-joined to the hourly aggregate, empty hours
# filled by the most recent non-null hourly sum. The grid derives from a
# 1-row bounds aggregate (broadcast by construction) crossed with the
# event-type vocabulary (bounded, like nation) — grid size is time-span x
# #types, independent of event volume. The LOCF window shuffles once on
# event_type and keeps one row of state per task, the same shape as the
# as-of join above.
# --------------------------------------------------------------------------
@query(
    "events_hourly_gapfill_locf",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS h0,
             CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS h1
      FROM events
    ),
    grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             COUNT(*) AS c, ROUND(SUM(value), 4) AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(epoch(g.hour) AS BIGINT) AS hour_epoch,
           t.event_type,
           CAST(COALESCE(a.c, 0) AS BIGINT) AS cnt,
           LAST_VALUE(a.sv IGNORE NULLS)
             OVER (PARTITION BY t.event_type ORDER BY g.hour) AS sum_locf
    FROM grid g
    CROSS JOIN types t
    LEFT JOIN agg a ON a.hour = g.hour AND a.event_type = t.event_type
    """,
)
def events_hourly_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    agg = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count("*").alias("c"), F.round(F.sum("value"), 4).alias("sv"))
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.crossJoin(F.broadcast(types))
        .join(agg, ["hour", "event_type"], "left")
        .select(
            F.unix_timestamp("hour").alias("hour_epoch"),
            "event_type",
            F.coalesce("c", F.lit(0)).alias("cnt"),
            F.last("sv", ignorenulls=True).over(w).alias("sum_locf"),
        )
    )


# --------------------------------------------------------------------------
# Gap-fill by LINEAR INTERPOLATION — the complement of the LOCF fill above:
# missing (hour, type) cells take the time-weighted blend of the nearest
# non-null aggregate on each side; one-sided edges fall back to the single
# available neighbor. Same dense-grid shape (grid x types is bounded by
# calendar x #types), two extra windows per direction over the SAME
# event_type partitioning — still one shuffle, state per task bounded by
# one row per direction.
# --------------------------------------------------------------------------
@query(
    "events_hourly_gapfill_interp",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS h0,
             CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS h1
      FROM events
    ),
    grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             ROUND(SUM(value), 4) AS sv
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT g.hour, t.event_type, a.sv,
             LAST_VALUE(a.sv IGNORE NULLS)
               OVER (PARTITION BY t.event_type ORDER BY g.hour) AS pv,
             LAST_VALUE(CASE WHEN a.sv IS NOT NULL THEN g.hour END IGNORE NULLS)
               OVER (PARTITION BY t.event_type ORDER BY g.hour) AS ph,
             FIRST_VALUE(a.sv IGNORE NULLS)
               OVER (PARTITION BY t.event_type ORDER BY g.hour
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN a.sv IS NOT NULL THEN g.hour END IGNORE NULLS)
               OVER (PARTITION BY t.event_type ORDER BY g.hour
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM grid g
      CROSS JOIN types t
      LEFT JOIN agg a ON a.hour = g.hour AND a.event_type = t.event_type
    )
    SELECT CAST(epoch(hour) AS BIGINT) AS hour_epoch,
           event_type,
           CASE
             WHEN sv IS NOT NULL THEN sv
             -- floor(x*1e4 + 0.5)/1e4: engine-portable half-up rounding
             -- (ROUND on a freshly computed double can split on half-ulp
             -- boundaries across engines; floor of the SAME double cannot)
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               floor((pv + (nv - pv) * (epoch(hour) - epoch(ph))
                              / (epoch(nh) - epoch(ph))) * 10000 + 0.5) / 10000
             WHEN pv IS NOT NULL THEN pv
             ELSE nv
           END AS sum_interp
    FROM j
    """,
)
def events_hourly_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    agg = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.round(F.sum("value"), 4).alias("sv"))
    w_back = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_fwd = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_hour = F.when(F.col("sv").isNotNull(), F.col("hour"))
    j = (
        grid.crossJoin(F.broadcast(types))
        .join(agg, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            "sv",
            F.last("sv", ignorenulls=True).over(w_back).alias("pv"),
            F.last(obs_hour, ignorenulls=True).over(w_back).alias("ph"),
            F.first("sv", ignorenulls=True).over(w_fwd).alias("nv"),
            F.first(obs_hour, ignorenulls=True).over(w_fwd).alias("nh"),
        )
    )
    sec = F.unix_timestamp
    # Same portable half-up rounding as the SQL twin (see oracle comment).
    interp = (
        F.floor(
            (
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * (sec(F.col("hour")) - sec(F.col("ph")))
                / (sec(F.col("nh")) - sec(F.col("ph")))
            )
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    return j.select(
        F.unix_timestamp("hour").alias("hour_epoch"),
        "event_type",
        F.when(F.col("sv").isNotNull(), F.col("sv"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
        .alias("sum_interp"),
    )


# --------------------------------------------------------------------------
# FORWARD as-of join instance: for every purchase, the user's next click
# at-or-after it (time-to-next-engagement — the mirror of
# asof_purchase_attribution, exercising asof_join's forward direction).
# Oracle decorrelates the "earliest following" subquery into a MIN
# aggregate join, so the value check pins the forward semantics including
# the inclusive tie at equal timestamps.
# --------------------------------------------------------------------------
@query(
    "asof_next_click_after_purchase",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), r AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), m AS (
      SELECT l.event_id, l.user_id, l.ts, MIN(r.ts) AS nts
      FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts >= l.ts
      GROUP BY 1, 2, 3
    )
    SELECT m.event_id AS purchase_id,
           m.user_id,
           CAST(epoch(date_trunc('second', m.ts)) AS BIGINT) AS ts_epoch,
           r.click_id AS next_click_id,
           CAST(date_diff('second', m.ts, m.nts) AS BIGINT) AS gap_s
    FROM m LEFT JOIN r ON r.user_id = m.user_id AND r.ts = m.nts
    """,
)
def asof_next_click_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    joined = asof_join(
        left,
        right,
        on="user_id",
        ts="ts",
        right_payload=("click_id",),
        direction="forward",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.col("asof_click_id").alias("next_click_id"),
        (F.unix_timestamp("asof_ts") - F.unix_timestamp("ts"))
        .cast("long")
        .alias("gap_s"),
    )


# --------------------------------------------------------------------------
# State-DURATION rollup: each user's current event_type is a state valid
# from its event until the next one (the SCD2 interval view); this query
# answers "how many seconds did users spend in each state per calendar
# day" — the duration-weighted rollup behind uptime/occupancy/billing
# metrics, distinct from every count-based rollup above. Intervals are
# CLIPPED to day boundaries by exploding the (tiny, interval-span-bounded)
# day sequence and taking least/greatest edges; all arithmetic runs in
# integer MICROSECONDS, so the clip is exact on both engines (no float
# date math anywhere). One LEAD window per user + one explode bounded by
# days-per-interval + one (state, day) aggregate.
# --------------------------------------------------------------------------
@query(
    "user_state_daily_seconds",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS f_us,
             epoch_us(LEAD(CAST(ts AS TIMESTAMP)) OVER (
                 PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id)) AS t_us
      FROM events
    ), days AS (
      SELECT event_type, f_us, t_us,
             unnest(generate_series(
                 date_trunc('day', make_timestamp(f_us)),
                 date_trunc('day', make_timestamp(t_us - 1)),
                 INTERVAL 1 DAY)) AS day_ts
      FROM iv WHERE t_us > f_us
    ), clipped AS (
      SELECT event_type,
             strftime(day_ts, '%Y-%m-%d') AS day,
             LEAST(t_us, epoch_us(day_ts) + 86400000000)
               - GREATEST(f_us, epoch_us(day_ts)) AS dur_us
      FROM days
    )
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(dur_us) AS BIGINT) AS state_micros
    FROM clipped GROUP BY event_type, day
    """,
)
def user_state_daily_seconds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tsc = F.col("ts").cast("timestamp")
    iv = ev.select(
        "event_type",
        F.unix_micros(tsc).alias("f_us"),
        F.unix_micros(F.lead(tsc).over(w)).alias("t_us"),
        # Strictly-positive intervals only (t_us > f_us, mirrored in the
        # oracle). A duplicate (user, ts) microsecond yields a zero-length
        # interval; if its start sits exactly on a UTC day boundary the
        # sequence stop (trunc(t_us-1)) lands BEFORE the start and Spark's
        # sequence() throws at runtime while DuckDB's generate_series
        # silently yields nothing — a data-dependent engine crash the
        # oracle doesn't share. Zero-length states carry zero seconds, so
        # dropping them on both sides changes no duration.
    ).filter(F.col("t_us") > F.col("f_us"))
    days = iv.select(
        "event_type",
        "f_us",
        "t_us",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.timestamp_micros("f_us")),
                F.date_trunc("day", F.timestamp_micros(F.col("t_us") - 1)),
                F.expr("interval 1 day"),
            )
        ).alias("day_ts"),
    )
    day_us = F.unix_micros("day_ts")
    dur = F.least(F.col("t_us"), day_us + 86400000000) - F.greatest(
        F.col("f_us"), day_us
    )
    return (
        days.select(
            "event_type",
            F.date_format("day_ts", "yyyy-MM-dd").alias("day"),
            dur.alias("dur_us"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("dur_us").alias("state_micros"),
        )
    )


# --------------------------------------------------------------------------
# Calendar-interval semantics (round 7) — the month-arithmetic family
# (add_months / last_day / day-of-month) was the one date surface with no
# exhibit. Month addition is NOT a fixed-length shift: adding one month to
# Jan 29-31 lands past February's end and both engines must CLAMP to the
# last valid day (the SQL convention billing/retention logic silently
# depends on). The report counts, per order month, exactly the orders
# whose +1-month deadline was clamped and the orders placed ON their
# month's last day — so a convention divergence between Spark's
# add_months/last_day and DuckDB's interval arithmetic/last_day flips an
# integer count, not a hidden date. All-JVM expressions over one scan with
# partial aggregation; no shuffle beyond the month rollup.
# --------------------------------------------------------------------------
@query(
    "calendar_arithmetic_report",
    oracle="""
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (
             day(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH)
               <> day(CAST(o_orderdate AS DATE))) AS BIGINT) AS n_eom_clamped,
           CAST(COUNT(*) FILTER (
             CAST(o_orderdate AS DATE)
               = last_day(CAST(o_orderdate AS DATE))) AS BIGINT)
             AS n_on_last_day
    FROM orders
    GROUP BY 1
    """,
)
def calendar_arithmetic_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.to_date("o_orderdate")
    clamped = F.dayofmonth(F.add_months(d, 1)) != F.dayofmonth(d)
    on_last = d == F.last_day(d)
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_format(d, "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(clamped.cast("long")).alias("n_eom_clamped"),
            F.sum(on_last.cast("long")).alias("n_on_last_day"),
        )
    )
