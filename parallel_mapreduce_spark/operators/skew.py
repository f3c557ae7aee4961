"""Skew mitigation: salted equi-join.

The reference's analogue of key skew is its per-partition mutex: every mapper
emitting a hot key serializes on one lock (``src/mapreduce.c:122-124``), and a
hot reduce partition runs on one thread (``src/mapreduce.c:259-285``). In
Spark the first line of defense is AQE's skew-join splitting (enabled in
session.py); salting is the explicit fallback for when one side must be
replicated — e.g. a shuffle join where a handful of keys dominate and the
other side is small enough to replicate but too large (or too dynamic) to
broadcast outright.

Mechanics: the skewed (big) side scatters each row to one of ``salt`` salt
buckets; the small side is replicated into ALL ``salt`` buckets (explode over
``sequence(0, salt-1)``); the join key becomes (key, salt_bucket). A hot key's
rows now land in ``salt`` different shuffle partitions instead of one. The
scatter uses ``rand()`` — any bucket is correct, so non-determinism is safe —
and costs a ``salt``-fold replication of the small side only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.session import partition_count
from parallel_mapreduce_spark.sources import load_table

DEFAULT_SALT = 8


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = DEFAULT_SALT,
    how: str = "inner",
) -> DataFrame:
    """Equi-join `big` (skewed) with `small` (replicable), spreading each hot
    key across `salt` shuffle partitions. Result equals ``big.join(small, on,
    how)`` for row-preserving join types (inner/left)."""
    big_salted = big.withColumn(
        "_salt", F.floor(F.rand(seed=0) * salt).cast("int")
    )
    small_salted = small.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0).cast("int"), F.lit(salt - 1).cast("int"))),
    )
    return big_salted.join(small_salted, [on, "_salt"], how).drop("_salt")


# --------------------------------------------------------------------------
# Oracle-checked instance: events (user_id is the potential hot key — one
# bot-like user can dominate an event stream) joined to a per-user dimension
# through the salted path. The oracle is the PLAIN join: the query proves the
# salted rewrite is result-identical.
# --------------------------------------------------------------------------
@query(
    "salted_join_user_tiers",
    oracle="""
    WITH tiers AS (
      SELECT user_id, CASE WHEN user_id % 3 = 0 THEN 'gold'
                           WHEN user_id % 3 = 1 THEN 'silver'
                           ELSE 'bronze' END AS tier
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT tier, event_type, COUNT(*) AS cnt, ROUND(SUM(value), 4) AS sum_value
    FROM events JOIN tiers USING (user_id)
    GROUP BY tier, event_type
    """,
)
def salted_join_user_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    tiers = (
        ev.select("user_id")
        .distinct()
        .withColumn(
            "tier",
            F.when(F.col("user_id") % 3 == 0, "gold")
            .when(F.col("user_id") % 3 == 1, "silver")
            .otherwise("bronze"),
        )
    )
    joined = salted_join(ev, tiers, on="user_id", salt=DEFAULT_SALT)
    return joined.groupBy("tier", "event_type").agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value")
    )


# --------------------------------------------------------------------------
# Join-key skew census: the diagnostic that decides WHICH mitigation a
# join needs (plain shuffle vs broadcast vs salting vs AQE skew-split).
# One hash aggregate produces the per-key counts; the distribution stats
# reduce that keyspace-sized frame to a single row. percentile() uses the
# standard linear-interpolation definition — identical to DuckDB's
# quantile_cont — so the quantiles are value-checkable, unlike the
# approx_percentile sketch. At 100 TB the per-key count frame is |keys|
# rows (already the shuffle the candidate join would pay); the census adds
# one tiny reduction on top.
# --------------------------------------------------------------------------
@query(
    "join_key_skew_census",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           ROUND(MAX(cnt) * 1.0 / SUM(cnt), 6) AS top_key_share,
           ROUND(AVG(cnt), 4) AS mean_cnt,
           ROUND(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
           ROUND(quantile_cont(cnt, 0.9), 4) AS p90_cnt,
           ROUND(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
           ROUND(quantile_cont(cnt, 0.99) / quantile_cont(cnt, 0.5), 4)
             AS p99_over_p50
    FROM c
    """,
)
def join_key_skew_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    pct = lambda p: F.percentile(F.col("cnt"), F.lit(p))  # noqa: E731
    return c.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_key_share"),
        F.round(F.avg("cnt"), 4).alias("mean_cnt"),
        F.round(pct(0.5), 4).alias("p50_cnt"),
        F.round(pct(0.9), 4).alias("p90_cnt"),
        F.round(pct(0.99), 4).alias("p99_cnt"),
        F.round(pct(0.99) / pct(0.5), 4).alias("p99_over_p50"),
    )


# --------------------------------------------------------------------------
# AQE skew-join split (round 10) — the ENGINE-NATIVE mitigation the salted
# join above is the manual fallback for: a plain equi-join whose hot key
# is split at runtime by AdaptiveSparkPlan (OptimizeSkewedJoin) into
# mapper-range sub-partitions, no query rewrite. The query amplifies one
# fixed user (AQE_HOT_USER x AQE_HOT_AMP — both engines replay the
# amplification, so results are fully value-checked) and executes the
# plain join under scoped AQE thresholds sized to the test corpus; the
# final adaptive plan is introspected and the observed SortMergeJoin
# (skew=true) marker ships as a BOOLEAN COLUMN pinned TRUE by the oracle —
# the runtime re-plan itself crosses the driver's value hash, the
# MLlib-pin convention applied to plan introspection.
#
# The finding this exhibit encodes (cost a debugging session): AQE splits
# a skewed partition by MAPPER INDEX RANGES, so a single-split scan (one
# map task — exactly what a one-row-group test parquet produces) is
# INDIVISIBLE and the rule silently never fires; the round-robin
# repartition below is not cosmetic, it is what makes the skewed
# partition splittable. At 100 TB the scan has thousands of mappers and
# the repartition is unnecessary — but the engine default
# (session.py: skewJoin.enabled=true) then handles hot keys with zero
# user action, which is why this is the first line of defense and
# salting is the fallback.
#
# Bounded-collect note: the aggregate is |tiers| x |event_types| rows
# (15 here, grid-bounded at any corpus size); it is collected inside the
# scoped-conf window because AQE mitigation happens at EXECUTION time —
# a lazily returned frame would run after the scope restored the
# defaults. The driver re-hashes the re-created bounded frame.
# --------------------------------------------------------------------------
# Third finding: skew detection reads COMPRESSED shuffle-block sizes
# (MapStatus bytes) — naively replicating the hot rows makes the hot
# partition's blocks a repeating byte pattern that lz4 crushes below the
# thresholds, and the skew silently vanishes from AQE's view while the
# reduce task still deserializes 78k rows. The amplification therefore
# perturbs each replica's value by a SYMMETRIC offset ((k - mid) * 1e-6,
# zero-sum per base row, replayed exactly by the oracle) so the hot
# partition's bytes are as incompressible as real data.
AQE_HOT_USER = 8  # present at every SF (68-78 base rows)
AQE_HOT_AMP = 1001  # odd: the +/-500e-6 perturbation ladder is zero-sum


@query(
    "aqe_skew_join_user_tiers",
    oracle=f"""
    WITH working AS (
      SELECT user_id, event_type,
             CASE WHEN user_id = {AQE_HOT_USER}
                  THEN value + (_i - {(AQE_HOT_AMP - 1) // 2}) * 0.000001
                  ELSE value END AS value
      FROM (
        SELECT user_id, event_type, value,
               unnest(range(CASE WHEN user_id = {AQE_HOT_USER}
                            THEN {AQE_HOT_AMP} ELSE 1 END)) AS _i
        FROM events
      )
    ),
    tiers AS (
      SELECT user_id, CASE WHEN user_id % 3 = 0 THEN 'gold'
                           WHEN user_id % 3 = 1 THEN 'silver'
                           ELSE 'bronze' END AS tier
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT tier, event_type, COUNT(*) AS cnt,
           ROUND(SUM(value), 4) AS sum_value,
           TRUE AS aqe_skew_split
    FROM working JOIN tiers USING (user_id)
    GROUP BY tier, event_type
    """,
)
def aqe_skew_join_user_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(tier, event_type, cnt, sum_value, aqe_skew_split): the plain join
    over the hot-user-amplified events, executed under AQE skew-split —
    aqe_skew_split reports whether the final adaptive plan actually
    split the hot partition (oracle-pinned TRUE)."""
    from contextlib import ExitStack

    from parallel_mapreduce_spark.session import scoped_conf

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    n_parts = partition_count(spark)
    working = (
        ev.repartition(n_parts)  # multiple mappers: see the block comment
        .withColumn(
            "_r",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.when(
                        F.col("user_id") == AQE_HOT_USER, F.lit(AQE_HOT_AMP)
                    ).otherwise(F.lit(1)),
                )
            ),
        )
        # zero-sum perturbation ladder (hot rows only): _r is 1-based so
        # the offsets are (_r - (AMP+1)/2) * 1e-6 = -500e-6..+500e-6 —
        # the same multiset the oracle's 0-based (i - (AMP-1)/2) yields.
        .withColumn(
            "value",
            F.when(
                F.col("user_id") == AQE_HOT_USER,
                F.col("value")
                + (F.col("_r") - (AQE_HOT_AMP + 1) // 2) * F.lit(1e-6),
            ).otherwise(F.col("value")),
        )
        .drop("_r")
    )
    tiers = (
        ev.select("user_id")
        .distinct()
        .withColumn(
            "tier",
            F.when(F.col("user_id") % 3 == 0, "gold")
            .when(F.col("user_id") % 3 == 1, "silver")
            .otherwise("bronze"),
        )
        # Second hard-won finding: the distinct's hash-partitioned output
        # satisfies the join's distribution, so the SMJ gets NO fresh
        # shuffle on this side and OptimizeSkewedJoin's
        # Sort(ShuffleQueryStage) pattern cannot match — the rule
        # silently skips. The round-robin repartition breaks the
        # partitioning reuse so the join inserts its own
        # ENSURE_REQUIREMENTS exchange (one extra |tiers|-row shuffle,
        # the price of splittability on a reused-aggregate side).
        .repartition(n_parts)
    )
    confs = {
        # keep the join a shuffle join (tiers would broadcast otherwise)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # thresholds sized to the test corpus's KB-scale shuffle; a real
        # deployment keeps the 256MB/64MB defaults
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    joined = working.join(tiers, "user_id").groupBy("tier", "event_type").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    with ExitStack() as stack:
        for k, v in confs.items():
            stack.enter_context(scoped_conf(spark, k, v))
        rows = joined.collect()  # grid-bounded: |tiers| x |event_types|
        plan = joined._jdf.queryExecution().executedPlan().toString()
    split = "skew=true" in plan
    return spark.createDataFrame(
        [(r.tier, r.event_type, r.cnt, r.sum_value, split) for r in rows],
        "tier string, event_type string, cnt bigint, sum_value double, "
        "aqe_skew_split boolean",
    )
