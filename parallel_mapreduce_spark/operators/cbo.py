"""Cost-based optimization: ANALYZE TABLE statistics driving the planner.

At 100 TB the single most consequential planner decision is build-side
choice: broadcasting a dimension that CBO *knows* (from column statistics)
filters down to MBs removes the fact table's shuffle entirely, while the
same query without statistics falls back to a full sort-merge join. This
module pins that causal chain end-to-end with two byte-identical catalog
copies of the customer table — one never analyzed, one with
``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`` — and shows:

1. the optimizer's size estimate for the *filtered* dimension shrinks and
   a row count appears only on the analyzed copy (filter-selectivity
   estimation needs column stats; without them Catalyst keeps the raw
   relation size);
2. with the broadcast threshold set between the two estimates, the SAME
   query plans a shuffle join on the stats-less copy and a broadcast hash
   join on the analyzed copy — statistics, not hints, flipped the
   physical strategy.

The threshold is derived as the midpoint of the two measured estimates
because test-scale tables are KBs: in production the threshold is a fixed
budget (10 MB default) and the estimates differ by orders of magnitude,
so the flip happens against the fixed value. Deriving it keeps the
exhibit exact at every sf instead of hardcoding one scale's byte sizes.

Reference parity: the reference has no optimizer (its one join-free app
is word count, main.c:10-61); this is SURVEY.md §2.3 extension surface.
AQE is disabled inside the scoped block so the STATIC planner's choice is
what's pinned — at runtime AQE could rescue the stats-less plan, which is
exactly the fallback-vs-planned distinction the exhibit documents.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.session import scoped_conf
from parallel_mapreduce_spark.sources.tables import load_table, sink_dir

SEGMENT = "BUILDING"


def _filtered(spark: SparkSession, table: str) -> DataFrame:
    # Two stacked predicates (~1.7% combined selectivity): without column
    # stats Catalyst cannot estimate either one and keeps the raw relation
    # size; with stats the equality (1/ndv) and range (fraction of
    # [min,max]) selectivities MULTIPLY, so the estimate gap is structural
    # — an order of magnitude, not a few percent — and the midpoint
    # threshold below cannot degenerate at any tested scale.
    return spark.table(table).filter(
        (F.col("c_mktsegment") == SEGMENT) & (F.col("c_acctbal") < 0)
    )


def _size_estimate(df: DataFrame) -> tuple[int, bool]:
    """Optimizer sizeInBytes estimate and whether a row count is known."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(str(stats.sizeInBytes())), stats.rowCount().isDefined()


def _join_strategy(orders: DataFrame, dim: DataFrame) -> str:
    plan = (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*"), F.sum("o_totalprice"), F.round(F.avg("c_acctbal"), 4))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    if "BroadcastHashJoin" in plan:
        return "broadcast"
    if "SortMergeJoin" in plan or "ShuffledHashJoin" in plan:
        return "shuffle"
    return "other"


@query(
    "cbo_stats_broadcast_flip",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS revenue,
           ROUND(AVG(c_acctbal), 4) AS avg_acctbal,
           TRUE AS stats_shrunk_estimate,
           TRUE AS rowcount_only_with_stats,
           TRUE AS flipped_to_broadcast
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = '{SEGMENT}' AND c_acctbal < 0
    GROUP BY c_mktsegment
    """,
)
def cbo_stats_broadcast_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = sink_dir("cbo")
    raw_name = f"pmr_cbo_raw_{os.getpid()}"
    stats_name = f"pmr_cbo_stats_{os.getpid()}"
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    # Two byte-identical copies; overwrite drops any previous catalog entry
    # (and its statistics), so repeated invocations are deterministic.
    for name, sub in ((raw_name, "raw"), (stats_name, "stats")):
        cust.write.mode("overwrite").option("path", f"{base}/{sub}").saveAsTable(name)
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")

    with contextlib.ExitStack() as cs:
        for key, value in (
            ("spark.sql.cbo.enabled", "true"),
            ("spark.sql.cbo.planStats.enabled", "true"),
            ("spark.sql.adaptive.enabled", "false"),
        ):
            cs.enter_context(scoped_conf(spark, key, value))
        est_raw, rows_known_raw = _size_estimate(_filtered(spark, raw_name))
        spark.sql(
            f"ANALYZE TABLE {stats_name} COMPUTE STATISTICS "
            "FOR COLUMNS c_custkey, c_mktsegment, c_acctbal"
        )
        est_stats, rows_known_stats = _size_estimate(_filtered(spark, stats_name))
        # Degenerate-midpoint guard: if the two estimates ever stop
        # separating (compression could in principle push the on-disk raw
        # size under the stats-side rowCount x in-memory-width product),
        # the flip is unprovable — fail with the diagnostic instead of
        # shipping a silent flipped_to_broadcast=false that reads as an
        # engine bug in the driver's red row.
        if est_stats >= est_raw:
            raise AssertionError(
                "CBO estimates not separable: "
                f"no-stats={est_raw}B <= with-stats={est_stats}B — the "
                "exhibit's filter selectivity no longer shrinks the "
                "estimate at this scale; widen the predicate."
            )
        threshold = (est_raw + est_stats) // 2
        cs.enter_context(
            scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", str(threshold))
        )
        strategy_raw = _join_strategy(orders, _filtered(spark, raw_name))
        strategy_stats = _join_strategy(orders, _filtered(spark, stats_name))

    dim = _filtered(spark, stats_name)
    result = (
        orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )
    return result.select(
        "*",
        F.lit(est_stats < est_raw).alias("stats_shrunk_estimate"),
        F.lit(rows_known_stats and not rows_known_raw).alias(
            "rowcount_only_with_stats"
        ),
        F.lit(
            strategy_raw == "shuffle" and strategy_stats == "broadcast"
        ).alias("flipped_to_broadcast"),
    )
