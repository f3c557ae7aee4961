"""operators/rank: global_row_number (exact global ROW_NUMBER,
hierarchically) and top_k (the per-group window-then-cut).

Pins the contract the vocab/zipf rank queries (and any future global-rank
caller) rely on: the hierarchical value is IDENTICAL to the naive
unpartitioned window for every total order, including under heavy key skew
and descending/mixed sort directions, and the physical plan never contains
a single-partition exchange.
"""

from __future__ import annotations

import random
from collections import defaultdict

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from parallel_mapreduce_spark.operators.rank import global_row_number, top_k


def _naive(df, order):
    return df.withColumn("rank", F.row_number().over(W.orderBy(*order)))


def _assert_matches_naive(df, order):
    got = {
        r["k"]: r["rank"]
        for r in global_row_number(df, order, out="rank").collect()
    }
    want = {r["k"]: r["rank"] for r in _naive(df, order).collect()}
    assert got == want


def test_matches_naive_window_unique_keys(spark):
    df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 37 % 101).alias("v")
    )
    _assert_matches_naive(df, [F.asc("v"), F.asc("k")])


def test_matches_naive_window_desc_and_skew(spark):
    # 90% of rows share one v value (vocab-count-style skew): range
    # partitioning splits the tied run by volume across shards, and the
    # unique tie-breaker k keeps the rank total.
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id")).alias("v"),
    )
    _assert_matches_naive(df, [F.desc("v"), F.asc("k")])


def test_rank_is_dense_one_based(spark):
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    ranks = sorted(
        r["rank"]
        for r in global_row_number(df, [F.asc("k")], out="rank").collect()
    )
    assert ranks == list(range(1, 101))


def test_plan_has_no_single_partition_exchange(spark):
    import contextlib
    import io

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    ranked = global_row_number(df, [F.asc("k")], out="rank")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ranked.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning(k" in plan


def test_property_matches_naive_on_random_frames(spark):
    """Property sweep without per-example Spark jobs being too slow: a few
    seeded random frames with duplicate-heavy keys and mixed directions."""
    import random

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        n = rng.randint(50, 300)
        rows = [
            (i, rng.randint(0, 5), rng.choice("abc"))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "k long, v long, s string")
        order = [F.desc("v"), F.asc("s"), F.asc("k")]
        _assert_matches_naive(df, order)


def test_prefix_sum_matches_naive_window(spark):
    from parallel_mapreduce_spark.operators.rank import global_prefix_sum

    df = spark.range(0, 800).select(
        F.col("id").alias("k"),
        (F.col("id") * 31 % 17).alias("v"),
        ((F.col("id") * 7) % 23 + 1).alias("w"),
    )
    order = [F.asc("v"), F.asc("k")]
    got = {
        r["k"]: r["cum"]
        for r in global_prefix_sum(df, order, "w", out="cum").collect()
    }
    w_naive = W.orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        r["k"]: r["cum"]
        for r in df.withColumn("cum", F.sum("w").over(w_naive)).collect()
    }
    assert got == want
    # Inclusive running sum: the global maximum equals the total weight.
    assert max(got.values()) == df.agg(F.sum("w")).collect()[0][0]


@pytest.mark.parametrize("salted", [False, True], ids=["one_phase", "salted"])
@pytest.mark.parametrize("seed", [3, 11])
def test_top_k_matches_naive_window_cut(spark, seed, salted):
    """top_k == ROW_NUMBER() OVER (PARTITION BY g ORDER BY ...) <= k, in
    both forms, on a frame where 90% of rows share one group and the
    leading sort keys tie heavily (the unique k breaks the ties)."""
    rng = random.Random(seed)
    rows = [
        (
            i,
            0 if rng.random() < 0.9 else rng.randint(1, 6),
            rng.randint(0, 4),
            rng.choice("ab"),
        )
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "k long, g long, v long, s string")
    order = [F.desc("v"), F.asc("s"), F.asc("k")]
    k = rng.randint(2, 9)
    got_df = top_k(
        df, "g", order, k, rank="rk", salt=(F.col("k") % 4) if salted else None
    )
    assert got_df.columns == [*df.columns, "rk"]
    got = sorted(tuple(r) for r in got_df.collect())
    naive = df.withColumn(
        "rk", F.row_number().over(W.partitionBy("g").orderBy(*order))
    ).filter(F.col("rk") <= k)
    assert got == sorted(tuple(r) for r in naive.collect())
    ranks = defaultdict(list)
    for r in got:
        ranks[r[1]].append(r[-1])
    for g, rk in ranks.items():
        assert sorted(rk) == list(range(1, len(rk) + 1)), g
    assert len(ranks[0]) == k  # the skewed group is cut, not truncated early
    # the cut stays the shape Spark pushes down as a per-partition limit:
    # a partial + final WindowGroupLimit per window (two windows if salted)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= (4 if salted else 2), plan
