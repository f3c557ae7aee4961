"""Semantic pins for the round-7 session-3 operators (beyond oracle parity):
the BPE merge rule's locality, PageRank's integer-mass invariants, and the
overlap grid's completeness."""

from __future__ import annotations

from pyspark.sql import functions as F


def _apply_merge(spark, seq, a, b):
    from parallel_mapreduce_spark.functions.text import _BPE_MERGE_EXPR

    df = spark.createDataFrame(
        [(seq, a, b)], "s array<string>, a string, b string"
    )
    return df.select(F.expr(_BPE_MERGE_EXPR).alias("m")).first()["m"]


def test_bpe_merge_rule_golden(spark):
    # Plain adjacent match merges.
    assert _apply_merge(spark, ["a", "b", "c"], "a", "b") == ["ab", "c"]
    # Two disjoint matches both merge (left-to-right == local for a != b).
    assert _apply_merge(spark, ["x", "a", "b", "a", "b"], "a", "b") == [
        "x",
        "ab",
        "ab",
    ]
    # The consumed position is dropped even when its symbol equals b again.
    assert _apply_merge(spark, ["a", "b", "b"], "a", "b") == ["ab", "b"]
    # No match -> identity.
    assert _apply_merge(spark, ["b", "a"], "a", "b") == ["b", "a"]
    # Multi-char symbols merge like any other (later rounds).
    assert _apply_merge(spark, ["ab", "c", "d"], "ab", "c") == ["abc", "d"]


def test_bpe_rounds_monotone_and_distinct(spark, sf_dir):
    from parallel_mapreduce_spark.functions.text import bpe_train_3merges

    rows = {r["round"]: r for r in bpe_train_3merges(spark, sf_dir).collect()}
    assert sorted(rows) == [1, 2, 3]
    # Each merge strictly shrinks the corpus symbol total by exactly its
    # weighted pair count (every merged occurrence removes one symbol).
    prev = None
    for r in (1, 2, 3):
        row = rows[r]
        assert row["pair_count"] > 0
        if prev is not None:
            assert prev["symbols_after"] - row["symbols_after"] == row[
                "pair_count"
            ]
        prev = row
    # Learned merges are distinct pairs.
    assert len({rows[r]["pair"] for r in rows}) == 3


def test_pagerank_integer_mass_invariants(spark, sf_dir):
    from parallel_mapreduce_spark.operators.graph import (
        PR_TELEPORT,
        PR_UNIT,
        pagerank_trade_graph,
    )

    rows = pagerank_trade_graph(spark, sf_dir).collect()
    assert len(rows) == 25
    total = sum(r["pr_micro"] for r in rows)
    # Every node keeps at least the teleport mass; integer flooring only
    # ever LOSES mass, so the total never exceeds the initial N * UNIT.
    assert all(r["pr_micro"] >= PR_TELEPORT for r in rows)
    assert total <= 25 * PR_UNIT
    # Damping keeps at least the teleport share of total mass in play.
    assert total >= 25 * PR_TELEPORT


def test_source_overlap_grid_is_complete(spark, sf_dir):
    from parallel_mapreduce_spark.functions.dedup import source_overlap_matrix

    rows = source_overlap_matrix(spark, sf_dir).collect()
    srcs = {r["source_a"] for r in rows} | {r["source_b"] for r in rows}
    n = len(srcs)
    assert len(rows) == n * (n - 1) // 2  # zero pairs included
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 <= r["n_shared"] <= min(r["n_a"], r["n_b"])
        assert 0.0 <= r["containment"] <= 1.0


def test_theta_set_algebra_identities(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import (
        theta_customer_set_algebra,
    )

    r = theta_customer_set_algebra(spark, sf_dir).collect()[0]
    # Inclusion-exclusion and partition identities on the exact counts.
    assert r["n_union"] == r["n_f"] + r["n_o"] - r["n_both"]
    assert r["n_f_only"] == r["n_f"] - r["n_both"]
    # sf0.001/0.01 are inside the Theta exact regime (< 4096 distincts):
    # the bound booleans must hold with room to spare there.
    assert all(
        r[c]
        for c in (
            "f_within_bound",
            "o_within_bound",
            "union_within_bound",
            "intersect_within_bound",
            "difference_within_bound",
        )
    )


def test_kll_rank_bound_holds(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import (
        KLL_PROBES,
        kll_quantile_rollup,
    )

    rows = {r["q"]: r for r in kll_quantile_rollup(spark, sf_dir).collect()}
    assert sorted(rows) == sorted(KLL_PROBES)
    assert all(rows[q]["rank_within_bound"] for q in rows)
    # Quantile values are monotone in q.
    vals = [rows[q]["exact_value"] for q in sorted(rows)]
    assert vals == sorted(vals)


def test_bitmap_rollup_matches_exact_everywhere(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import (
        bitmap_distinct_rollup,
    )

    for r in bitmap_distinct_rollup(spark, sf_dir).collect():
        assert r["fine_bitmap_exact"] and r["merged_bitmap_exact"]
        # Summing finer-grain distincts can only overcount the coarser
        # grain (a part may ship under both linestatuses).
        assert r["sum_fine_distinct"] >= r["n_distinct_parts"]


def test_pagerank_dangling_and_sourceless_nations_match_oracle(spark, sf_dir, tmp_path):
    """PageRank on a hand-made five-nation world with both edge cases the
    generated worlds may lack: nation 4 has customers but no orders (no
    out-edges: its rank is dangling mass, spread over every node) and
    nation 3 has no supplier (no in-edges: it keeps only the teleport and
    dangling shares). Ranks equal the DuckDB oracle exactly."""
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parallel_mapreduce_spark.operators.graph import (
        _pagerank_oracle,
        pagerank_trade_graph,
    )
    from parallel_mapreduce_spark.sources.tables import TABLES

    # customer c (nation c - 1) buys from supplier s (nation), n lineitems
    trades = {
        (1, 2): 3, (1, 3): 1, (1, 4): 2,  # nation 0 -> 1, 2, 4
        (2, 1): 2, (2, 4): 1,  # nation 1 -> 0, 4
        (3, 1): 1, (3, 2): 1,  # nation 2 -> 0, 1
        (4, 1): 5, (4, 3): 2,  # nation 3 -> 0, 2
    }
    supp_nation = {1: 0, 2: 1, 3: 2, 4: 4}
    lines = [(c, s) for (c, s), n in trades.items() for _ in range(n)]
    i32, i64 = pa.int32(), pa.int64()
    world = {
        "nation": {
            "n_nationkey": pa.array(range(5), i32),
            "n_name": [f"N{k}" for k in range(5)],
        },
        "customer": {
            "c_custkey": pa.array(range(1, 6), i64),
            "c_nationkey": pa.array(range(5), i32),
        },
        "supplier": {
            "s_suppkey": pa.array(list(supp_nation), i64),
            "s_nationkey": pa.array(list(supp_nation.values()), i32),
        },
        "orders": {
            "o_orderkey": pa.array(range(len(lines)), i64),
            "o_custkey": pa.array([c for c, _ in lines], i64),
        },
        "lineitem": {
            "l_orderkey": pa.array(range(len(lines)), i64),
            "l_suppkey": pa.array([s for _, s in lines], i64),
        },
    }
    for name in TABLES:
        dst = tmp_path / f"{name}.parquet"
        if name in world:
            pq.write_table(pa.table(world[name]), dst)
        else:
            shutil.copy(f"{sf_dir}/{name}.parquet", dst)

    got = sorted(tuple(r) for r in pagerank_trade_graph(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    for name in world:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{tmp_path}/{name}.parquet'")
    want = sorted(con.sql(_pagerank_oracle()).fetchall())
    con.close()
    assert got == want
    ranks = dict(got)
    assert len(ranks) == 5 and ranks["N3"] < min(ranks[f"N{k}"] for k in (0, 1, 2))
