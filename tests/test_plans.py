"""Physical-plan shape assertions: the 100-TB posture, checked on the plan.

These tests pin the *plan*, not the result: filters reach the parquet scan,
dimension joins broadcast, top-k compiles to TakeOrdered, aggregation is
partial (map-side combine) — the properties SURVEY.md §4.2 calls out as the
engine's asymptotic wins over the reference.
"""

from __future__ import annotations


def _plan(df) -> str:
    # explain("formatted") prints untruncated PushedFilters/ReadSchema
    # (executedPlan().toString() elides long filter lists).
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import filter_project

    plan = _plan(filter_project(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "GreaterThan(o_totalprice" in plan


def test_column_pruning(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import filter_project

    plan = _plan(filter_project(spark, sf_dir))
    # Scan must read only the needed columns, not o_orderdate/o_orderpriority.
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_orderdate" not in read_schema
    assert "o_totalprice" in read_schema


def test_q5_broadcasts_dimensions(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import q5_region_revenue

    plan = _plan(q5_region_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_topk_is_take_ordered(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import topk_orders

    assert "TakeOrderedAndProject" in _plan(topk_orders(spark, sf_dir))


def test_wordcount_has_partial_aggregation(spark, sf_dir):
    from parallel_mapreduce_spark.functions.text import wordcount

    plan = _plan(wordcount(spark, sf_dir))
    # Map-side combine: a partial_count before the exchange (the reference
    # ships every ("w","1") pair across its shuffle instead).
    assert "partial_count" in plan
    assert "Exchange" in plan


def test_lookup_filter_pushed_below_aggregate(spark, sf_dir):
    from parallel_mapreduce_spark.functions.text import wordcount_lookup

    # Catalyst must push `word = term` below the groupBy (the reference
    # aggregates everything then probes a hashmap, src/main.c:55-58).
    plan = _optimized(wordcount_lookup(spark, sf_dir))
    agg_idx = plan.index("Aggregate")
    filter_idx = plan.index("word#")
    assert "Filter" in plan
    # The filter appears beneath the aggregate in the optimized tree:
    below_agg = plan[agg_idx:]
    assert "Filter" in below_agg


def test_range_join_is_broadcast_nested_loop(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import (
        range_join_quantity_bands,
    )

    plan = _plan(range_join_quantity_bands(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan


def test_approx_distinct_accuracy(spark, sf_dir):
    # The error bound is now part of the query's own output (the oracle
    # pins hll_within_15pct TRUE); this test keeps the tighter local bar.
    from parallel_mapreduce_spark.operators.relational import approx_distinct_parts

    rows = approx_distinct_parts(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.hll_within_15pct is True
        assert r.exact_parts > 0


def test_q6_filters_pushed_no_row_shuffle(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import q6_forecast_revenue

    plan = _plan(q6_forecast_revenue(spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan
    # Only the one-row partial aggregates cross an exchange.
    assert "partial_sum" in plan or "partial" in plan


def test_q14_q19_broadcast_part_dimension(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import (
        q14_promo_share,
        q19_disjunctive_revenue,
    )

    for q in (q14_promo_share, q19_disjunctive_revenue):
        plan = _plan(q(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, q.__name__
        # The disjunctive predicate must NOT degrade to a nested-loop join.
        assert "NestedLoop" not in plan, q.__name__


def test_q18_aggregates_before_joining(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import (
        q18_large_volume_customers,
    )

    # Aggregate-then-join: in the optimized tree the quantity aggregate is a
    # descendant of the joins (runs first), so the join input is HAVING-sized.
    plan = _optimized(q18_large_volume_customers(spark, sf_dir))
    assert plan.index("Join") < plan.index("Aggregate")


def test_asof_join_avoids_nested_loop(spark, sf_dir):
    from parallel_mapreduce_spark.operators.timeseries import (
        asof_purchase_attribution,
    )

    # The tagged-union formulation must compile to window-over-exchange, not
    # a range cross join.
    plan = _plan(asof_purchase_attribution(spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "Window" in plan


def test_simhash_neardup_is_equi_join(spark, sf_dir):
    from parallel_mapreduce_spark.functions.dedup import simhash_neardup_pairs

    plan = _plan(simhash_neardup_pairs(spark, sf_dir))
    assert "NestedLoop" not in plan  # band join is an equi-join


def test_salted_join_matches_plain_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.operators.skew import salted_join
    from parallel_mapreduce_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    dim = ev.select("user_id").distinct().withColumn(
        "flag", (F.col("user_id") % 2 == 0)
    )
    plain = ev.join(dim, "user_id").groupBy("flag").count().collect()
    salted = salted_join(ev, dim, "user_id", salt=4).groupBy("flag").count().collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_approx_percentiles_close_to_exact(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import (
        price_percentiles,
        price_percentiles_approx,
    )

    exact = {r.l_returnflag: r.p50 for r in price_percentiles(spark, sf_dir).collect()}
    approx = {r.l_returnflag: r for r in price_percentiles_approx(spark, sf_dir).collect()}
    assert exact.keys() == approx.keys()
    for flag, e50 in exact.items():
        r = approx[flag]
        # The 2% sketch bounds are the query's own output now; the exact
        # p50 must also agree with the exact-percentile query.
        assert r.p50_within_2pct and r.p90_within_2pct and r.p99_within_2pct
        assert abs(r.p50_exact - e50) <= 1e-9, (flag, r.p50_exact, e50)


def test_domain_rebalance_broadcasts_rate_table(spark, sf_dir):
    from parallel_mapreduce_spark.functions.trainprep import domain_rebalance

    plan = _plan(domain_rebalance(spark, sf_dir))
    # The per-language rate table joins back to the corpus as a broadcast —
    # the corpus itself must not shuffle for the join.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_seq_pack_windows_are_sharded_not_per_source(spark, sf_dir):
    from parallel_mapreduce_spark.functions.trainprep import seq_pack_contiguous

    plan = _plan(seq_pack_contiguous(spark, sf_dir))
    # Hierarchical packing: the corpus-sized window must partition by
    # (source, shard) — bounded partitions even when one source dominates —
    # never by source alone or a single-partition global sort; the shard
    # base offsets join back as a broadcast.
    assert "hashpartitioning(source" in plan
    assert "_shard" in plan.split("hashpartitioning(source", 1)[1][:80]
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_vocab_window_runs_after_aggregation(spark, sf_dir):
    from parallel_mapreduce_spark.functions.trainprep import vocab_min_count

    plan = _optimized(vocab_min_count(spark, sf_dir))
    # The id-rank window must sit ABOVE the count aggregate (vocab-sized
    # input), not above the corpus-sized token explode.
    assert plan.index("Window") < plan.index("Aggregate")


def test_vocab_rank_is_sharded_not_single_task(spark, sf_dir):
    from parallel_mapreduce_spark.functions.trainprep import vocab_min_count

    plan = _plan(vocab_min_count(spark, sf_dir))
    # Round-3 verdict "What's wrong #3": the vocabulary rank must never be
    # an unpartitioned window (one task sorting 10^8-10^9 distinct tokens
    # at web scale). The hierarchical rank shows as: a range exchange on
    # the sort key, the local rank window hash-partitioned by the range
    # shard id, the shard bases joined back by broadcast — and NO
    # single-partition exchange anywhere in the plan.
    assert "rangepartitioning(cnt" in plan
    assert "hashpartitioning(_pid" in plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan


def test_zipf_rank_is_sharded_not_single_task(spark, sf_dir):
    from parallel_mapreduce_spark.functions.text import zipf_slope

    plan = _plan(zipf_slope(spark, sf_dir))
    # Same pin as the vocab rank; the trailing scalar regr_slope aggregate
    # is partial (map-side), so its final exchange carries one row per
    # task, not the vocabulary.
    assert "rangepartitioning(cnt" in plan
    assert "hashpartitioning(_pid" in plan
    singles = plan.count("Exchange SinglePartition")
    assert singles <= 1  # only the 1-row-per-task final scalar aggregate


def test_full_outer_is_shuffle_join(spark, sf_dir):
    from parallel_mapreduce_spark.operators.relational import (
        full_outer_customer_orders,
    )

    plan = _plan(full_outer_customer_orders(spark, sf_dir))
    # A full outer join can never broadcast (both sides keep unmatched
    # rows) — it must compile to a shuffle join, FullOuter kind.
    assert "FullOuter" in plan
    assert "BroadcastHashJoin" not in plan or "SortMergeJoin" in plan


def test_ingest_dedup_is_single_linear_pipeline(spark, sf_dir):
    """incremental_dedup_ingest must stay one digest-keyed pipeline: 4 scans
    (3-way batch union + corpus) and no duplicated join subtree — the
    groupBy-rejoin formulation scanned the batch twice more."""
    from parallel_mapreduce_spark.functions.trainprep import (
        incremental_dedup_ingest,
    )

    plan = _plan(incremental_dedup_ingest(spark, sf_dir))
    assert plan.count("Scan parquet") // 2 <= 4  # formatted lists each twice
    assert "Window" in plan  # within-batch keeper is the window MIN


def test_boilerplate_coverage_two_span_passes(spark, sf_dir):
    """The span stream is computed exactly twice (DF census + flag/agg
    pass); the per-doc stats come from ONE aggregation after the flag join."""
    from parallel_mapreduce_spark.functions.trainprep import (
        boilerplate_shingle_coverage,
    )

    plan = _plan(boilerplate_shingle_coverage(spark, sf_dir))
    assert plan.count("Scan parquet") // 2 == 2


def test_shard_manifest_single_pass(spark, sf_dir):
    from parallel_mapreduce_spark.functions.trainprep import (
        train_shard_manifest,
    )

    plan = _plan(train_shard_manifest(spark, sf_dir))
    assert plan.count("Scan parquet") // 2 == 1
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_source_centroids_no_forced_broadcast(spark, sf_dir):
    """The documents-embeddings join must not hard-broadcast either side
    (both grow with the corpus); at test scale AQE may still pick broadcast,
    so assert on the *optimized logical* plan carrying no broadcast hint."""
    from parallel_mapreduce_spark.functions.similarity import source_centroids

    assert "broadcast" not in _optimized(source_centroids(spark, sf_dir)).lower()


def test_sq_ann_broadcasts_query_side_and_equi_joins_nothing_extra(spark, sf_dir):
    from parallel_mapreduce_spark.functions.similarity import ann_sq_topk

    plan = _plan(ann_sq_topk(spark, sf_dir))
    # The query set rides a broadcast nested loop (tiny side); the corpus
    # side must never shuffle for the scoring phase.
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontam_broadcasts_probe_set(spark, sf_dir):
    from parallel_mapreduce_spark.functions.trainprep import (
        decontam_exact_substring,
    )

    plan = _plan(decontam_exact_substring(spark, sf_dir))
    # Containment is non-equi: legal only as a broadcast of the tiny probe
    # list over one corpus scan.
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_pairs_candidate_join_is_equi(spark, sf_dir):
    from parallel_mapreduce_spark.functions.dedup import fuzzy_name_pairs

    plan = _plan(fuzzy_name_pairs(spark, sf_dir))
    # The deletion-variant join must be an equi-join (hash/sort-merge on the
    # variant), never a nested loop over name pairs.
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


def test_chunk_documents_is_shuffle_free(spark, sf_dir):
    from parallel_mapreduce_spark.functions.trainprep import chunk_documents

    plan = _plan(chunk_documents(spark, sf_dir))
    # Exactly one exchange — the explicit _spread repartition ahead of the
    # CPU-heavy slicing. No aggregation/join shuffle after it: chunking is
    # a per-doc map, so everything past the spread is narrow. (formatted
    # plans print each node twice — tree line + "(n) Node" detail header —
    # so count the detail headers.)
    assert plan.count(") Exchange") == 1


def test_interp_gapfill_single_window_family(spark, sf_dir):
    from parallel_mapreduce_spark.operators.timeseries import (
        events_hourly_gapfill_interp,
    )

    plan = _plan(events_hourly_gapfill_interp(spark, sf_dir))
    # Both direction windows partition by event_type — they must share ONE
    # window shuffle, and the grid x types cross stays a broadcast.
    assert plan.count("Exchange hashpartitioning(event_type") <= 2
    assert "CartesianProduct" not in plan


def test_headline_relational_plans_are_codegen(spark, sf_dir):
    """The hot relational paths must run inside WholeStageCodegen spans —
    the JVM-side property every scalar expression in the engine is written
    to preserve (no row-wise Python, no interpreted-only operators)."""
    from parallel_mapreduce_spark.functions.text import wordcount
    from parallel_mapreduce_spark.operators.relational import (
        q1_pricing_summary,
        q3_top_revenue,
    )

    # Under AQE the pre-execution plan carries no codegen annotation;
    # execute and inspect the FINAL adaptive plan, where whole-stage
    # codegen nodes are materialized.
    for fn in (q1_pricing_summary, q3_top_revenue, wordcount):
        df = fn(spark, sf_dir)
        df.collect()  # finalize THIS DataFrame's adaptive plan
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final, fn.__name__
        # "*(n)" node prefixes are the compact whole-stage-codegen marker.
        assert "*(" in final, fn.__name__


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime bloom-filter semi-join pruning is ON in the engine conf; its
    size thresholds only trigger at real scale, so engagement is
    demonstrated here with the thresholds lowered: the selective orders
    filter must inject a might_contain() probe into the lineitem side."""
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.sources import load_table

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        assert "might_contain" in _plan(j)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partition_pruned_read_prunes_directories(spark, sf_dir):
    """The lang='en' filter on the hive-partitioned sink must become a
    PartitionFilters entry on the scan (planning-time directory pruning),
    not a post-scan Filter over all partitions' rows."""
    from parallel_mapreduce_spark.sources.roundtrip import partition_pruned_read

    plan = _plan(partition_pruned_read(spark, sf_dir))
    assert "PartitionFilters" in plan
    assert "lang" in plan.split("PartitionFilters", 1)[1][:200]


def test_kmeans_assignment_adds_no_shuffle(spark, sf_dir):
    """Both Lloyd assignment passes run in-projection against the broadcast
    centroid row: the plan's only exchanges are the two (cid, pos) update
    aggregates, the init TakeOrdered, and the final count — no exchange
    keyed by vec_id ever appears."""
    from parallel_mapreduce_spark.functions.similarity import kmeans_lloyd_2iter

    opt = _optimized(kmeans_lloyd_2iter(spark, sf_dir))
    assert "vec_id" in opt  # sanity: the corpus column is in the plan
    plan = _plan(kmeans_lloyd_2iter(spark, sf_dir))
    import re

    # No Exchange hashpartitioning on vec_id (assignment is shuffle-free).
    assert not re.search(r"Exchange hashpartitioning\(vec_id", plan)


def test_recursive_reachability_recursion_is_post_aggregate(spark, sf_dir):
    """Spark inlines CTEs into every recursive step, so the recursion must
    reference the MATERIALIZED edge list, never the corpus-scale
    derivation: the returned plan contains no Window (LEAD) node and no
    events.parquet scan — only the tiny reach_edges scratch file."""
    from parallel_mapreduce_spark.operators.events import (
        recursive_cte_reachability,
    )

    df = recursive_cte_reachability(spark, sf_dir)
    plan = _plan(df)
    # The recursion's relation prints pathless inside UnionLoop, so pin the
    # source via inputFiles: every input is the materialized reach_edges
    # scratch file — specifically, not merely *some* parquet source — and
    # never the raw events table.
    files = df.inputFiles()
    assert files and all("reach_edges" in f for f in files)
    assert not any("events.parquet" in f for f in files)
    # ...and the plan replays no corpus-scale LEAD derivation per step
    assert "Window" not in plan


def test_nested_schema_pruning_and_nested_filter_pushdown(spark, sf_dir):
    """The nested bundles sink must support surgical reads: selecting
    user_id + stats.total with a stats.n predicate prunes the (heavy)
    tail/kmap columns out of ReadSchema entirely and pushes the
    NESTED-FIELD filter to the parquet scan — the property that makes
    wide nested payloads affordable to query at 100 TB."""
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.sources.roundtrip import (
        nested_types_roundtrip,
    )
    from parallel_mapreduce_spark.sources.tables import sink_dir

    nested_types_roundtrip(spark, sf_dir).collect()  # writes the layout
    back = spark.read.parquet(sink_dir("nested_sink") + "/user_bundles")
    plan = _plan(
        back.filter(F.col("stats.n") > 50).select("user_id", "stats.total")
    )
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "tail" not in read_schema and "kmap" not in read_schema
    assert "stats" in read_schema
    assert "GreaterThan(stats.n,50)" in plan  # nested predicate pushed


def test_variant_scan_reads_shredded_typed_paths_only(spark, sf_dir):
    """variant_get must be pushed INTO the parquet scan (pushVariantIntoScan):
    the read schema is a struct of exactly the four typed shredded paths,
    never the raw metadata/value binaries re-parsed per row."""
    from parallel_mapreduce_spark.sources.roundtrip import variant_shred_roundtrip

    plan = _plan(variant_shred_roundtrip(spark, sf_dir))
    assert "struct<v:struct<0:string,1:double,2:bigint,3:double>>" in plan.replace(" ", "")


def test_deletion_vector_scan_is_broadcast_anti_join(spark, sf_dir):
    """Merge-on-read = base scan minus broadcast tombstones: the DV side
    must build a broadcast hash anti-join (never a shuffle of the fact
    table against deletes-sized data)."""
    from parallel_mapreduce_spark.sources.roundtrip import (
        merge_on_read_deletion_vectors,
    )

    plan = _plan(merge_on_read_deletion_vectors(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_lateral_limit_subquery_decorrelates_to_group_limit(spark, sf_dir):
    """The correlated LATERAL ... LIMIT 2 subquery must decorrelate to one
    join + per-key WindowGroupLimit (map-side top-k pruning before the
    window sort) — never a per-outer-row re-execution, and the outer
    restriction must be pushed into the inner side's scan."""
    from parallel_mapreduce_spark.operators.relational import (
        lateral_top_orders_per_customer,
    )

    df = lateral_top_orders_per_customer(spark, sf_dir)
    opt = _optimized(df)
    assert "WindowGroupLimit" in opt
    assert "CartesianProduct" not in opt
    # outer predicate reaches the inner (orders) branch pre-window
    assert opt.count("% 10") >= 2


def test_pipe_syntax_plan_identical_to_classic_sql(spark, sf_dir):
    """Spark 4's |> pipe chain is pure surface syntax: the optimized plan
    must be byte-identical (modulo expr IDs) to the classic nested-SELECT
    spelling — proving pushdown/partial-agg are unchanged by the syntax."""
    import re

    from parallel_mapreduce_spark.operators.relational import pipe_syntax_order_stats

    pipe = pipe_syntax_order_stats(spark, sf_dir)
    # Classic spelling of the same plan. (The registered DuckDB oracle is NOT
    # reusable here: its CAST(COUNT(*) AS BIGINT) — a DuckDB-hugeint guard —
    # blocks Catalyst from unifying HAVING COUNT(*) with the casted alias,
    # yielding a fatter plan with a duplicate count output.)
    classic = spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS total_price,
               ROUND(MAX(o_totalprice), 4) AS max_price
        FROM orders
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        HAVING n_orders > 10
        """
    )
    canon = lambda df: re.sub(r"#\d+", "#x", _optimized(df))
    assert canon(pipe) == canon(classic)


def test_sql_udf_is_inlined_not_called(spark, sf_dir):
    """CREATE FUNCTION ... RETURN <expr> must be macro-inlined by Catalyst:
    the optimized plan carries the arithmetic itself (inside codegen), no
    function-invocation or Python-eval node, and the quantity filter still
    reaches the parquet scan through the inlined projection."""
    from parallel_mapreduce_spark.operators.relational import sql_udf_net_price_stats

    df = sql_udf_net_price_stats(spark, sf_dir)
    opt = _optimized(df)
    assert "pmr_net_price" not in opt  # no residual call node
    assert "(1.0 - discount" in opt or "(1.0 - l_discount" in opt  # body inlined
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "GreaterThanOrEqual(l_quantity,25.0)" in plan.replace(" ", "")


def test_collated_group_fold_invariants(spark, sf_dir):
    """UTF8_LCASE grouping semantics, checked beyond the oracle: doubled
    (uppercased) names fold into groups of exactly 2, never-doubled names
    stay singletons, and group sizes account for every input row."""
    from parallel_mapreduce_spark.operators.relational import collated_group_fold
    from parallel_mapreduce_spark.sources.tables import load_table

    rows = {r["group_size"]: r for r in collated_group_fold(spark, sf_dir).collect()}
    assert set(rows) <= {1, 2}
    n_sup = load_table(spark, sf_dir, "supplier").count()
    n_doubled = rows.get(2, {"n_groups": 0})["n_groups"]
    total_rows = sum(size * r["n_groups"] for size, r in rows.items())
    any_row = next(iter(rows.values()))
    assert any_row["n_distinct_folded"] == n_sup  # folding recovers the originals
    assert any_row["n_distinct_binary"] == n_sup + n_doubled
    assert total_rows == n_sup + n_doubled


def test_parameterized_sql_binds_before_optimization(spark, sf_dir):
    """Named parameters must bind as literals pre-optimization: both bound
    predicates reach the parquet scan as pushed filters (a post-hoc string
    substitution or a runtime-evaluated parameter node would break this),
    and the IDENTIFIER() table resolves to the ordinary parquet relation."""
    from parallel_mapreduce_spark.operators.relational import (
        parameterized_sql_revenue,
    )

    plan = _plan(parameterized_sql_revenue(spark, sf_dir)).replace(" ", "")
    assert "GreaterThan(o_totalprice,150000.0)" in plan
    assert "EqualTo(o_orderstatus,O)" in plan


def test_null_safe_join_is_hash_join_not_nested_loop(spark, sf_dir):
    """`<=>` must compile to an EQUI hash join: Catalyst rewrites the
    null-safe predicate into join keys (coalesce(k, 0), isnull(k)) so the
    NULL group hashes like any other key — a nested-loop fallback here
    would turn the null-seeded join quadratic at scale. Pin the rewrite
    and the hash strategy on the same joins the report counts (the
    frames come from the report's own builder, so the pin cannot drift
    from the shipped query's seeding)."""
    from parallel_mapreduce_spark.operators.relational import (
        null_seeded_join_sides,
    )

    lhs, rhs = null_seeded_join_sides(spark, sf_dir)
    plan = _plan(lhs.join(rhs, lhs.lk.eqNullSafe(rhs.rk), "inner"))
    assert "HashJoin" in plan  # broadcast or shuffled — never nested loop
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "coalesce(" in plan and "isnull(" in plan  # the equi rewrite


def test_pagination_fuses_into_take_ordered_with_offset(spark, sf_dir):
    """ORDER BY ALL + LIMIT 5 OFFSET 3 must compile to ONE distributed
    top-k operator — TakeOrderedAndProject(limit=8, offset=3), i.e. each
    partition keeps limit+offset rows and the skip happens once at the
    end — with map-side partial aggregation below it. A global Sort (or
    a single-partition Exchange under the limit) would be the
    deep-pagination anti-plan the query's docstring warns about."""
    from parallel_mapreduce_spark.operators.relational import (
        group_by_all_pagination,
    )

    df = group_by_all_pagination(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "limit=8" in plan and "offset=3" in plan
    assert "partial_count" in plan  # GROUP BY ALL resolved to a real agg
    assert "Sort " not in plan  # no global sort node


def test_execute_immediate_variable_binds_before_optimization(spark, sf_dir):
    """The USING-bound session variable must reach the dim scan as a
    pushed literal filter (EqualTo on c_mktsegment) and leave the
    broadcast join intact — dynamic SQL with variables has to match
    static-SQL plan quality or it would silently forfeit pushdown."""
    from parallel_mapreduce_spark.operators.relational import (
        execute_immediate_variables,
    )

    plan = _plan(execute_immediate_variables(spark, sf_dir)).replace(" ", "")
    assert "EqualTo(c_mktsegment," in plan
    assert "BroadcastHashJoin" in plan


def test_aqe_coalesces_post_shuffle_partitions(spark, sf_dir):
    """The runtime half of the shuffle-sizing story: with AQE on, a
    group-by whose shuffle output is far below the target partition size
    must COALESCE its post-shuffle partitions (AQEShuffleRead coalesced)
    instead of running all configured shuffle partitions as micro-tasks
    — at 100 TB the same mechanism right-sizes every stage to the data
    it actually produces rather than to a static conf. AQE decides at
    runtime, so the plan is inspected after execution."""
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.sources import load_table

    df = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.sum("o_totalprice").alias("total"))
    )
    df.collect()  # bounded: 5 groups
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan


def test_dpp_prunes_fact_partitions_at_runtime(spark, sf_dir):
    """Dynamic partition pruning, pinned THREE ways on the shipped query:
    (1) the compiled fact scan carries a dynamicpruningexpression
    PartitionFilter; (2) the EXECUTED scan's metrics show fewer
    partitions/files read than statically present (runtime directory
    skipping actually happened); (3) the DPP-disabled twin compiles the
    same join with no dynamic filter — the delta is the feature."""
    from parallel_mapreduce_spark.sources.roundtrip import (
        dpp_join_parts,
        dpp_partitioned_join,
    )

    df = dpp_partitioned_join(spark, sf_dir)
    plan = _plan(df)
    assert "dynamicpruningexpression" in plan
    assert "dynamicpruning" in plan.split("PartitionFilters", 1)[1][:300]

    df.collect()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    last = execs.apply(execs.size() - 1)
    vals = store.executionMetrics(last.executionId())
    nodes = store.planGraph(last.executionId()).allNodes()
    fact_scan = None
    for i in range(nodes.size()):
        node = nodes.apply(i)
        if "Scan parquet" in node.name() and "docs_by_lang" in node.desc():
            rec = {}
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                v = vals.get(m.accumulatorId())
                if str(v) != "None":
                    rec[m.name()] = str(v)
            fact_scan = rec
    assert fact_scan is not None, "fact scan node not found in SQL store"

    def _n(metric):
        return int(str(metric).strip("Some()").replace(",", ""))

    static_files = _n(fact_scan["static number of files read"])
    read_files = _n(fact_scan["number of files read"])
    read_parts = _n(fact_scan["number of partitions read"])
    # 5 langs in the fixture, dim keeps the top 2: the run must have
    # skipped whole partition directories, not post-filtered rows.
    assert static_files > read_files, fact_scan
    assert read_parts == 2, fact_scan

    key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        fact, dim = dpp_join_parts(spark, sf_dir)
        from pyspark.sql import functions as F

        twin = fact.join(F.broadcast(dim), "lang").groupBy("lang").count()
        assert "dynamicpruning" not in _plan(twin)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_rebalance_hint_compiles_to_rebalance_exchange(spark, sf_dir):
    """The REBALANCE(lang) hint must survive optimization as a
    RebalancePartitions node and compile to the AQE-resizable
    REBALANCE_PARTITIONS_BY_COL exchange — not a plain fixed-width
    hashpartitioning repartition (which AQE may neither merge nor
    split)."""
    from parallel_mapreduce_spark.sources.roundtrip import (
        rebalanced_write_frame,
    )

    df = rebalanced_write_frame(spark, sf_dir)
    assert "RebalancePartitions" in _optimized(df)
    assert "REBALANCE_PARTITIONS_BY_COL" in _plan(df)


def test_join_hints_bind_distinct_physical_strategies(spark, sf_dir):
    """Each join-strategy hint must compile to ITS physical join — the
    manual-override knob for mis-estimated 100 TB plans: BROADCAST(c) ->
    BroadcastHashJoin (fact never shuffles), MERGE(c) -> SortMergeJoin
    (both sides spillable), SHUFFLE_HASH(c) -> ShuffledHashJoin (no
    sort). The registered matrix query value-checks that the physical
    choice cannot change results."""
    from parallel_mapreduce_spark.operators.relational import (
        hinted_join_branch,
    )
    from parallel_mapreduce_spark.sources import register_views

    register_views(spark, sf_dir)
    expected = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    all_nodes = set(expected.values())
    for strategy, node in expected.items():
        plan = _plan(hinted_join_branch(spark, strategy))
        assert node in plan, (strategy, plan)
        for other in all_nodes - {node}:
            assert other not in plan, (strategy, other)


def test_segment_dedup_shuffles_digests_with_partial_aggregation(
    spark, sf_dir
):
    """segment_dedup_reassemble's 100 TB contract in the plan: the
    first-occurrence aggregate is keyed by the (md5, length) DIGEST (raw
    segment text is never a shuffle KEY), runs with a partial (map-side)
    phase so only per-distinct-segment survivors cross the exchange, and
    the final assembly joins on the id — no cartesian anywhere."""
    from parallel_mapreduce_spark.functions.dedup import (
        segment_dedup_reassemble,
    )

    plan = _plan(segment_dedup_reassemble(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # Partial-then-final aggregate pair around the digest exchange.
    assert plan.count("SortAggregate") >= 2 or plan.count("HashAggregate") >= 2
    # The exchange key is the digest pair, not the segment string.
    import re

    exchanges = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    # Catalyst folds md5/length into _groupingexpression aliases: the
    # digest exchange is the one keyed by that PAIR.
    assert any(
        e.count("_groupingexpression") == 2 or ("_k" in e and "_l" in e)
        for e in exchanges
    ), exchanges
    assert not any("seg#" in e for e in exchanges), exchanges


def test_source_cap_windows_are_partitioned(spark, sf_dir):
    """Both ranking windows must declare partitioning (source+salt, then
    source) — the query exists to avoid the single-partition window, so
    an unpartitioned Window node here is a regression."""
    from parallel_mapreduce_spark.functions.trainprep import source_cap_sample

    plan = _plan(source_cap_sample(spark, sf_dir))
    import re

    wins = re.findall(r"row_number\(\).*?partitionBy=\[([^\]]*)\]", plan)
    if not wins:  # formatted plans spell it as PartitionSpec in Arguments
        wins = re.findall(r"\[row_number.*?\], \[([^\]]*)\], \[", plan)
    assert len(wins) >= 2, plan[:2000]
    assert all(w.strip() for w in wins), wins
    assert "Exchange SinglePartition" not in plan


def test_pagerank_dimensions_broadcast_no_cartesian(spark, sf_dir, monkeypatch):
    """pagerank_trade_graph's 100 TB posture: the one corpus-scale pass
    (the routing table, cut once before the rounds) broadcasts both
    dimension sides (supplier, customer) around the lineitem-orders
    shuffle; the rounds add only bounded joins (a broadcast of the cut
    routing table per round), never a CartesianProduct."""
    from parallel_mapreduce_spark.operators import graph

    cut_inputs, real_cut = [], graph.cut

    def spy(df, *args, **kwargs):
        cut_inputs.append(df)
        return real_cut(df, *args, **kwargs)

    monkeypatch.setattr(graph, "cut", spy)
    plan = _plan(graph.pagerank_trade_graph(spark, sf_dir))
    assert "CartesianProduct" not in plan
    (route,) = cut_inputs
    route_plan = _plan(route)
    assert "CartesianProduct" not in route_plan
    assert route_plan.count("BroadcastHashJoin") >= 2  # supplier + customer sides
    # Integer rank arithmetic end to end: no float cast sneaks into the
    # rank expression (the determinism contract the oracle relies on).
    assert "pr_micro" in plan


def test_freq_items_verify_join_is_broadcast(spark, sf_dir):
    """The sketch-proposes/exact-verifies composition in the plan: the
    bounded freqItems candidate row reaches the exact-count filter as a
    broadcast, and the unpivoted count pass is a partial aggregate."""
    from parallel_mapreduce_spark.operators.relational import (
        freq_items_verified,
    )

    plan = _plan(freq_items_verified(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_histogram_profile_is_single_scan(spark, sf_dir):
    """The histogram sketch and the exact audit scalars (count/min/max)
    come out of ONE aggregation pass — the plan may not scan lineitem
    twice to check the sketch against the truth."""
    from parallel_mapreduce_spark.operators.relational import (
        histogram_numeric_profile,
    )

    plan = _plan(histogram_numeric_profile(spark, sf_dir))
    # formatted plans print each node twice (tree + detail); count the
    # one-per-scan Location line instead of the node name.
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    # All four partials (histogram/count/min/max) share the single pass.
    assert "partial_histogram_numeric" in plan and "partial_count" in plan


def test_cached_table_both_consumers_scan_memory(spark, sf_dir):
    """cached_table_reuse's contract in the plan: BOTH aggregate consumers
    read the columnar cache (InMemoryTableScan), never the parquet scan —
    the pay-once posture CACHE TABLE exists for."""
    from parallel_mapreduce_spark.operators.relational import (
        cached_table_reuse,
    )

    plan = _plan(cached_table_reuse(spark, sf_dir))
    # Spark 4 formatted plans spell the cache read "Scan In-memory table".
    assert plan.count("Scan In-memory table") >= 2, plan[:3000]
    # The parquet scan appears only as the InMemoryRelation's BUILD
    # provenance (executed once at CACHE time), never as a live consumer:
    # every aggregate's direct child is the in-memory scan.
    assert "InMemoryRelation" in plan


def test_bounded_persist_ring_evicts_oldest_and_keeps_results_correct(spark):
    """The persist ring must (a) cap cached-frame residency at the ring
    size, unpersisting the oldest on append, and (b) never affect
    results — an evicted frame's plan falls back to recompute."""
    from pyspark.sql import functions as F

    import parallel_mapreduce_spark.session as S

    # Drain whatever earlier tests left in the ring so counts are ours.
    start_len = len(S._PERSIST_RING)
    frames = []
    for i in range(S._PERSIST_RING_CAP + 4):
        df = spark.range(5).withColumn("k", F.lit(i))
        frames.append(S.bounded_persist(df))
    assert len(S._PERSIST_RING) == S._PERSIST_RING_CAP
    # The oldest appended frames (plus anything predating this test that
    # fell off the ring) are no longer cached; the newest still are.
    evicted, kept = frames[0], frames[-1]
    assert kept.storageLevel.useMemory or kept.storageLevel.useDisk
    if start_len == 0:
        assert not (
            evicted.storageLevel.useMemory or evicted.storageLevel.useDisk
        )
    # Evicted frames still compute correctly (recompute fallback).
    assert evicted.count() == 5
    assert [r.k for r in evicted.limit(1).collect()] == [0]
    # Evictions are counted (round-10 review fix): a composition whose
    # persist count overruns the cap loses its speedups silently unless
    # this counter makes the overrun observable.
    before = S.persist_evictions()
    S.bounded_persist(spark.range(3))
    assert S.persist_evictions() == before + 1


def test_bounded_persist_same_plan_holds_one_slot(spark):
    """A second bounded_persist of an already-cached plan takes no ring
    slot: two holders of one plan occupy one slot, so the ring evicts no
    sooner than for one holder, and the cache both share survives the
    ring filling up to its cap behind it."""
    from pyspark.sql import functions as F

    import parallel_mapreduce_spark.session as S

    def cached(df) -> bool:
        return df.storageLevel.useMemory or df.storageLevel.useDisk

    first = S.bounded_persist(spark.range(7).withColumn("k", F.lit("shared")))
    again = S.bounded_persist(spark.range(7).withColumn("k", F.lit("shared")))
    assert sum(f is first or f is again for f in S._PERSIST_RING) == 1
    for i in range(S._PERSIST_RING_CAP - 1):
        S.bounded_persist(spark.range(3).withColumn("k", F.lit(i)))
    assert cached(first) and cached(again)
    assert again.count() == 7
