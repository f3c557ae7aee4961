"""Text-format source/sink round trips, value-checked through the filesystem.

The reference's only source is text files (SURVEY.md §1.1); the engine's
CSV/JSON readers (`sources.read_csv` / `read_json`) are exercised here as
registered queries: snapshot a table subset to the format, read it back with
an EXPLICIT schema (never inference — an inference pass reads the data
twice, prohibitive at 100 TB), and aggregate the read-back rows. The oracle
computes the same aggregate from the parquet truth, so a value mismatch in
either the writer or the reader fails the check.

Format caveats encoded here (and why parquet is the default at scale):
- CSV has no types — the explicit schema re-types on read; floats survive
  because Spark writes round-trippable decimal text.
- JSON-lines carries field names per row (self-describing but 5-10x the
  bytes); the explicit schema skips inference and pins field order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.sources.tables import (
    load_table,
    read_csv,
    read_json,
    sink_dir,
)


@query(
    "csv_roundtrip_order_stats",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total_spend
    FROM orders
    WHERE o_totalprice > 100000
    GROUP BY o_orderstatus
    """,
)
def csv_roundtrip_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders (filtered) -> CSV sink -> explicit-schema CSV scan -> agg."""
    sub = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    out = sink_dir("csv_sink") + "/orders"
    sub.write.mode("overwrite").option("header", "true").csv(out)
    back = read_csv(
        spark, out,
        schema="o_orderkey bigint, o_orderstatus string, o_totalprice double",
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
    )


@query(
    "json_roundtrip_doc_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    """,
)
def json_roundtrip_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> JSON-lines sink -> explicit-schema JSON scan -> agg."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = sink_dir("json_sink") + "/docs"
    docs.write.mode("overwrite").json(out)
    back = read_json(
        spark, out, schema="doc_id bigint, lang string, n_chars bigint"
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


CORRUPT_MOD = 50  # doc_id % 50 == 0 lines are deterministically mangled


@query(
    "json_ingest_corrupt_tolerant",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (doc_id % {CORRUPT_MOD} <> 0) AS BIGINT) AS n_good,
           CAST(COUNT(*) FILTER (doc_id % {CORRUPT_MOD} = 0) AS BIGINT) AS n_corrupt,
           CAST(SUM(n_chars) FILTER (doc_id % {CORRUPT_MOD} <> 0) AS BIGINT)
             AS good_chars
    FROM documents
    """,
)
def json_ingest_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest over a feed with deterministically mangled
    lines (every CORRUPT_MOD-th doc's JSON is truncated mid-object). A real
    crawl/firehose always carries malformed records; the reader must survive
    them (null-row them) rather than fail the job — FAILFAST at 100 TB means
    one bad line kills hours of work. The oracle pins the exact good/corrupt
    split, proving corrupt lines neither crash the scan nor leak into the
    typed rows."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    line = F.to_json(F.struct("doc_id", "lang", "n_chars"))
    mangled = F.when(
        F.col("doc_id") % CORRUPT_MOD == 0, F.substring(line, 1, 9)
    ).otherwise(line)
    out = sink_dir("corrupt_feed") + "/feed"
    docs.select(mangled.alias("value")).write.mode("overwrite").text(out)
    back = (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint")
        .option("mode", "PERMISSIVE")
        .json(out)
    )
    good = F.col("doc_id").isNotNull()
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(good.cast("long")).alias("n_good"),
        F.sum((~good).cast("long")).alias("n_corrupt"),
        F.sum(F.when(good, F.col("n_chars"))).alias("good_chars"),
    )


@query(
    "bucketed_colocated_join",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity >= 45
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l_quantity), 4) AS qty
    FROM li JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-sink round trip + co-located join, value-checked: both
    sides are written bucketed+sorted by the join key (write_bucketed),
    read back as tables, and joined WITHOUT an exchange — the scan itself
    satisfies the sort-merge join's distribution (plan pinned in
    tests/test_sources.py). The oracle computes the same join from the
    raw tables, so the check covers the bucketed WRITER, the bucketed
    SCAN, and the join result. At 100 TB this is the ingest-once,
    join-many layout that removes the dominant shuffle from every
    downstream join on the key.

    Table names are per-process constants and write_bucketed overwrites,
    so repeated invocations (bench best-of-N) reuse one catalog entry +
    one on-disk copy per side instead of accumulating a pair per call."""
    import os

    from parallel_mapreduce_spark.sources.tables import write_bucketed

    base = sink_dir("bucketed")
    li_name = f"pmr_li_b_{os.getpid()}"
    o_name = f"pmr_o_b_{os.getpid()}"
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_quantity")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    write_bucketed(li, li_name, f"{base}/li", "l_orderkey", buckets=8)
    write_bucketed(orders, o_name, f"{base}/o", "o_orderkey", buckets=8)
    li_b = spark.table(li_name)
    o_b = spark.table(o_name)
    return (
        li_b.join(o_b, li_b.l_orderkey == o_b.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_quantity"), 4).alias("qty"),
        )
    )


@query(
    "orc_roundtrip_lineitem_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice), 4) AS sum_price
    FROM lineitem
    WHERE l_quantity > 30
    GROUP BY l_returnflag
    """,
)
def orc_roundtrip_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem (filtered) -> ORC sink -> ORC scan -> agg. ORC is Spark's
    other built-in columnar format (predicate pushdown + column pruning
    like parquet, zlib by default); the round trip proves the writer and
    the vectorized ORC reader agree with the parquet truth."""
    sub = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
    )
    out = sink_dir("orc_sink") + "/lineitem"
    sub.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
    )


@query(
    "partition_pruned_read",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE lang = 'en'
    GROUP BY source
    """,
)
def partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> hive-partitioned (by lang) parquet sink -> scan with a
    partition-key filter -> agg. The filter prunes whole directories at
    planning time (PartitionFilters in the scan node, pinned by
    tests/test_plans.py) — the read never opens the non-matching
    partitions' files, which is the 100 TB point of partitioned layouts."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = sink_dir("pruned_sink") + "/docs_by_lang"
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@query(
    "range_clustered_write_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(o_totalprice), 4) AS min_price,
           ROUND(MAX(o_totalprice), 4) AS max_price,
           CAST(0 AS BIGINT) AS overlapping_file_pairs
    FROM orders
    """,
)
def range_clustered_write_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered layout: repartitionByRange + sortWithinPartitions
    before the write gives each output file a DISJOINT value range — the
    layout that lets any min/max-stats-aware reader (parquet row-group
    stats, file skipping) prune files for range predicates. The query
    writes the layout, reads it back, recomputes per-file [min, max]
    intervals from the data, and reports the number of OVERLAPPING file
    pairs — the oracle pins it to zero, so the clustering property itself
    is value-checked (plus row/min/max conservation through the round
    trip). At 100 TB this layout is the poor-man's z-order for one key:
    range exchange + local sort, no global single-task sort anywhere."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    out = sink_dir("range_sink") + "/orders_by_price"
    (
        orders.repartitionByRange(8, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "o_totalprice", F.input_file_name().alias("f")
    )
    ranges = back.groupBy("f").agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    a = ranges.select(
        F.col("f").alias("fa"), F.col("lo").alias("la"), F.col("hi").alias("ha")
    )
    b = ranges.select(
        F.col("f").alias("fb"), F.col("lo").alias("lb"), F.col("hi").alias("hb")
    )
    overlaps = (
        a.join(
            b,
            (F.col("fa") < F.col("fb"))
            & (F.col("la") <= F.col("hb"))
            & (F.col("lb") <= F.col("ha")),
            "inner",
        )
        .agg(F.count("*").alias("overlapping_file_pairs"))
    )
    totals = back.agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
    )
    return totals.crossJoin(F.broadcast(overlaps))


SCHEMA_EVOLVE_CUTOFF = "1998-01-01"


# --------------------------------------------------------------------------
# Schema evolution across ingest batches: an early batch was written BEFORE
# a column existed; a later batch carries it. mergeSchema=true unions the
# file schemas at read time (old rows surface NULL for the new column) —
# the standard posture for a long-lived 100 TB lake where re-writing old
# partitions to backfill a column is off the table. Reading with the
# merged schema costs one footer union at planning; the data files are
# untouched. The aggregate groups by the evolved column with a sentinel
# for pre-evolution rows, proving NULL-surfacing end to end.
# --------------------------------------------------------------------------
@query(
    "schema_evolution_merged_read",
    oracle=f"""
    SELECT CASE WHEN o_orderdate >= TIMESTAMP '{SCHEMA_EVOLVE_CUTOFF}'
                THEN o_orderpriority ELSE '<pre-evolution>' END AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS spend
    FROM orders
    GROUP BY 1
    """,
)
def schema_evolution_merged_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(SCHEMA_EVOLVE_CUTOFF).cast("timestamp")
    root = sink_dir("schema_evolve")
    # Batch 1 (old writer): no o_orderpriority column existed yet.
    orders.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(root + "/batch=old")
    # Batch 2 (new writer): the evolved schema with the added column.
    orders.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(root + "/batch=new")
    merged = spark.read.option("mergeSchema", "true").parquet(
        root + "/batch=old", root + "/batch=new"
    )
    return merged.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias(
            "priority"
        )
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("spend"),
    )


ZORDER_BITS = 4  # 16 buckets per dimension -> 8-bit z-values


def _zorder_bits_sql(bx: str, by: str) -> str:
    """Portable bit-interleave of two {0..15} bucket ids (x gets the odd
    bits, y the even) — pure integer arithmetic, identical in Spark SQL and
    DuckDB."""
    terms = []
    for k in range(ZORDER_BITS):
        terms.append(f"(({bx} // {1 << k}) % 2) * {1 << (2 * k + 1)}")
        terms.append(f"(({by} // {1 << k}) % 2) * {1 << (2 * k)}")
    return " + ".join(terms)


# --------------------------------------------------------------------------
# Z-ORDER clustered layout: the multi-dimensional companion to
# range_clustered_write_stats. A single-key range sort gives perfect file
# skipping on ONE column and none on any other; interleaving the bits of
# two bucketized dimensions (customer, price) into a z-value and
# range-clustering on THAT gives useful min/max pruning on BOTH — the
# Delta/Iceberg OPTIMIZE ZORDER BY move, built from the same two
# primitives (broadcast bounds + repartitionByRange), still with no global
# single-task sort. The z math is integer-exact on both engines (integer
# bucket of custkey; IEEE-identical float bucket of price), so the oracle
# value-checks the interleave and the per-octant aggregate through the
# write -> read-back round trip; the two-dimensional skipping property of
# the written files is pinned in tests/test_sources.py.
# --------------------------------------------------------------------------
@query(
    "zorder_clustered_write_stats",
    oracle=f"""
    WITH b AS (
      SELECT MIN(o_custkey) AS minc, MAX(o_custkey) AS maxc,
             MIN(o_totalprice) AS minp, MAX(o_totalprice) AS maxp
      FROM orders
    ), z AS (
      SELECT o_totalprice,
             {_zorder_bits_sql(
                 "((o_custkey - minc) * 16) // (maxc - minc + 1)",
                 "LEAST(15, CAST(FLOOR((o_totalprice - minp) * 16.0 "
                 "/ (maxp - minp + 1e-9)) AS BIGINT))",
             )} AS zval
      FROM orders CROSS JOIN b
    )
    SELECT CAST(zval // 32 AS BIGINT) AS z_octant,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(zval) AS BIGINT) AS min_z,
           CAST(MAX(zval) AS BIGINT) AS max_z,
           ROUND(SUM(o_totalprice), 4) AS spend
    FROM z
    GROUP BY 1
    """,
)
def zorder_clustered_write_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    b = orders.agg(
        F.min("o_custkey").alias("minc"),
        F.max("o_custkey").alias("maxc"),
        F.min("o_totalprice").alias("minp"),
        F.max("o_totalprice").alias("maxp"),
    )
    # Integer `div` keeps the bucket math identical to the oracle's `//`
    # with no float in the custkey path at all.
    bx = F.expr("((o_custkey - minc) * 16) div (maxc - minc + 1)")
    by = F.least(
        F.lit(15),
        F.floor(
            (F.col("o_totalprice") - F.col("minp"))
            * 16.0
            / (F.col("maxp") - F.col("minp") + 1e-9)
        ),
    ).cast("long")
    zval = F.lit(0)
    for k in range(ZORDER_BITS):
        zval = (
            zval
            + (F.shiftright(bx.cast("int"), k) % 2) * (1 << (2 * k + 1))
            + (F.shiftright(by.cast("int"), k) % 2) * (1 << (2 * k))
        )
    clustered = orders.crossJoin(F.broadcast(b)).withColumn("zval", zval)
    out = sink_dir("zorder_sink") + "/orders_zorder"
    (
        clustered.select("o_orderkey", "o_custkey", "o_totalprice", "zval")
        .repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy((F.col("zval") / 32).cast("long").alias("z_octant")).agg(
        F.count("*").alias("n_orders"),
        F.min("zval").alias("min_z"),
        F.max("zval").alias("max_z"),
        F.round(F.sum("o_totalprice"), 4).alias("spend"),
    )


# --------------------------------------------------------------------------
# Nested-types parquet round trip: struct<n,total> + array<struct> tail +
# map<string,bigint> counts, built per user, written to parquet, read
# back, and flattened with higher-order functions — the complex-schema IO
# surface (Parquet's repeated/key_value groups) a 100 TB lake leans on for
# event payloads and feature bundles. Determinism: the tail is the last 3
# events in (ts, event_id) order via array_sort on structs; the map is
# rendered through SORTED map_entries (map iteration order is undefined,
# so no map value ever crosses the comparison unordered).
# --------------------------------------------------------------------------
@query(
    "nested_types_roundtrip",
    oracle="""
    WITH b AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tss,
             event_type AS etype,
             COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), -1)
               AS k,
             value
      FROM events
    ),
    pt AS (SELECT user_id, etype, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM b GROUP BY user_id, etype),
    km AS (SELECT user_id,
                  string_agg(etype || '=' || cnt, ',' ORDER BY etype)
                    AS kmap_csv
           FROM pt GROUP BY user_id),
    r AS (SELECT user_id, event_id, etype, k, tss,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY tss DESC, event_id DESC) AS rn
          FROM b),
    tl AS (SELECT user_id,
                  string_agg(event_id || ':' || etype || ':' || k, ','
                             ORDER BY tss, event_id) AS tail_csv
           FROM r WHERE rn <= 3 GROUP BY user_id),
    st AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                  ROUND(SUM(value), 4) AS total
           FROM b GROUP BY user_id)
    SELECT st.user_id, n, total, tail_csv, kmap_csv
    FROM st JOIN tl ON st.user_id = tl.user_id
    JOIN km ON st.user_id = km.user_id
    """,
)
def nested_types_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    k = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(-1)
    )
    base = ev.select(
        "user_id",
        us.alias("us"),
        "event_id",
        F.col("event_type").alias("etype"),
        k.alias("k"),
        "value",
    )
    per_type = base.groupBy("user_id", "etype").agg(
        F.count("*").alias("cnt")
    )
    kmap = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("etype", "cnt")))
        ).alias("kmap")
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("us", "event_id", "etype", "k"))
    )
    stats = base.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
        F.slice(
            ordered,
            F.greatest(F.lit(1), F.size(ordered) - F.lit(2)),
            F.lit(3),
        ).alias("tail"),
    )
    nested = stats.join(kmap, "user_id").select(
        "user_id",
        F.struct("n", "total").alias("stats"),
        "tail",
        "kmap",
    )
    out = sink_dir("nested_sink") + "/user_bundles"
    nested.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    tail_csv = F.array_join(
        F.transform(
            F.col("tail"),
            lambda x: F.concat_ws(
                ":",
                x.getField("event_id"),
                x.getField("etype"),
                x.getField("k"),
            ),
        ),
        ",",
    )
    kmap_csv = F.array_join(
        F.transform(
            F.array_sort(F.map_entries("kmap")),
            lambda e: F.concat_ws("=", e.getField("key"), e.getField("value")),
        ),
        ",",
    )
    return back.select(
        "user_id",
        F.col("stats.n").alias("n"),
        F.col("stats.total").alias("total"),
        tail_csv.alias("tail_csv"),
        kmap_csv.alias("kmap_csv"),
    )


COMPACT_SMALL_FILES = 16  # forced writer fan-out for the "before" layout


# --------------------------------------------------------------------------
# Small-files compaction (the OPTIMIZE/rewrite pass): a partitioned sink
# written by a wide round-robin writer leaves N files per partition — the
# small-files problem that murders scan planning and open() overhead at
# 100 TB scale — and the compactor rewrites it to ONE file per partition
# by repartitioning ON the partition column before the write (every
# partition's rows land in exactly one task, so the file count is the
# partition count, deterministically). Rows are value-conserved through
# both rewrites; the oracle pins files_after == n_partitions exactly and
# the fragmentation/compaction properties as booleans (the BEFORE count
# is round-robin-placement dependent at small row counts, so only its
# "worse than after" property is scale-stable).
# --------------------------------------------------------------------------
@query(
    "small_files_compaction_stats",
    oracle=f"""
    WITH d AS (SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
               FROM events)
    SELECT CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_partitions,
           CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS files_after,
           TRUE AS was_fragmented,
           TRUE AS one_file_per_partition
    """,
)
def small_files_compaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    )
    base = sink_dir("compaction")
    before, after = base + "/before", base + "/after"
    # "Before": a 16-way round-robin writer -> 16 files in every day dir
    # (every day has >> 16 rows at all sfs, so every task holds every day).
    ev.repartition(COMPACT_SMALL_FILES).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(before)
    src = spark.read.parquet(before)
    # The compactor: repartition ON the partition column -> one task owns
    # each day -> exactly one file per day dir.
    src.repartition("day").write.mode("overwrite").partitionBy("day").parquet(
        after
    )
    compacted = spark.read.parquet(after)

    def file_count(df: DataFrame):
        return df.select(F.input_file_name().alias("f")).distinct().count()

    n_before = file_count(src)
    n_after = file_count(compacted)
    n_parts = compacted.select("day").distinct().count()
    return compacted.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("day").alias("n_partitions"),
        F.lit(n_after).cast("long").alias("files_after"),
        F.lit(n_before > n_after).alias("was_fragmented"),
        F.lit(n_after == n_parts).alias("one_file_per_partition"),
    )


# --------------------------------------------------------------------------
# VARIANT shred-on-write round trip: Spark 4's semi-structured column type
# through parquet and back. The open-format answer to "store JSON without
# re-parsing it on every read": parse once at ingest, store as VARIANT,
# and the writer SHREDS common typed paths into parquet columns
# (typed_value subtree) so reads prune/push down like any columnar data —
# at 100 TB this is the difference between a JSON-string scan that
# re-parses every byte and a columnar scan that touches only '$.amount'.
# All four shredding confs default ON in this Spark
# (spark.sql.variant.writeShredding.enabled / inferShreddingSchema /
# allowReadingShredded / pushVariantIntoScan); the query additionally
# PROVES shredding happened by inspecting the written parquet footer for
# the typed_value group (a metadata read, no data pass) and pinning it as
# an oracle-checked TRUE. The oracle replays the typed extraction from
# the raw relational columns, so parse -> shred -> scan -> variant_get
# must be value-lossless end to end.
# --------------------------------------------------------------------------
@query(
    "variant_shred_roundtrip",
    oracle="""
    SELECT event_type AS etype,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS sum_amount,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           ROUND(SUM(value * 2), 4) AS sum_arr1,
           TRUE AS shredded_on_disk
    FROM events
    GROUP BY event_type
    """,
)
def variant_shred_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "props"
    )
    # Heterogeneous payload per event: string + double + nested int + array
    # (the shapes a real event-stream JSON column mixes).
    payload = F.to_json(
        F.struct(
            F.col("event_type").alias("type"),
            F.col("value").alias("amount"),
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            F.array(F.col("value"), F.col("value") * 2).alias("arr"),
        )
    )
    out = sink_dir("variant_sink") + "/events_variant"
    ev.select("event_id", F.parse_json(payload).alias("v")).write.mode(
        "overwrite"
    ).parquet(out)

    def _shredded(path: str) -> bool:
        # Footer-level proof: a shredded variant column is a parquet group
        # with a typed_value subtree next to metadata/value; an unshredded
        # one has only metadata+value binaries. Metadata-only read, via the
        # JVM parquet reader (pyarrow's thrift parser predates the variant
        # logical-type annotation and refuses the footer outright).
        import glob

        parts = sorted(glob.glob(path + "/part-*.parquet"))
        if not parts:
            raise ValueError(f"no parquet part files under {path}")
        jvm = spark.sparkContext._jvm

        def _footer_shredded(f: str) -> bool:
            footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                spark._jsc.hadoopConfiguration(),
                jvm.org.apache.hadoop.fs.Path(f),
            )
            schema = footer.getFileMetaData().getSchema().toString()
            return "typed_value" in schema

        # Every part file must agree: shredding is driven by session confs
        # (uniform across the write), so a per-file divergence means the
        # write is broken — surface it instead of reporting file [0]'s state.
        states = {_footer_shredded(f) for f in parts}
        if len(states) > 1:
            raise ValueError(f"per-file shredding divergence under {path}")
        return states.pop()

    back = spark.read.parquet(out)
    typed = back.select(
        F.expr("variant_get(v, '$.type', 'string')").alias("etype"),
        F.expr("variant_get(v, '$.amount', 'double')").alias("amount"),
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
        F.expr("variant_get(v, '$.arr[1]', 'double')").alias("arr1"),
    )
    return typed.groupBy("etype").agg(
        F.count("*").alias("n"),
        F.round(F.sum("amount"), 4).alias("sum_amount"),
        F.sum("k").alias("sum_k"),
        F.round(F.sum("arr1"), 4).alias("sum_arr1"),
        F.lit(_shredded(out)).alias("shredded_on_disk"),
    )


DV_DELETE_MOD = 7  # delete finished orders whose key is divisible by this


# --------------------------------------------------------------------------
# Merge-on-read DELETE via deletion vectors: the lakehouse pattern (Delta
# deletion vectors / Iceberg positional deletes) without a table format —
# a DELETE against a 100 TB parquet table must not rewrite the data files
# (copy-on-write rewrites TBs to drop KBs). Instead the delete pass
# records (file, row-position) tombstones — positions come from the
# parquet reader's own _metadata.row_index, so no synthetic key column
# has to exist — and every read anti-joins the broadcast-small DV set.
# Compaction folds DVs into rewritten files later, off the query path.
# The oracle replays the delete LOGICALLY (predicate filter on the raw
# table), value-proving that positional deletion selects exactly the
# predicate's rows — the core invariant a DV implementation must keep.
# --------------------------------------------------------------------------
def dv_alive_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-on-read scan pre-aggregation: base rows minus positional
    tombstones. Factored out so tests can assert the kept set key-for-key
    (not just counts) against the logical filter."""
    base = sink_dir("dv") + "/orders"
    dv_dir = sink_dir("dv") + "/tombstones"
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).repartition(8).write.mode("overwrite").parquet(base)

    with_pos = spark.read.parquet(base).select(
        "*",
        F.col("_metadata.file_name").alias("_file"),
        F.col("_metadata.row_index").alias("_pos"),
    )
    # The DELETE pass: write positions only — never the data files.
    doomed = (F.col("o_orderstatus") == "F") & (
        F.col("o_orderkey") % DV_DELETE_MOD == 0
    )
    with_pos.filter(doomed).select("_file", "_pos").write.mode(
        "overwrite"
    ).parquet(dv_dir)
    # Merge-on-read scan: base minus tombstones. The DV side is deletes-
    # sized (broadcast); the base side streams — no shuffle of the fact.
    dv = spark.read.parquet(dv_dir)
    return with_pos.join(F.broadcast(dv), ["_file", "_pos"], "left_anti")


@query(
    "merge_on_read_deletion_vectors",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total_spend
    FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_orderkey % {DV_DELETE_MOD} = 0)
    GROUP BY o_orderstatus
    """,
)
def merge_on_read_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    alive = dv_alive_rows(spark, sf_dir)
    return alive.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
    )


# --------------------------------------------------------------------------
# XML source/sink round trip: Spark 4 ships XML as a BUILT-IN format (the
# former spark-xml package) — the last of the classic feed formats
# (CSV/JSON/ORC/XML) the engine covers. Same posture as the other text
# round trips: EXPLICIT schema on read (inference would scan the feed
# twice — prohibitive at 100 TB), one file-parallel scan. The writer must
# escape markup characters in string content and the reader must unescape
# them exactly; the value oracle (computed from the parquet truth,
# including a string-length sum over the free-text column) proves the
# escape/unescape cycle lossless. Avro, the remaining classic format, has
# no deployable module in this container (spark-avro is external since
# Spark 2.4 and absent from /opt/spark/jars) — an environment gap, not an
# engine gap.
# --------------------------------------------------------------------------
@query(
    "xml_roundtrip_supplier_stats",
    oracle="""
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(s_acctbal), 4) AS total_acctbal,
           CAST(SUM(LENGTH(s_name)) AS BIGINT) AS name_chars
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def xml_roundtrip_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = sink_dir("xml_sink") + "/supplier"
    sup.write.mode("overwrite").format("xml").option(
        "rowTag", "supplier"
    ).save(out)
    back = (
        spark.read.schema(
            "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
        )
        .format("xml")
        .option("rowTag", "supplier")
        .load(out)
    )
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 4).alias("total_acctbal"),
        F.sum(F.length("s_name")).alias("name_chars"),
    )


# --------------------------------------------------------------------------
# Snapshot / time travel via file manifests: the third lakehouse
# primitive (with deletion vectors and shredded VARIANT above) — readers
# plan from a MANIFEST (an explicit file list captured at commit time),
# not from directory listing. At 100 TB directory listing is both slow
# (millions of objects) and non-atomic (a reader can see half a commit);
# a manifest gives O(1) planning and snapshot isolation, and "AS OF
# snapshot k" is just reading snapshot k's list — data files are
# immutable and never rewritten by later appends. The query commits two
# batches, captures both manifests, reads each snapshot FROM ITS LIST
# (explicit schema, no inference), and the oracle replays both snapshots
# logically — proving manifest-scoped reads see exactly their commit's
# rows even though batch 2's files sit in the same table by then.
# --------------------------------------------------------------------------
SNAPSHOT_SPLIT_MOD = 3  # batch 1 = keys % 3 != 0, batch 2 appends the rest


@query(
    "snapshot_manifest_time_travel",
    oracle=f"""
    SELECT 1 AS snapshot_id,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total_price
    FROM orders WHERE o_orderkey % {SNAPSHOT_SPLIT_MOD} <> 0
    UNION ALL
    SELECT 2 AS snapshot_id,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total_price
    FROM orders
    """,
)
def snapshot_manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    base = sink_dir("snapshots")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    b1, b2 = base + "/b1", base + "/b2"
    orders.filter(F.col("o_orderkey") % SNAPSHOT_SPLIT_MOD != 0).write.mode(
        "overwrite"
    ).parquet(b1)
    orders.filter(F.col("o_orderkey") % SNAPSHOT_SPLIT_MOD == 0).write.mode(
        "overwrite"
    ).parquet(b2)
    # Commit = capture the file list. Snapshot 2's manifest extends
    # snapshot 1's; batch-1 files are shared, immutable, never relisted.
    manifest1 = sorted(glob.glob(b1 + "/part-*.parquet"))
    manifest2 = manifest1 + sorted(glob.glob(b2 + "/part-*.parquet"))

    def read_snapshot(snap_id: int, manifest: list[str]) -> DataFrame:
        return (
            spark.read.schema("o_orderkey bigint, o_totalprice double")
            .parquet(*manifest)
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 4).alias("total_price"),
            )
            .select(
                F.lit(snap_id).cast("int").alias("snapshot_id"),
                "n_orders",
                "total_price",
            )
        )

    return read_snapshot(1, manifest1).unionByName(read_snapshot(2, manifest2))


# --------------------------------------------------------------------------
# Hidden file-metadata columns (round 6): every file scan exposes
# _metadata.file_path / file_name / file_size / row_index with NO stored
# column — row-level lineage for free. At 100 TB this is the tool for
# quarantining one bad ingest file out of millions, incremental
# re-processing ("which files produced these rows"), and a stable row
# identity (file_path, row_index) that — unlike
# monotonically_increasing_id — survives re-reads, is reproducible across
# jobs, and never depends on partition scheduling. The exhibit writes
# orders as a 4-file dataset, scans it back with lineage, and emits a
# manifest-shaped invariant row; per-file row_index contiguity
# (max - min + 1 == file row count, min == 0) proves row_index is
# per-FILE ordinal position, not a global or partition-relative counter.
# --------------------------------------------------------------------------
@query(
    "file_metadata_lineage",
    oracle="""
    SELECT CAST(4 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           TRUE AS row_index_contiguous_per_file,
           TRUE AS all_files_nonempty,
           ROUND(SUM(o_totalprice), 4) AS total_price
    FROM orders
    """,
)
def file_metadata_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sink_dir("file_metadata")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).repartition(4).write.mode("overwrite").parquet(out)
    scanned = spark.read.parquet(out).select(
        "o_totalprice",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    per_file = scanned.groupBy("file_path").agg(
        F.count("*").alias("n_rows"),
        F.min("row_index").alias("min_idx"),
        F.max("row_index").alias("max_idx"),
        F.sum("o_totalprice").alias("price"),
    )
    return per_file.agg(
        F.count("*").alias("n_files"),
        F.sum("n_rows").alias("total_rows"),
        F.every(
            (F.col("min_idx") == 0)
            & (F.col("max_idx") - F.col("min_idx") + 1 == F.col("n_rows"))
        ).alias("row_index_contiguous_per_file"),
        F.every(F.col("n_rows") > 0).alias("all_files_nonempty"),
        F.round(F.sum("price"), 4).alias("total_price"),
    )


# --------------------------------------------------------------------------
# binaryFile source (round 6): the ingest path for opaque blobs (images,
# audio, model shards) BEFORE they live in parquet — each file becomes a
# (path, modificationTime, length, content) row. The exhibit materializes
# one .bin file per document EXECUTOR-SIDE (foreachPartition — at scale
# ingest writers run on the cluster, never through the driver), scans the
# directory back with binaryFile + pathGlobFilter, recovers the doc key
# from the file path, and value-proves the byte round trip against the
# documents table. The multimodal family (multimodal.py) starts from
# blobs already in parquet; this covers the step before it.
# Scale note: binaryFile has no write support and one row per file — the
# right pattern at 100 TB is exactly this exhibit's shape: scan once,
# join metadata, then land blobs INTO parquet/multimodal tables for
# everything downstream (small-files pressure is the compaction query's
# territory, small_files_compaction_stats).
# --------------------------------------------------------------------------
@query(
    "binaryfile_ingest_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           TRUE AS all_roundtrip_exact
    FROM documents
    WHERE doc_id < 20
    """,
)
def binaryfile_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    out = sink_dir("binaryfile")
    os.makedirs(out, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)

    def _write_blobs(rows) -> None:
        # Executor-side blob writer: plain os/builtins only, so the closure
        # pickles without the package being importable on workers.
        import os as _os

        for r in rows:
            tmp = _os.path.join(out, f".doc_{r['doc_id']}.tmp")
            with open(tmp, "wb") as f:
                f.write(r["text"].encode("utf-8"))
            _os.replace(tmp, _os.path.join(out, f"doc_{r['doc_id']}.bin"))

    docs.select("doc_id", "text").repartition(4).foreachPartition(_write_blobs)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("bigint")
            .alias("doc_id"),
            "length",
            F.decode(F.col("content"), "UTF-8").alias("text_back"),
        )
    )
    joined = blobs.join(docs.select("doc_id", "text"), "doc_id")
    return joined.agg(
        F.count("*").alias("n_files"),
        F.sum("length").alias("total_bytes"),
        F.every(F.col("text_back") == F.col("text")).alias("all_roundtrip_exact"),
    )


# --------------------------------------------------------------------------
# Compression codec round trip (round 6): the same data written under
# zstd and snappy, both read back value-identical, with zstd's size
# advantage asserted from the actual footprint. At 100 TB the codec is a
# first-order cost knob — zstd typically cuts cold-storage parquet
# 20-40% vs snappy for a small decode tax — and "codec changed, values
# didn't" is precisely the invariant a migration needs proven. Sizes are
# driver-side os.walk over the two sink dirs (file METADATA, not data).
# --------------------------------------------------------------------------
@query(
    "codec_roundtrip_compare",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_extendedprice), 4) AS total_price,
           TRUE AS codecs_value_identical,
           TRUE AS zstd_not_larger
    FROM lineitem
    WHERE l_quantity >= 30
    """,
)
def codec_roundtrip_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    base = sink_dir("codec")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 30)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")
    )
    paths = {}
    for codec in ("zstd", "snappy"):
        paths[codec] = f"{base}/{codec}"
        li.write.mode("overwrite").option("compression", codec).parquet(paths[codec])

    def _dir_bytes(d: str) -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    back = {c: spark.read.parquet(p) for c, p in paths.items()}
    agg = {
        c: df.agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 4).alias("total_price"),
        )
        for c, df in back.items()
    }
    z, s = agg["zstd"], agg["snappy"]
    identical = (
        z.withColumnRenamed("n_rows", "zn").withColumnRenamed("total_price", "zp")
        .crossJoin(s)
        .select(
            F.col("n_rows"),
            F.col("total_price"),
            ((F.col("zn") == F.col("n_rows")) & (F.col("zp") == F.col("total_price")))
            .alias("codecs_value_identical"),
        )
    )
    return identical.select(
        "*",
        F.lit(_dir_bytes(paths["zstd"]) <= _dir_bytes(paths["snappy"])).alias(
            "zstd_not_larger"
        ),
    )


# --------------------------------------------------------------------------
# Dynamic partition overwrite (round 6): the idempotent-backfill idiom.
# A revised batch covering ONE partition, written with
# mode=overwrite + option(partitionOverwriteMode=dynamic), replaces only
# the partitions PRESENT in the batch; the default static mode truncates
# the whole table first. At 100 TB this is the difference between "rerun
# yesterday's failed lang=en job safely" and "the backfill deleted four
# hundred other partitions" — the mode is the entire safety contract, so
# the exhibit writes BOTH modes against identically seeded copies and
# value-pins both outcomes: dynamic read-back keeps every other lang at
# full fidelity with en swapped to the revised half, while the static
# twin's total collapses to exactly the revised batch. Each invocation
# re-seeds with a full static write, so the query is idempotent under
# bench's repeated runs.
# --------------------------------------------------------------------------
@query(
    "dynamic_partition_overwrite_stats",
    oracle="""
    WITH revised AS (
      SELECT lang, n_chars FROM documents
      WHERE lang = 'en' AND doc_id % 2 = 0
    ), dynamic_state AS (
      SELECT lang, n_chars FROM documents WHERE lang <> 'en'
      UNION ALL
      SELECT lang, n_chars FROM revised
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows_dynamic,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars_dynamic,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM revised)
             AS n_rows_static_total
    FROM dynamic_state
    GROUP BY lang
    """,
)
def dynamic_partition_overwrite_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic vs static partition-overwrite semantics, proven through the
    filesystem on two identically seeded lang-partitioned copies."""
    docs = load_table(spark, sf_dir, "documents")
    revised = docs.filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 2 == 0)
    )
    dyn_dir = sink_dir("dyn_overwrite") + "/dyn"
    stat_dir = sink_dir("dyn_overwrite") + "/stat"
    for seed_dir in (dyn_dir, stat_dir):
        (
            docs.repartition("lang")
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(seed_dir)
        )
    (
        revised.repartition("lang")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang")
        .parquet(dyn_dir)
    )
    (
        revised.repartition("lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(stat_dir)
    )
    static_total = (
        spark.read.parquet(stat_dir)
        .agg(F.count("*").alias("n_rows_static_total"))
    )
    return (
        spark.read.parquet(dyn_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_rows_dynamic"),
            F.sum("n_chars").alias("sum_chars_dynamic"),
        )
        .crossJoin(F.broadcast(static_total))
        .select(
            "lang", "n_rows_dynamic", "sum_chars_dynamic",
            "n_rows_static_total",
        )
    )


# --------------------------------------------------------------------------
# Dynamic partition pruning (round 7): the planner-side completion of the
# pruning story. Static pruning (partition_pruned_read) needs the filter
# ON the partition key; runtime bloom pruning (probes/bloom_probe.py)
# filters ROWS after the scan. DPP is the third mechanism — and the
# classic 100 TB plan feature: a fact table partitioned on the join key,
# joined to a dim filtered on an attribute the fact doesn't carry. The
# dim's qualifying keys are only known at RUNTIME, so no static rule can
# prune; Spark instead compiles the fact scan with
# ``PartitionFilters: [dynamicpruningexpression(lang IN dynamicpruning#N)]``
# (pinned by tests/test_plans.py), executes the dim's broadcast first,
# and lists only the matching partition directories — whole-directory
# skipping driven by the join, before a single fact byte is read.
#
# Shape notes, learned by measurement (see the plan-pin test, which also
# verifies partitions-read 2-of-5 from executed-plan metrics):
# - the dim must be a MATERIALIZED table scan + filter. Deriving the
#   filtered dim inline (agg + window over the base table) plans the
#   dynamicpruning expression but never executes the pruning — the
#   runtime subquery only reuses a broadcast whose build side is a plain
#   scan-filter subtree; with the inline derivation the fact scan read
#   all 5 partitions at full row count. The materialized lang-dim here
#   IS the realistic shape (date dims, tenant dims are tables, not CTEs).
# - the dim filter (rnk <= 2 — "the two most common languages") is on an
#   attribute NOT derivable from the key value, so constraint
#   propagation cannot turn it into a static IN-list on the fact.
#
# Reference tie-in: the reference's MR_DefaultHashPartition
# (src/mapreduce.c:129-138) decides which partition holds a key at WRITE
# time; DPP is the read-side payoff of key-partitioned layouts — the
# consumer skips every partition whose keys the probe side cannot match.
# --------------------------------------------------------------------------
def dpp_join_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(partitioned fact, filtered dim) used by dpp_partitioned_join —
    shared with the plan pin in tests/test_plans.py so the pinned
    dynamicpruning scan is exactly the shipped query's."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    base = sink_dir("dpp_sink")
    fact_dir, dim_dir = base + "/docs_by_lang", base + "/lang_dim"
    docs.write.mode("overwrite").partitionBy("lang").parquet(fact_dir)
    # Per-lang popularity dim: the window runs over |lang| pre-aggregated
    # rows (bounded frame — the documented unpartitioned-window class).
    (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_docs_lang"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("n_docs_lang").desc(), F.col("lang"))
            ),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(dim_dir)
    )
    fact = spark.read.parquet(fact_dir)
    dim = (
        spark.read.parquet(dim_dir)
        .filter(F.col("rnk") <= 2)
        .select("lang")
    )
    return fact, dim


@query(
    "dpp_partitioned_join",
    oracle="""
    WITH dim AS (
      SELECT lang, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, lang) AS rnk
      FROM documents GROUP BY lang
    )
    SELECT d.lang, d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d JOIN dim ON d.lang = dim.lang
    WHERE dim.rnk <= 2
    GROUP BY d.lang, d.source
    """,
)
def dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact, dim = dpp_join_parts(spark, sf_dir)
    return (
        fact.join(F.broadcast(dim), "lang")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


# --------------------------------------------------------------------------
# REBALANCE hint (round 7): the manual override knob beside the two
# AQE pins. AQE's post-shuffle coalescing and skew-split (plan-pinned in
# tests/test_plans.py, measured in probes/skew_probe.py) fix partition
# sizes the engine can SEE; REBALANCE(col) is the writer-side idiom for
# the case the engine can't — a partitionBy(col) sink fed by an
# arbitrary upstream layout writes one file per (task x live value),
# the small-files explosion at 100 TB (every one of T tasks holds a few
# rows of every value). The hint inserts a REBALANCE_PARTITIONS_BY_COL
# exchange that AQE re-sizes at runtime (merging small blocks, and —
# unlike a plain repartition(col) — SPLITTING a skewed value across
# tasks instead of bottlenecking one), so each partition directory is
# written by the minimal set of tasks. The oracle value-pins the layout
# consequence itself: ONE file per lang at this scale (a plain
# repartition-free write from the 32-task upstream would write up to
# |tasks| files per lang), plus full row/char conservation through the
# rebalanced write. Plan marker (REBALANCE_PARTITIONS_BY_COL) is pinned
# by tests/test_plans.py from the executed pre-write frame.
# --------------------------------------------------------------------------
def rebalanced_write_frame(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The REBALANCE-hinted pre-write frame (shared with the plan pin)."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .hint("rebalance", "lang")
    )


@query(
    "rebalance_hint_write_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(1 AS BIGINT) AS n_files
    FROM documents
    GROUP BY lang
    """,
)
def rebalance_hint_write_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sink_dir("rebalance_sink") + "/docs_by_lang"
    rebalanced_write_frame(spark, sf_dir).write.mode("overwrite").partitionBy(
        "lang"
    ).parquet(out)
    back = spark.read.parquet(out).select(
        "lang", "n_chars", F.input_file_name().alias("f")
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.countDistinct("f").alias("n_files"),
    )


# --------------------------------------------------------------------------
# Avro round trip behind a SELF-HEALING registration gate (round 7).
# spark-avro is an external module (org.apache.spark:spark-avro_2.13) —
# not part of the pyspark wheel or $SPARK_HOME/jars in this container,
# and pip has no index route here (failed attempts logged in README).
# Mirrors the _tws_available pattern (streaming/stateful.py): probe the
# environment at registration time; if the jar ever appears in a future
# container, the REAL query (ORC-twin row-format round trip) registers
# with its full value oracle with zero code changes — until then the
# name carries an explicit, oracle-agreeing skip row so the driver
# correctness file documents the environment gap instead of the surface
# silently lacking the format.
# --------------------------------------------------------------------------
def _spark_avro_available() -> bool:
    import glob
    import os

    roots = []
    if os.environ.get("SPARK_HOME"):
        roots.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark

        roots.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:  # pragma: no cover — pyspark is a hard dep
        pass
    return any(
        glob.glob(os.path.join(r, "spark-avro*.jar")) for r in roots
    )


def _avro_query(fn):
    if _spark_avro_available():  # pragma: no cover — jar absent here
        return query(
            "avro_roundtrip_order_stats",
            oracle="""
            SELECT o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   ROUND(SUM(o_totalprice), 4) AS total_spend
            FROM orders
            WHERE o_totalprice > 100000
            GROUP BY o_orderstatus
            """,
        )(fn)
    skip_reason = (
        "SKIPPED: avro round trip requires the external spark-avro jar "
        "(org.apache.spark:spark-avro); not present in this container and "
        "pip/maven are unreachable (attempts logged in README). Row-format "
        "sink coverage is carried by the CSV/JSON/XML round trips; this "
        "query self-registers with a full value oracle when the jar "
        "appears."
    )

    @query(
        "avro_roundtrip_order_stats",
        oracle=f"SELECT '{skip_reason}' AS status, FALSE AS ran",
    )
    def _avro_skip_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.createDataFrame(
            [(skip_reason, False)], "status string, ran boolean"
        )

    return fn


@_avro_query
def avro_roundtrip_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders (filtered) -> Avro sink -> Avro scan -> agg: the row-format
    (scan-everything) counterpart of the ORC/parquet columnar trips —
    Avro is the standard wire format for ingest pipelines (Kafka,
    schema-registry) feeding a columnar lake."""
    sub = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    out = sink_dir("avro_sink") + "/orders"
    sub.write.mode("overwrite").format("avro").save(out)
    back = spark.read.format("avro").load(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
    )


# --------------------------------------------------------------------------
# TIMESTAMP_NTZ round trip (round 7) — the Spark 3.4+/4 wall-clock
# timestamp TYPE, previously the one type-system surface with no exhibit.
# TIMESTAMP (LTZ) stores a UTC instant and RE-RENDERS under every session
# timezone; TIMESTAMP_NTZ stores the wall-clock fields themselves (parquet
# isAdjustedToUTC=false), so the same file read under any session timezone
# yields identical hours — the right type for calendar-local data at
# 100 TB (a tz-misconfigured executor silently shifting event hours is a
# classic pipeline corruption). The exhibit writes BOTH types to one
# parquet sink, re-reads it under a +08:45 session zone (Australia/Eucla —
# the 45-minute offset moves EVERY hour boundary), and pins per-hour that
# the NTZ histogram is invariant while the LTZ column re-rendered
# (counted PER ROW against a write-time base_hour column, so the pin
# cannot be defeated by a coincidentally shift-invariant histogram).
# The shifted-zone reads must materialize inside the scoped conf (the
# driver executes the returned plan later, under its own UTC session) —
# bounded 24-row collects, the SQL-scripting precedent; the returned plan
# keeps the base read-back aggregation lazy with the 24-row shifted side
# broadcast in.
# --------------------------------------------------------------------------
@query(
    "timestamp_ntz_roundtrip",
    oracle="""
    SELECT CAST(hour(ts) AS INT) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS ntz_tz_invariant,
           TRUE AS ltz_rerendered
    FROM events
    GROUP BY 1
    """,
)
def timestamp_ntz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per UTC hour-of-day: event count, whether the NTZ column's hour
    histogram survived a session-timezone change bit-identically, and
    whether the LTZ twin re-rendered (it must). DuckDB's naive TIMESTAMP
    is NTZ-semantics, so the oracle is the direct hour histogram."""
    from parallel_mapreduce_spark.session import scoped_conf

    # events.ts loads as TIMESTAMP_NTZ already (parquet
    # isAdjustedToUTC=false — the reason the DuckDB oracles, whose naive
    # TIMESTAMP has the same semantics, agree on every event-time query).
    # The LTZ twin is constructed explicitly: under the UTC session the
    # wall clock maps to the same instant, so the two columns agree at
    # write time and diverge only under a shifted reader session.
    ev = load_table(spark, sf_dir, "events").select(
        F.to_timestamp_ltz("ts").alias("ltz"), F.col("ts").alias("ntz")
    )
    out = sink_dir("ntz_sink") + "/events_ts"
    # base_hour materializes at WRITE time, i.e. under the UTC session:
    # the per-row reference the shifted-session re-read is compared to.
    ev.withColumn("base_hour", F.hour("ltz")).write.mode(
        "overwrite"
    ).parquet(out)
    back = spark.read.parquet(out)

    def _hist(col: str) -> dict:
        return {
            r["h"]: r["n"]
            for r in back.groupBy(F.hour(col).alias("h"))
            .agg(F.count("*").alias("n"))
            .collect()
        }

    with scoped_conf(spark, "spark.sql.session.timeZone", "Australia/Eucla"):
        shifted_ntz = _hist("ntz")
        # PER-ROW comparison, not whole-histogram inequality: a histogram
        # that happens to be shift-invariant (e.g. near-uniform hours)
        # would make the coarse comparison False on new data even though
        # every row re-rendered. Counting rows whose LTZ hour moved is
        # coincidence-proof — under +08:45 every hour boundary shifts, so
        # any corpus pins > 0. Bounded scalar, inside the scoped conf.
        n_moved = back.filter(
            F.hour("ltz") != F.col("base_hour")
        ).count()
    ltz_changed = n_moved > 0
    shifted = spark.createDataFrame(
        [(int(h), int(n)) for h, n in sorted(shifted_ntz.items())],
        "hour_of_day int, n_shifted bigint",
    )
    return (
        back.groupBy(F.hour("ntz").alias("hour_of_day"))
        .agg(F.count("*").alias("n_events"))
        .join(F.broadcast(shifted), "hour_of_day", "left")
        .select(
            "hour_of_day",
            "n_events",
            (F.col("n_shifted") == F.col("n_events")).alias(
                "ntz_tz_invariant"
            ),
            F.lit(bool(ltz_changed)).alias("ltz_rerendered"),
        )
    )
