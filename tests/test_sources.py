"""Source/sink round trips: csv, json, partitioned parquet."""

from __future__ import annotations

import pytest


def _docs_head(spark, sf_dir):
    from parallel_mapreduce_spark.sources import load_table

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    from parallel_mapreduce_spark.sources import read_csv, write_table

    df = _docs_head(spark, sf_dir)
    path = str(tmp_path / "docs_csv")
    write_table(df, path, fmt="csv")
    back = read_csv(spark, path, schema="doc_id bigint, lang string, n_chars bigint")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_json_roundtrip(spark, sf_dir, tmp_path):
    from parallel_mapreduce_spark.sources import read_json, write_table

    df = _docs_head(spark, sf_dir)
    path = str(tmp_path / "docs_json")
    write_table(df, path, fmt="json")
    back = read_json(spark, path, schema="doc_id bigint, lang string, n_chars bigint")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_partitioned_parquet_sink_prunes(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.sources import write_table

    df = _docs_head(spark, sf_dir)
    path = str(tmp_path / "docs_part")
    write_table(df, path, fmt="parquet", partition_by=["lang"])
    back = spark.read.parquet(path)
    one = back.filter(F.col("lang") == "en")
    # Partition pruning must reach the scan: the physical plan's partition
    # filters mention lang, and the result matches a plain filter.
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters")[1][:200]
    assert one.count() == df.filter(F.col("lang") == "en").count()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.sources import load_table, write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    write_bucketed(li, "li_b", str(tmp_path / "li_b"), "l_orderkey", buckets=4)
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "orders_b",
        str(tmp_path / "orders_b"),
        "l_orderkey",
        buckets=4,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(spark.table("orders_b"), "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # Co-located: the bucketed scans satisfy the join's distribution —
        # no shuffle, no broadcast.
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # And it computes the right thing.
        n = joined.count()
        assert n == li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
    finally:
        # conf.get(key, None) returns None for an UNSET conf (not the
        # engine default), so the restore must unset — `set(prev)` guarded
        # on prev leaked threshold=-1 into the shared session and failed
        # any later broadcast plan assertion in the same pytest run.
        if prev is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS orders_b")


def test_python_datasource_partition_planning(spark):
    """The pmr_synth custom Python source must plan the requested number of
    partitions (one task each) and stream rows per partition — the Spark-4
    analogue of the reference's per-file-region scan threads."""
    from parallel_mapreduce_spark.sources.pydatasource import (
        SynthReader,
        register_synth_source,
    )

    parts = SynthReader({"rows": "103", "partitions": "8"}).partitions()
    assert len(parts) == 8
    spans = sorted((p.start, p.end) for p in parts)
    # Contiguous, disjoint, covering [0, rows)
    assert spans[0][0] == 0 and spans[-1][1] == 103
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))

    register_synth_source(spark)
    df = (
        spark.read.format("pmr_synth")
        .option("rows", 1000)
        .option("partitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 1000
    # Deterministic content: row 999 -> (999 * A + C) % M
    from parallel_mapreduce_spark.sources.pydatasource import (
        SYNTH_A,
        SYNTH_C,
        SYNTH_M,
    )
    last = df.filter("row_id = 999").collect()[0]
    assert last["value"] == (999 * SYNTH_A + SYNTH_C) % SYNTH_M


def test_python_datasource_filter_pushdown_semantics():
    """Reader-level pushdown contract (pushFilters, Spark 4.1): supported
    row_id range filters narrow the planned partition ranges (pruned rows
    are never generated), bucket equality is consumed, and everything else
    comes back as the residual for Spark to re-evaluate. Exactness matters:
    a consumed filter Spark will NOT re-check, so the unit pins the
    narrowed bounds to the filters' exact integer semantics."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        LessThanOrEqual,
        StringContains,
    )

    from parallel_mapreduce_spark.sources.pydatasource import (
        SYNTH_BUCKETS,
        SynthPushdownReader,
    )

    r = SynthPushdownReader({"rows": "1000", "partitions": "4"})
    residual = list(
        r.pushFilters(
            [
                GreaterThan(("row_id",), 99),  # -> lo = 100 (exclusive)
                LessThanOrEqual(("row_id",), 499),  # -> hi = 500 (inclusive)
                EqualTo(("bucket",), 7),
                StringContains(("row_id",), "9"),  # unsupported -> residual
            ]
        )
    )
    assert [type(f).__name__ for f in residual] == ["StringContains"]
    assert (r.lo, r.hi, r.bucket) == (100, 500, 7)
    # The consumed-filter record: exactly the three handled filters, in
    # arrival order (the residual never appears here).
    assert [s.split("(")[0] for s in r.pushed] == [
        "GreaterThan",
        "LessThanOrEqual",
        "EqualTo",
    ]
    spans = sorted((p.start, p.end) for p in r.partitions())
    assert spans[0][0] == 100 and spans[-1][1] == 500
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
    rows = [row for p in r.partitions() for row in r.read(p)]
    assert rows and all(i % SYNTH_BUCKETS == 7 for i, _, _ in rows)
    assert all(100 <= i < 500 for i, _, _ in rows)

    # Contradictory range -> empty single partition, not a negative range.
    r2 = SynthPushdownReader({"rows": "1000", "partitions": "4"})
    list(r2.pushFilters([GreaterThan(("row_id",), 900)]))
    list(r2.pushFilters([LessThanOrEqual(("row_id",), 100)]))
    spans2 = [(p.start, p.end) for p in r2.partitions()]
    assert sum(e - s for s, e in spans2) == 0


def test_python_datasource_pushdown_end_to_end(spark):
    """The pushdown source's filtered scan must generate ONLY the pushed
    range (pruning observable through the row ids that exist), while the
    non-pushable residual predicate still filters post-scan."""
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.session import apply_runtime_conf
    from parallel_mapreduce_spark.sources.pydatasource import (
        PD_BUCKET,
        PD_HI,
        PD_LO,
        SYNTH_BUCKETS,
        register_synth_source,
    )

    apply_runtime_conf(spark)  # enables spark.sql.python.filterPushdown
    register_synth_source(spark)
    df = (
        spark.read.format("pmr_synth_pd")
        .option("rows", 100_000)
        .option("partitions", 8)
        .load()
        .filter(
            (F.col("row_id") >= PD_LO)
            & (F.col("row_id") < PD_HI)
            & (F.col("bucket") == PD_BUCKET)
        )
    )
    got = df.agg(
        F.count("*").alias("n"),
        F.min("row_id").alias("lo"),
        F.max("row_id").alias("hi"),
    ).collect()[0]
    want = [i for i in range(PD_LO, PD_HI) if i % SYNTH_BUCKETS == PD_BUCKET]
    assert (got["n"], got["lo"], got["hi"]) == (
        len(want),
        want[0],
        want[-1],
    )


def test_zorder_layout_skips_on_both_dimensions(spark, sf_dir):
    """Two-dimensional file skipping: after the z-order clustered write,
    at least one output file's [min,max] interval must be a strict subset
    of the domain on EACH dimension — impossible for a single-key range
    sort, where every file spans the full range of the other column."""
    from parallel_mapreduce_spark.sources.roundtrip import (
        zorder_clustered_write_stats,
    )
    from parallel_mapreduce_spark.sources.tables import sink_dir

    zorder_clustered_write_stats(spark, sf_dir).collect()  # writes the layout
    from pyspark.sql import functions as F

    back = spark.read.parquet(sink_dir("zorder_sink") + "/orders_zorder")
    boxes = (
        back.select(
            F.input_file_name().alias("f"), "o_custkey", "o_totalprice"
        )
        .groupBy("f")
        .agg(
            F.min("o_custkey").alias("lc"),
            F.max("o_custkey").alias("hc"),
            F.min("o_totalprice").alias("lp"),
            F.max("o_totalprice").alias("hp"),
        )
        .collect()
    )
    assert len(boxes) > 1
    lo_c = min(b["lc"] for b in boxes)
    hi_c = max(b["hc"] for b in boxes)
    lo_p = min(b["lp"] for b in boxes)
    hi_p = max(b["hp"] for b in boxes)
    span_c, span_p = hi_c - lo_c, hi_p - lo_p
    narrow_c = [b for b in boxes if (b["hc"] - b["lc"]) < 0.9 * span_c]
    narrow_p = [b for b in boxes if (b["hp"] - b["lp"]) < 0.9 * span_p]
    assert narrow_c, "no file is prunable on the custkey dimension"
    assert narrow_p, "no file is prunable on the price dimension"


def test_codec_sinks_actually_use_declared_codecs(spark, sf_dir):
    """codec_roundtrip_compare's claim rests on the two sinks genuinely
    using different codecs — if the compression option were silently
    ignored (misspelled option, conf override), the size comparison
    would trivially pass on identical files. Read the parquet footers
    and assert every column chunk records the declared codec."""
    import glob
    import os

    import pyarrow.parquet as pq

    from parallel_mapreduce_spark.sources.roundtrip import codec_roundtrip_compare
    from parallel_mapreduce_spark.sources.tables import sink_dir

    codec_roundtrip_compare(spark, sf_dir).collect()
    base = sink_dir("codec")
    for codec in ("zstd", "snappy"):
        parts = glob.glob(os.path.join(base, codec, "part-*.parquet"))
        assert parts, f"no part files under {codec} sink"
        for part in parts:
            meta = pq.ParquetFile(part).metadata
            for rg in range(meta.num_row_groups):
                for col in range(meta.num_columns):
                    assert (
                        meta.row_group(rg).column(col).compression.lower()
                        == codec
                    ), (part, rg, col)


def test_binaryfile_blob_writer_is_idempotent(spark, sf_dir):
    """Re-invoking the binaryFile ingest must not duplicate or corrupt
    blobs (the atomic .tmp/replace write path): two consecutive runs
    return identical aggregates and the sink holds exactly one .bin per
    doc_id under 20."""
    import glob
    import os

    from parallel_mapreduce_spark.sources.roundtrip import (
        binaryfile_ingest_roundtrip,
    )
    from parallel_mapreduce_spark.sources.tables import sink_dir

    first = binaryfile_ingest_roundtrip(spark, sf_dir).collect()[0]
    second = binaryfile_ingest_roundtrip(spark, sf_dir).collect()[0]
    assert first == second
    assert first["all_roundtrip_exact"] is True
    files = glob.glob(os.path.join(sink_dir("binaryfile"), "*.bin"))
    assert len(files) == first["n_files"]
    assert not glob.glob(os.path.join(sink_dir("binaryfile"), ".*.tmp"))


def test_python_sink_commit_protocol(spark, sf_dir):
    """The custom Python sink's two-phase commit: staged files are
    published by rename only at driver commit(), exactly one part file
    per input partition survives (attempt suffix stripped), the manifest
    row total equals the input count, and staging is cleaned. A second
    overwrite run must replace the generation, not accumulate files."""
    import glob
    import json
    import os

    from parallel_mapreduce_spark.sources.pydatasource import (
        SINK_PARTS,
        python_datasource_write_roundtrip,
    )
    from parallel_mapreduce_spark.sources.tables import load_table, sink_dir

    first = python_datasource_write_roundtrip(spark, sf_dir).collect()
    out = sink_dir("pyds_jsonl_sink") + "/docs"
    parts = sorted(glob.glob(os.path.join(out, "part-*.jsonl")))
    assert len(parts) == SINK_PARTS
    # Published names carry no attempt id: part-<pid>.jsonl.
    assert all(
        os.path.basename(p).count("-") == 1 for p in parts
    ), parts
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert manifest["total_rows"] == n_docs
    assert sum(f["rows"] for f in manifest["files"]) == n_docs
    assert not glob.glob(os.path.join(out, "_staging", "*"))

    second = python_datasource_write_roundtrip(spark, sf_dir).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    assert len(glob.glob(os.path.join(out, "part-*.jsonl"))) == SINK_PARTS


def test_python_stream_source_multibatch_and_replay(spark):
    """The custom stream source must (a) deliver the total in MULTIPLE
    micro-batches (offset pacing, not one big read), (b) sum to exactly
    the closed-form total across batches, and (c) honor the replay
    contract: readBetweenOffsets(a, b) returns exactly the rows the
    paced read()s produced over [a, b) — what makes post-crash recovery
    exactly-once."""
    from parallel_mapreduce_spark.sources.pydatasource import (
        STREAM_BATCH,
        STREAM_TOTAL,
        SynthStreamReader,
        register_synth_source,
    )

    register_synth_source(spark)
    batches = []

    def sink(df, bid):
        batches.append(df.count())

    q = (
        spark.readStream.format("pmr_synth_stream")
        .load()
        .writeStream.foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(batches) >= -(-STREAM_TOTAL // STREAM_BATCH)
    assert sum(batches) == STREAM_TOTAL

    r = SynthStreamReader({})
    off = r.initialOffset()
    paced = []
    while int(off["i"]) < 2 * STREAM_BATCH + 7:
        rows, off = r.read(off)
        paced.extend(rows)
    assert list(r.readBetweenOffsets({"i": 0}, off)) == paced


def _ckpt_files(spark):
    """Files under the SparkContext's checkpoint dir (set on first use)."""
    import os

    from parallel_mapreduce_spark.session import reliable_checkpoint

    reliable_checkpoint(spark.range(1))  # sets the checkpoint dir
    root = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    root = root.removeprefix("file:")
    return lambda: sum(len(fs) for _, _, fs in os.walk(root))


@pytest.mark.parametrize("eager", [False, True], ids=["lazy", "eager"])
def test_cut_gate_branches_on_table_bytes(spark, sf_dir, monkeypatch, eager):
    """`sources.cut` picks its lineage-cut flavor from on-disk table
    bytes: localCheckpoint (executor-pinned RDD, eager as asked) at or
    below LOCAL_CUT_MAX_BYTES, the reliable checkpoint (always eager)
    above it — with equal values either way. An unknown table reads as
    huge, so the gate fails toward the durable branch, never toward
    pinning."""
    from parallel_mapreduce_spark.sources import (
        cut,
        load_table,
        table_bytes,
        tables,
    )

    frame = load_table(spark, sf_dir, "documents").select("doc_id")
    want = sorted(r[0] for r in frame.collect())
    n_ckpt_files = _ckpt_files(spark)

    def assert_durable_branch(sf):
        before = n_ckpt_files()
        out = cut(frame, sf, "documents", eager=eager)
        assert n_ckpt_files() > before  # written before cut returns
        assert sorted(r[0] for r in out.collect()) == want

    # Below the gate (test corpora are KB-MB): LogicalRDD, no checkpoint file.
    before = n_ckpt_files()
    small = cut(frame, sf_dir, "documents", eager=eager)
    plan = small._jdf.queryExecution().analyzed()
    assert "LogicalRDD" in plan.toString()
    assert plan.rdd().isCheckpointed() == eager  # lazy: marked, not yet run
    assert not small.is_cached
    assert sorted(r[0] for r in small.collect()) == want
    assert n_ckpt_files() == before
    # Unknown size at the shipped gate => huge => the durable branch.
    assert table_bytes("/nonexistent", "documents") == 1 << 62
    assert_durable_branch("/nonexistent")
    # Above the gate (forced with a 0-byte ceiling).
    monkeypatch.setattr(tables, "LOCAL_CUT_MAX_BYTES", 0)
    assert_durable_branch(sf_dir)


# Every registered query whose plan is truncated through `sources.cut`:
# the corpus-derived fan-out frames (documents gate), the k-center picks
# (embeddings gate), the PageRank and BPE loop cuts, and the graph
# traversal's entry and per-hop cuts.
CUT_QUERIES = (
    "pipeline_clean_corpus",
    "neardup_jaccard_pairs",
    "neardup_jaccard_pairs_capped",
    "kcore_neardup_graph",
    "bpe_train_3merges",
    "pagerank_trade_graph",
    "kcenter_coreset_select",
    "pipeline_diverse_sample",
    "ann_graph_search_topk",
)


@pytest.mark.parametrize("name", CUT_QUERIES)
def test_cut_gate_matrix(spark, sf_dir, monkeypatch, name):
    """Both branches of the lineage-cut gate return identical rows for
    every query that cuts: the shipped gate (local cuts at test scale)
    and a closed gate, under which every cut takes the durable branch
    and writes under the checkpoint dir."""
    from parallel_mapreduce_spark.registry import QUERIES, _load_all
    from parallel_mapreduce_spark.sources import tables

    _load_all()
    def rows():
        out = QUERIES[name].fn(spark, sf_dir).collect()
        return sorted(repr(tuple(r)) for r in out)

    want = rows()  # also warms any index snapshot the query reads
    n_ckpt_files = _ckpt_files(spark)
    before = n_ckpt_files()
    monkeypatch.setattr(tables, "LOCAL_CUT_MAX_BYTES", 0)
    assert rows() == want
    assert n_ckpt_files() > before


def test_parallelism_branches(spark):
    """session.parallelism: one partition per PART_BYTES of input,
    clamped to [1, partition_count]; an unknown size (None, or the
    table_bytes sentinel for an unreadable table) takes the full count."""
    from parallel_mapreduce_spark.session import (
        PART_BYTES,
        parallelism,
        partition_count,
    )
    from parallel_mapreduce_spark.sources.tables import table_bytes

    cap = partition_count(spark)
    assert cap > 3
    assert parallelism(spark, 0) == 1
    assert parallelism(spark, PART_BYTES) == 1
    assert parallelism(spark, 2 * PART_BYTES + 1) == 3
    assert parallelism(spark, 1 << 40) == cap
    assert parallelism(spark, None) == cap
    assert parallelism(spark, table_bytes("/nonexistent", "events")) == cap


# Queries whose partition counts come from session.parallelism, with the
# table whose bytes size them: the stream drains' state partitions and the
# k-center corpus frame.
SIZED_QUERIES = (
    ("stream_events_hourly", "events"),
    ("stream_session_windows", "events"),
    ("pipeline_diverse_sample", "embeddings"),
)


@pytest.mark.parametrize("name,table", SIZED_QUERIES)
def test_parallelism_gate_matrix(spark, sf_dir, monkeypatch, name, table):
    """Both ends of the sizing clamp return identical rows: forced to one
    partition (a per-partition target above the table) and to the full
    partition_count (a one-byte target)."""
    import parallel_mapreduce_spark.session as S
    from parallel_mapreduce_spark.registry import QUERIES, _load_all
    from parallel_mapreduce_spark.sources.tables import table_bytes

    _load_all()
    nbytes = table_bytes(sf_dir, table)
    out = {}
    for part_bytes in (nbytes + 1, 1):
        monkeypatch.setattr(S, "PART_BYTES", part_bytes)
        out[S.parallelism(spark, nbytes)] = sorted(
            repr(tuple(r)) for r in QUERIES[name].fn(spark, sf_dir).collect()
        )
    assert set(out) == {1, S.partition_count(spark)}
    one, full = out.values()
    assert one and one == full


_LEAK_CHILD = """
import glob, os, tempfile
from pyspark.sql import SparkSession
from parallel_mapreduce_spark.session import apply_runtime_conf, reliable_checkpoint
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)
apply_runtime_conf(spark)  # ships the package zip
reliable_checkpoint(spark.range(3))
ckpt = spark.sparkContext._jsc.sc().getCheckpointDir().get()
print(os.path.dirname(ckpt.removeprefix("file:")))
print(*glob.glob(os.path.join(tempfile.gettempdir(), "pmr_spark_pkg_*.zip")))
"""


def test_engine_temp_paths_removed_at_exit(tmp_path):
    """A process that ran a reliable checkpoint and shipped the package
    leaves neither its checkpoint temp dir nor its package zip behind."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CHECKPOINT_DIR"}
    env.update(TMPDIR=str(tmp_path), PYTHONPATH=repo)
    out = subprocess.run(
        [sys.executable, "-c", _LEAK_CHILD],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout.split()
    ckpt, pkg = out[-2:]
    assert os.path.basename(ckpt).startswith("pmr_spark_ckpt_"), out
    assert os.path.basename(pkg).startswith("pmr_spark_pkg_"), out
    assert os.path.dirname(ckpt) == os.path.dirname(pkg) == str(tmp_path)
    assert not os.path.exists(ckpt) and not os.path.exists(pkg)


def test_driver_memory_env_wins_and_default_fits_the_machine(monkeypatch):
    """get_spark's driver heap: SPARK_DRIVER_MEMORY when set (perfbench
    pins 1g), else half of physical memory, never more than 16g."""
    import os

    import parallel_mapreduce_spark.session as S

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "1g")
    assert S.driver_memory() == "1g"
    monkeypatch.delenv("SPARK_DRIVER_MEMORY")
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2 / 2**20
    got = S.driver_memory()
    assert got.endswith("m") and 0 < int(got[:-1]) <= min(half_mb, 16 << 10)
    big = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 256 << 20}  # 1 TiB
    monkeypatch.setattr(S.os, "sysconf", big.__getitem__)
    assert S.driver_memory() == "16384m"
