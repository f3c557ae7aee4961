"""Streaming twin must agree with the oracle-checked batch plan."""

from __future__ import annotations

import pytest


def test_streaming_hourly_matches_batch(spark, sf_dir):
    from parallel_mapreduce_spark.operators.events import events_hourly
    from parallel_mapreduce_spark.streaming import run_hourly_stream_to_memory

    batch = {
        (r.hour_epoch, r.event_type): (r.cnt, round(r.sum_value, 4))
        for r in events_hourly(spark, sf_dir).collect()
    }
    streamed = {
        (r.hour_epoch, r.event_type): (r.cnt, round(r.sum_value, 4))
        for r in run_hourly_stream_to_memory(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_stream_is_streaming_df(spark, sf_dir):
    from parallel_mapreduce_spark.streaming import hourly_events_stream

    df = hourly_events_stream(spark, sf_dir)
    assert df.isStreaming


def test_stateful_stream_totals_match_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.sources import load_table
    from parallel_mapreduce_spark.streaming.stateful import stream_user_totals

    batch = {
        r.user_id: (r.n, round(r.total, 4))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    streamed = {
        r.user_id: (r.n_events, round(r.total_value, 4))
        for r in stream_user_totals(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_stream_foreachbatch_parquet_sink_matches_batch(spark, sf_dir, tmp_path):
    from parallel_mapreduce_spark.operators.events import events_hourly
    from parallel_mapreduce_spark.streaming.events_stream import (
        run_hourly_stream_to_parquet,
    )

    out = str(tmp_path / "hourly_parquet")
    got = {
        (r.hour_epoch, r.event_type): (r.cnt, round(r.sum_value, 4))
        for r in run_hourly_stream_to_parquet(spark, sf_dir, out).collect()
    }
    want = {
        (r.hour_epoch, r.event_type): (r.cnt, round(r.sum_value, 4))
        for r in events_hourly(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_sliding_window_matches_batch(spark, sf_dir):
    """Second windowed twin: the 1h/30min sliding aggregation under
    availableNow must equal the oracle-checked batch plan."""
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.operators.events import events_sliding_window
    from parallel_mapreduce_spark.streaming.events_stream import (
        hourly_events_stream,
    )
    from parallel_mapreduce_spark.session import apply_runtime_conf
    from parallel_mapreduce_spark.streaming.events_stream import EVENTS_SCHEMA, decode_ts

    apply_runtime_conf(spark)
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
        .withColumn("ts", decode_ts())
    )
    stream = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"), "cnt", "sum_value"
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_sliding")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.win_start): (r.cnt, r.sum_value)
        for r in spark.table("t_sliding").collect()
    }
    want = {
        (r.win_start): (r.cnt, r.sum_value)
        for r in events_sliding_window(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_exact_dedup_matches_batch(spark, sf_dir):
    """Streaming dropDuplicates (state bounded by the watermark) — the
    streaming twin of exact dedup; on a drained source it equals the batch
    distinct count."""
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.session import apply_runtime_conf
    from parallel_mapreduce_spark.sources import load_table
    from parallel_mapreduce_spark.streaming.events_stream import EVENTS_SCHEMA, decode_ts

    apply_runtime_conf(spark)
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
        .withColumn("ts", decode_ts())
    )
    # user_id has duplicates in any events slice; dedup on it exercises state.
    deduped = src.withWatermark("ts", "1 hour").dropDuplicates(["user_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_dedup_stream").select("user_id").distinct().count()
    want = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert got == want
    # Each user appears exactly once in the deduped stream output.
    assert spark.table("t_dedup_stream").count() == want


def test_foreachbatch_checkpoint_is_exactly_once(spark, sf_dir, tmp_path):
    """Restarting an availableNow stream against an unchanged source with the
    same checkpoint must process zero new batches (offsets are committed) —
    the exactly-once bookkeeping production sinks rely on."""
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.session import apply_runtime_conf
    from parallel_mapreduce_spark.streaming.events_stream import EVENTS_SCHEMA, decode_ts

    apply_runtime_conf(spark)
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    calls = []

    def make_stream():
        src = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir.rstrip("/"))
        )
        agg = src.groupBy("event_type").agg(F.count("*").alias("cnt"))

        def sink(batch_df, batch_id):
            calls.append(batch_id)
            batch_df.write.mode("overwrite").parquet(out)

        return (
            agg.writeStream.foreachBatch(sink)
            .outputMode("complete")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
        )

    make_stream().start().awaitTermination()
    n_first = len(calls)
    assert n_first >= 1
    first = {r.event_type: r.cnt for r in spark.read.parquet(out).collect()}
    # Restart with the same checkpoint: no new data => no new batches.
    make_stream().start().awaitTermination()
    assert len(calls) == n_first
    assert {r.event_type: r.cnt for r in spark.read.parquet(out).collect()} == first


def test_stream_static_join_matches_batch(spark, sf_dir):
    """Stream-static broadcast enrichment: the streaming segment aggregation
    must equal the batch twin exactly (no watermark involved — the join and
    aggregation are time-agnostic, so complete mode sees all input once)."""
    from parallel_mapreduce_spark.operators.events import events_user_segment
    from parallel_mapreduce_spark.streaming import segment_share_stream

    batch = {
        (r.segment, r.event_type): (r.cnt, round(r.sum_value, 4))
        for r in events_user_segment(spark, sf_dir).collect()
    }
    streamed = {
        (r.segment, r.event_type): (r.cnt, round(r.sum_value, 4))
        for r in segment_share_stream(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_stream_dedup_events_query_matches_batch_distinct(spark, sf_dir):
    """The registered streaming-dedup query (dropDuplicatesWithinWatermark —
    watermark-bounded state, the production at-least-once guard) must emit
    exactly the batch-distinct key set, each key once."""
    from parallel_mapreduce_spark.sources import load_table
    from parallel_mapreduce_spark.streaming.dedup_stream import (
        DEDUP_KEYS,
        stream_dedup_events,
    )

    got = [(r.user_id, r.event_type) for r in stream_dedup_events(spark, sf_dir).collect()]
    want = {
        (r.user_id, r.event_type)
        for r in load_table(spark, sf_dir, "events").select(*DEDUP_KEYS).distinct().collect()
    }
    assert len(got) == len(want)  # each key exactly once
    assert set(got) == want


def test_transform_with_state_gate_matches_environment(spark):
    """The transformWithState name is ALWAYS registered. Where protobuf
    imports, it binds the real streaming query with its full value oracle;
    where it doesn't (this container), it binds an explicit skip-marker row
    whose oracle emits the identical documented status — the driver file
    shows an explained skip, never a silent absence or a guaranteed-red
    environment error."""
    from parallel_mapreduce_spark.registry import QUERIES, _load_all
    from parallel_mapreduce_spark.streaming.stateful import _tws_available

    _load_all()
    spec = QUERIES["stream_user_totals_tws"]
    assert spec.oracle
    if _tws_available():
        assert "GROUP BY user_id" in spec.oracle
    else:
        assert "SKIPPED" in spec.oracle
        row = spec.fn(spark, "/root/testdata/sf0.001").collect()
        assert len(row) == 1 and row[0].ran is False
        assert "protobuf" in row[0].status


def test_decode_ts_exact_for_both_epoch_units(spark):
    """decode_ts must invert both raw encodings exactly — including ns
    magnitudes beyond double's 2^53 exact-integer range, where float
    division would drift by a microsecond."""
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.streaming.events_stream import decode_ts

    micros = 1_704_067_798_778_549  # 2024-01-01 00:09:58.778549
    # An ns value whose /1000 is NOT representable exactly as double math:
    nanos = 1_704_067_798_778_549_003
    df = spark.createDataFrame(
        [(micros,), (nanos,)], "ts long"
    ).select(F.unix_micros(decode_ts()).alias("us"))
    got = sorted(r.us for r in df.collect())
    assert got == sorted([micros, nanos // 1000])


def test_stateful_totals_correct_across_multiple_microbatches(spark, sf_dir, tmp_path):
    """The stream_user_totals snapshot reduction claims correctness under
    ANY micro-batch split. Force a real multi-batch run: events split into
    4 files, maxFilesPerTrigger=1 -> 4 batches, users emit up to 4
    snapshots each; the max_by reduction must still equal the batch
    aggregate."""
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.session import apply_runtime_conf
    from parallel_mapreduce_spark.sources import load_table
    from parallel_mapreduce_spark.streaming.events_stream import EVENTS_SCHEMA
    from parallel_mapreduce_spark.streaming.stateful import update_user_totals
    from pyspark.sql.streaming.state import GroupStateTimeout

    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "events_split")
    # int64 raw ts like the streaming schema expects
    # batch ts is TIMESTAMP_NTZ; session tz is UTC so the cast is identity
    ev.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"),
        "user_id", "event_type", "value", "props",
    ).repartition(4).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_user_totals,
            outputStructType="user_id bigint, n_events bigint, total_value double, last_seen_epoch bigint",
            stateStructType="n bigint, total double, last_epoch bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_multibatch")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snaps = spark.table("t_multibatch")
    # More snapshots than users proves the run really was multi-batch.
    n_users = snaps.select("user_id").distinct().count()
    assert snaps.count() > n_users
    final = (
        snaps.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select("user_id", F.col("s.n_events").alias("n_events"),
                F.round("s.total_value", 4).alias("total_value"))
    )
    want = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    got = {r.user_id: (r.n_events, r.total_value) for r in final.collect()}
    exp = {r.user_id: (r.n_events, r.total_value) for r in want.collect()}
    assert got == exp


def test_watermark_drops_late_data(spark, tmp_path):
    """Watermark semantics pinned end-to-end: an event whose time is far
    below the committed watermark must be DROPPED from the windowed
    aggregation — that drop is what bounds state on an unbounded stream.
    The watermark only binds across COMMITTED batches, so the late batch
    arrives in a second availableNow run against the same checkpoint
    (within one run, availableNow plans its batches before the watermark
    from earlier files takes effect — measured, not assumed)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.session import apply_runtime_conf

    apply_runtime_conf(spark)
    src = str(tmp_path / "late_feed")
    cp = str(tmp_path / "late_cp")
    base = 1_700_002_800 * 1_000_000  # epoch micros, hour-aligned
    hour = 3_600_000_000

    import os

    os.makedirs(src)
    emitted = []

    def run():
        stream = (
            spark.readStream.schema("event_id long, ts long, user_id long")
            .parquet(src)
            .withColumn("ts", F.timestamp_micros("ts"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("cnt"))
            .select(F.unix_timestamp("w.start").alias("win"), "cnt")
        )

        def sink(bdf, bid):
            emitted.extend((r.win, r.cnt) for r in bdf.collect())

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", cp)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # Run 1: events at t0 and t0+10h -> committed watermark = t0+9h.
    pd.DataFrame(
        [(1, base, 1), (2, base + 10 * hour, 1)],
        columns=["event_id", "ts", "user_id"],
    ).to_parquet(f"{src}/b1.parquet")
    run()
    base_s = base // 1_000_000
    assert sorted(emitted) == [(base_s, 1), (base_s + 10 * 3600, 1)]

    # Run 2: one event inside the watermark (t0+9.5h) and one 8h BELOW it
    # (t0+1h). Only the in-window event may surface.
    emitted.clear()
    pd.DataFrame(
        [(3, base + 9 * hour + hour // 2, 1), (4, base + hour, 1)],
        columns=["event_id", "ts", "user_id"],
    ).to_parquet(f"{src}/b2.parquet")
    run()
    assert sorted(emitted) == [(base_s + 9 * 3600, 1)]  # late event dropped


def test_statestore_metadata_layout(spark, sf_dir, monkeypatch):
    """state-metadata companion source: the checkpoint must report exactly
    one stateful operator (the streaming agg's stateStoreSave), state
    partitions latched to the count session.parallelism derives from the
    events table's bytes, and a single availableNow micro-batch
    (min==max batch id == 0). Also pins that the statestore rows spread
    across partitions rather than collapsing onto one (keyed-state hash
    distribution — the property that makes the reader a parallel scan at
    production partition counts); the per-partition byte target is
    forced down so this small table sizes to three partitions."""
    import parallel_mapreduce_spark.session as S
    from parallel_mapreduce_spark.sources.tables import table_bytes
    from parallel_mapreduce_spark.streaming.state_reader import (
        run_user_totals_to_checkpoint,
    )

    nbytes = table_bytes(sf_dir, "events")
    monkeypatch.setattr(S, "PART_BYTES", -(-nbytes // 3))
    assert S.parallelism(spark, nbytes) == 3
    ckpt = run_user_totals_to_checkpoint(spark, sf_dir)
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1
    row = meta[0]
    assert row["operatorName"] == "stateStoreSave"
    assert row["numPartitions"] == 3
    assert row["minBatchId"] == 0 and row["maxBatchId"] == 0

    state = spark.read.format("statestore").load(ckpt)
    n_parts = state.select("partition_id").distinct().count()
    assert n_parts > 1  # keys hash-spread, not single-partition


def test_chained_join_window_runs_two_stateful_operators(spark, sf_dir):
    """The chained plan must carry BOTH stateful operators in one query —
    the stream-stream symmetric hash join AND the downstream window
    aggregation's state store save — and the final progress must show a
    multi-batch replay (the watermark actually advanced)."""
    from parallel_mapreduce_spark.streaming.joins_stream import (
        run_chained_join_hourly,
    )

    hourly, progress = run_chained_join_hourly(spark, sf_dir)
    ops = progress["stateOperators"]
    names = sorted(o["operatorName"] for o in ops)
    assert len(ops) == 2, names
    assert any("symmetricHashJoin" in n for n in names), names
    assert any("stateStoreSave" in n for n in names), names
    # Multi-batch: the bucketed source replays one file per trigger, so
    # the last batch id must be past the first few buckets.
    assert progress["batchId"] >= 3
    assert hourly.count() >= 0


def _run_late_replay(spark, tmp_path, files):
    """Replay the given per-batch row lists (event_id, ts-string, value)
    as one file each (mtime-ordered) through the hourly watermarked
    aggregation; returns (emitted window-start strings, total
    numRowsDroppedByWatermark)."""
    import os

    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.streaming.drain import drain

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(files):
        df = spark.createDataFrame(
            [(e, t, v) for e, t, v in rows], "event_id bigint, ts string, value double"
        ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "value")
        stage = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        import glob
        import shutil

        part = sorted(glob.glob(stage + "/part-*.parquet"))[0]
        dst = os.path.join(src, f"f{i:04d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, value double"
    ).option("maxFilesPerTrigger", "1").parquet(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    out, q = drain(agg, "append", name="late_grace")
    dropped = sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in (q.recentProgress or [])
        for op in p["stateOperators"]
    )
    emitted = {
        r["w"]["start"].strftime("%Y-%m-%d %H")
        for r in out.collect()
    }
    return emitted, dropped


def test_watermark_late_filter_arms_one_batch_later(spark, tmp_path):
    """Pins the SPARK-40925 contract stream_late_drop_accounting's replay
    design depends on: stateful operators filter late records with the
    PREVIOUS batch's watermark. A row arriving in the very next batch
    after the watermark passed its window is ADMITTED (then immediately
    evicted and emitted, counter untouched); the same row arriving one
    batch later is DROPPED and counted."""
    b = [(1, "2024-01-20 05:00:30", 1.0)]  # establishes wm ~ Jan 20 04:00
    a = [(2, "2024-01-01 00:00:30", 1.0)]  # 19 days below that watermark
    adv = [(3, "2024-01-20 05:10:00", 1.0)]  # advancer: keeps wm in place

    # A rides the batch right after B: one-batch grace — admitted,
    # emitted as an (expired) window, nothing counted as dropped.
    emitted, dropped = _run_late_replay(spark, tmp_path / "g", [b, a])
    assert dropped == 0
    assert "2024-01-01 00" in emitted

    # A arrives two batches after B: the late filter is armed with B's
    # watermark — dropped and counted, window never emitted.
    emitted2, dropped2 = _run_late_replay(spark, tmp_path / "d", [b, adv, a])
    assert dropped2 == 1
    assert "2024-01-01 00" not in emitted2


def test_stream_ann_serve_equals_batch(spark, sf_dir):
    """Round 13: the drained streaming ANN serve must equal the batch
    serving path bit-for-bit — beams are per query, so micro-batch
    serving is exact (the docstring's composition claim, pinned)."""
    from parallel_mapreduce_spark.functions.similarity import (
        ann_graph_search_topk,
    )
    from parallel_mapreduce_spark.streaming.ann_serve_stream import (
        stream_ann_serve_topk,
    )

    a = (
        stream_ann_serve_topk(spark, sf_dir)
        .toPandas()
        .sort_values(["q_id", "rk"])
        .reset_index(drop=True)
    )
    b = (
        ann_graph_search_topk(spark, sf_dir)
        .toPandas()
        .sort_values(["q_id", "rk"])
        .reset_index(drop=True)
    )
    assert a.equals(b)


def test_event_streams_read_directory_shaped_table(spark, sf_dir, tmp_path):
    """A table written by Spark is a DIRECTORY of part files. The events
    stream source must stream it (a pathGlobFilter on the parent matches
    files only and would yield an empty stream with no error): the
    streaming twins equal their batch twins on a world whose events table
    is split into two part files."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from parallel_mapreduce_spark.operators.events import events_hourly
    from parallel_mapreduce_spark.sources import load_table
    from parallel_mapreduce_spark.streaming.events_stream import (
        stream_events_hourly,
    )
    from parallel_mapreduce_spark.streaming.stateful import stream_user_totals

    import os

    world = tmp_path / "dir_world"
    events_dir = world / "events.parquet"
    events_dir.mkdir(parents=True)
    for f in os.listdir(sf_dir):  # the batch twins register every table
        if f.endswith(".parquet") and f != "events.parquet":
            os.symlink(os.path.join(sf_dir, f), world / f)
    ev = pq.read_table(f"{sf_dir}/events.parquet")
    half = ev.num_rows // 2
    pq.write_table(ev.slice(0, half), events_dir / "part-00000.parquet")
    pq.write_table(ev.slice(half), events_dir / "part-00001.parquet")
    world = str(world)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    hourly = rows(stream_events_hourly(spark, world))
    assert hourly
    assert hourly == rows(events_hourly(spark, world))

    totals = {
        r.user_id: (r.n_events, r.total_value)
        for r in stream_user_totals(spark, world).collect()
    }
    want = {
        r.user_id: (r.n, r.total)
        for r in load_table(spark, world, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .collect()
    }
    assert totals
    assert totals == want


# Every registered query that drains into a memory sink. Each sink (and so
# its temp view) is named after its query, ``stream_<...>_<n>``.
MEMORY_SINK_QUERIES = [
    "stream_chained_join_hourly",
    "stream_click_attribution",
    "stream_click_no_purchase",
    "stream_dedup_events",
    "stream_events_hourly",
    "stream_late_drop_accounting",
    "stream_python_source_totals",
    "stream_segment_share",
    "stream_session_windows",
    "stream_user_totals",
    "stream_user_totals_rocksdb",
]


def _temp_views(spark, prefix):
    return [
        t.name
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith(prefix)
    ]


@pytest.mark.parametrize("name", MEMORY_SINK_QUERIES)
def test_memory_sink_views_do_not_pile_up(spark, sf_dir, name):
    """Each memory-sink drain registers a temp view holding the sink's rows
    in the driver. The drain drops it once the result frame is taken: two
    runs of the query give equal results and leave no view behind."""
    from parallel_mapreduce_spark.registry import QUERIES, _load_all

    _load_all()
    fn = QUERIES[name].fn
    first = sorted(map(tuple, fn(spark, sf_dir).collect()))
    second = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert first
    assert first == second
    assert _temp_views(spark, "stream_") == []
