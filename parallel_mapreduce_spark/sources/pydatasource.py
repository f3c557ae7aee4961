"""Spark 4 Python DataSource API: a custom partitioned source in pure Python.

The reference's only source is a pthread file scan (src/mapreduce.c:214-257:
one thread per file region). Spark 4's `pyspark.sql.datasource` API is the
modern extension point for the same idea — a user-defined source that
declares its schema and its PARTITIONS, and the engine schedules one task
per partition. This module registers a deterministic synthetic generator
(`pmr_synth`) proving the full surface: schema declaration, option plumbing,
partition planning, and per-partition iteration, with the row content a
closed-form function of the row id so DuckDB can recompute it exactly —
a full value oracle for a source that has no file behind it.

Scale posture: the source yields per-partition iterators (no driver-side
materialization); partition count is an option, so a real implementation
(reading a queue, an API, a proprietary format) splits the same way a
parquet scan does. Arithmetic stays in range: row_id < 2^49 keeps
row_id * 1103515245 under 2^63.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.sources.tables import (
    load_table,
    read_json,
    register_views,
)

SYNTH_ROWS = 100_000
SYNTH_PARTS = 8
SYNTH_BUCKETS = 16
SYNTH_A = 1103515245
SYNTH_C = 12345
SYNTH_M = 1_000_003


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SynthReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n = int(options.get("rows", SYNTH_ROWS))
        self.parts = int(options.get("partitions", SYNTH_PARTS))

    def partitions(self) -> Sequence[InputPartition]:
        step = max(1, -(-self.n // self.parts))  # ceil division
        return [
            _RangePartition(lo, min(lo + step, self.n))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield (i, i % SYNTH_BUCKETS, (i * SYNTH_A + SYNTH_C) % SYNTH_M)


class SynthDataSource(DataSource):
    """``spark.read.format("pmr_synth")`` — deterministic LCG row stream."""

    @classmethod
    def name(cls) -> str:
        return "pmr_synth"

    def schema(self) -> str:
        return "row_id bigint, bucket int, value bigint"

    def reader(self, schema) -> DataSourceReader:
        return SynthReader(self.options)


class SynthPushdownReader(SynthReader):
    """Filter-pushdown-capable variant (``pushFilters``, Spark 4.1): range
    predicates on ``row_id`` narrow the generated id range BEFORE partition
    planning (the Python-source analogue of parquet row-group pruning —
    pruned partitions are never scheduled), and ``bucket = k`` equality is
    applied inside the generator. Handled filters are applied EXACTLY
    (integer range arithmetic, modulo equality) and therefore consumed;
    anything else is returned as residual for Spark to evaluate post-scan.
    """

    def __init__(self, options: dict):
        super().__init__(options)
        self.lo = 0
        self.hi = self.n
        self.bucket: int | None = None
        self.pushed: list[str] = []  # repr of consumed filters (test hook)

    def pushFilters(self, filters):  # noqa: N802 (API name)
        # Eager, not a generator: the lo/hi/bucket narrowing must be
        # complete before partitions() runs, regardless of when (or
        # whether) the engine drains the residual iterable.
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        residual = []
        for f in filters:
            col = getattr(f, "attribute", None)
            if col == ("row_id",) and isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, int(f.value))
            elif col == ("row_id",) and isinstance(f, GreaterThan):
                self.lo = max(self.lo, int(f.value) + 1)
            elif col == ("row_id",) and isinstance(f, LessThan):
                self.hi = min(self.hi, int(f.value))
            elif col == ("row_id",) and isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, int(f.value) + 1)
            elif col == ("bucket",) and isinstance(f, EqualTo):
                self.bucket = int(f.value)
            else:
                residual.append(f)  # unsupported: Spark re-evaluates it
                continue
            self.pushed.append(repr(f))
        return residual

    def partitions(self) -> Sequence[InputPartition]:
        lo, hi = self.lo, max(self.lo, self.hi)
        step = max(1, -(-(hi - lo) // self.parts))
        return [
            _RangePartition(s, min(s + step, hi)) for s in range(lo, hi, step)
        ] or [_RangePartition(0, 0)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            b = i % SYNTH_BUCKETS
            if self.bucket is not None and b != self.bucket:
                continue
            yield (i, b, (i * SYNTH_A + SYNTH_C) % SYNTH_M)


class SynthPushdownDataSource(DataSource):
    """``spark.read.format("pmr_synth_pd")`` — same LCG stream, with
    reader-side filter pushdown."""

    @classmethod
    def name(cls) -> str:
        return "pmr_synth_pd"

    def schema(self) -> str:
        return "row_id bigint, bucket int, value bigint"

    def reader(self, schema) -> DataSourceReader:
        return SynthPushdownReader(self.options)


_REGISTERED: set[tuple[int, str]] = set()


def register_synth_source(spark: SparkSession) -> None:
    from parallel_mapreduce_spark.session import session_key

    key = session_key(spark)
    if key in _REGISTERED:
        return
    _REGISTERED.add(key)
    spark.dataSource.register(SynthDataSource)
    spark.dataSource.register(SynthPushdownDataSource)
    spark.dataSource.register(JsonlSinkDataSource)
    spark.dataSource.register(SynthStreamDataSource)
    spark.dataSource.register(JsonlStreamSinkDataSource)


@query(
    "python_datasource_scan",
    oracle=f"""
    SELECT CAST(i % {SYNTH_BUCKETS} AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM((i * {SYNTH_A} + {SYNTH_C}) % {SYNTH_M}) AS BIGINT)
             AS sum_value,
           CAST(MAX((i * {SYNTH_A} + {SYNTH_C}) % {SYNTH_M}) AS BIGINT)
             AS max_value
    FROM range(0, {SYNTH_ROWS}) t(i)
    GROUP BY 1
    """,
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the custom Python source: proves the partition-planned
    scan end to end (sf_dir unused — the source is synthetic by design)."""
    from parallel_mapreduce_spark.session import apply_runtime_conf

    apply_runtime_conf(spark)
    register_synth_source(spark)
    df = (
        spark.read.format("pmr_synth")
        .option("rows", SYNTH_ROWS)
        .option("partitions", SYNTH_PARTS)
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
    )


PD_LO = 20_000  # row_id range pushed into the reader (partition pruning)
PD_HI = 60_000
PD_BUCKET = 5  # bucket equality pushed into the generator


@query(
    "python_datasource_pushdown_scan",
    oracle=f"""
    SELECT CAST((i * {SYNTH_A} + {SYNTH_C}) % {SYNTH_M} % 3 AS BIGINT)
             AS value_mod3,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM((i * {SYNTH_A} + {SYNTH_C}) % {SYNTH_M}) AS BIGINT)
             AS sum_value,
           CAST(MIN(i) AS BIGINT) AS min_row,
           CAST(MAX(i) AS BIGINT) AS max_row
    FROM range(0, {SYNTH_ROWS}) t(i)
    WHERE i >= {PD_LO} AND i < {PD_HI} AND i % {SYNTH_BUCKETS} = {PD_BUCKET}
      AND (i * {SYNTH_A} + {SYNTH_C}) % {SYNTH_M} % 7 <> 0
    GROUP BY 1
    """,
)
def python_datasource_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered scan over the pushdown-capable Python source: the row_id
    range and bucket equality are consumed by the reader (pushFilters),
    so only rows {PD_LO}..{PD_HI} of bucket {PD_BUCKET} are ever GENERATED
    — partition pruning inside a user source, the behavior a queue/API/
    proprietary-format reader needs at 100 TB. The value%7 predicate is
    deliberately non-pushable (arithmetic on a generated column) and rides
    as Spark's residual filter; the oracle recomputes everything from the
    closed form, so over- OR under-pushing either filter class fails the
    value check. Reader-level semantics (residual set, narrowed partition
    ranges, bucket skip) are unit-pinned in tests/test_sources.py."""
    from parallel_mapreduce_spark.session import apply_runtime_conf

    apply_runtime_conf(spark)
    register_synth_source(spark)
    df = (
        spark.read.format("pmr_synth_pd")
        .option("rows", SYNTH_ROWS)
        .option("partitions", SYNTH_PARTS)
        .load()
        .filter(
            (F.col("row_id") >= PD_LO)
            & (F.col("row_id") < PD_HI)
            & (F.col("bucket") == PD_BUCKET)
            & (F.col("value") % 7 != 0)
        )
    )
    return df.groupBy((F.col("value") % 3).alias("value_mod3")).agg(
        F.count("*").alias("n_rows"),
        F.sum("value").alias("sum_value"),
        F.min("row_id").alias("min_row"),
        F.max("row_id").alias("max_row"),
    )


# --------------------------------------------------------------------------
# Python DataSource WRITE path (round 7): the other half of the custom-
# connector story. The read side above proves schema/partitions/pushdown;
# this sink proves the executor-side write + driver-side two-phase COMMIT
# protocol — the property that matters at 100 TB, where task retries and
# speculative duplicates are routine: every task writes to a staged file
# named by (partitionId, taskAttemptId), returns a commit message, and
# only the driver's commit() publishes staged files and records them in a
# _MANIFEST.json; readers trust the manifest, never the directory
# listing, so orphaned attempts are invisible. abort() discards staging.
# (The same rename-into-manifest design as Spark's own
# HadoopMapReduceCommitProtocol / the lakehouse snapshot exhibit in
# sources/roundtrip.py, here exercised through the user-extension API.)
# --------------------------------------------------------------------------
from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


class _SinkCommit(WriterCommitMessage):
    def __init__(self, staged: str, rows: int):
        self.staged = staged
        self.rows = rows


class JsonlSinkWriter(DataSourceWriter):
    def __init__(self, options: dict, schema, overwrite: bool):
        import glob
        import os

        self.path = options["path"]
        self.cols = [f.name for f in schema.fields]
        os.makedirs(self.path, exist_ok=True)
        if overwrite:
            # Driver-side, before any task runs: clear the previous
            # committed generation (manifest + published parts).
            for p in glob.glob(os.path.join(self.path, "part-*.jsonl")):
                os.remove(p)
            m = os.path.join(self.path, "_MANIFEST.json")
            if os.path.exists(m):
                os.remove(m)

    def write(self, iterator):
        import json
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(
            staging,
            f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.jsonl",
        )
        n = 0
        with open(staged, "w") as fh:
            for row in iterator:
                fh.write(
                    json.dumps(
                        dict(zip(self.cols, row)), separators=(",", ":")
                    )
                    + "\n"
                )
                n += 1
        return _SinkCommit(staged=staged, rows=n)

    def commit(self, messages):
        import json
        import os
        import shutil

        files, total = [], 0
        for m in messages:
            base = os.path.basename(m.staged)
            # part-<pid>-<attempt>.jsonl -> part-<pid>.jsonl: exactly one
            # published file per partition, whichever attempt won.
            final = "-".join(base.split("-")[:2]) + ".jsonl"
            os.replace(m.staged, os.path.join(self.path, final))
            files.append({"file": final, "rows": m.rows})
            total += m.rows
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            json.dump({"files": files, "total_rows": total}, fh)
        shutil.rmtree(
            os.path.join(self.path, "_staging"), ignore_errors=True
        )

    def abort(self, messages):
        import shutil
        import os

        shutil.rmtree(
            os.path.join(self.path, "_staging"), ignore_errors=True
        )


class JsonlSinkDataSource(DataSource):
    """``df.write.format("pmr_jsonl_sink").option("path", ...)`` —
    manifest-committed JSON-lines sink."""

    @classmethod
    def name(cls) -> str:
        return "pmr_jsonl_sink"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return JsonlSinkWriter(self.options, schema, overwrite)


SINK_PARTS = 4


@query(
    "python_datasource_write_roundtrip",
    oracle=f"""
    WITH agg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, sum_chars,
           CAST({SINK_PARTS} AS BIGINT) AS n_committed_files,
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS manifest_rows,
           CAST(0 AS BIGINT) AS n_staged_residue
    FROM agg
    """,
)
def python_datasource_write_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """documents -> custom Python sink (staged write, manifest commit) ->
    manifest-listed JSON scan -> agg. The audit columns are MEASURED from
    the filesystem (committed-file count, manifest row total, staging
    residue) and pinned by the oracle's expectations: a task writing
    around the staging protocol, a lost commit message, or an uncleaned
    staging dir each fails the value check."""
    import glob as _glob
    import json as _json
    import os as _os

    from parallel_mapreduce_spark.session import apply_runtime_conf
    from parallel_mapreduce_spark.sources.tables import sink_dir

    apply_runtime_conf(spark)
    register_views(spark, sf_dir)
    register_synth_source(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = sink_dir("pyds_jsonl_sink") + "/docs"
    (
        docs.repartition(SINK_PARTS, "doc_id")
        .write.format("pmr_jsonl_sink")
        .mode("overwrite")
        .option("path", out)
        .save()
    )
    manifest = _json.load(open(_os.path.join(out, "_MANIFEST.json")))
    files = [_os.path.join(out, f["file"]) for f in manifest["files"]]
    residue = len(_glob.glob(_os.path.join(out, "_staging", "*")))
    back = read_json(
        spark, files, schema="doc_id bigint, lang string, n_chars bigint"
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    ).select(
        "lang",
        "n_docs",
        "sum_chars",
        F.lit(len(files)).cast("long").alias("n_committed_files"),
        F.lit(int(manifest["total_rows"]))
        .cast("long")
        .alias("manifest_rows"),
        F.lit(residue).cast("long").alias("n_staged_residue"),
    )


# --------------------------------------------------------------------------
# Python DataSource STREAM read path (round 7): the streaming third of
# the custom-connector story (batch read + pushdown + batch write above).
# SimpleDataSourceStreamReader is the queue/API-poller extension point:
# the engine asks initialOffset() once, then per micro-batch read(start)
# -> (rows, nextOffset); readBetweenOffsets(start, end) must replay any
# committed range EXACTLY (that replay contract is what makes recovery
# after a crash exactly-once), and commit(end) releases what the sink
# has durably consumed. This source emits the same LCG rows as the batch
# synth source in STREAM_BATCH-row micro-batches and goes DRY at
# STREAM_TOTAL rows (read returns an empty chunk with an unchanged
# offset), so processAllAvailable() terminates deterministically and the
# closed form remains a full DuckDB value oracle — for a source that is
# a stream, not a file.
# --------------------------------------------------------------------------
from pyspark.sql.datasource import SimpleDataSourceStreamReader

STREAM_TOTAL = 50_000
STREAM_BATCH = 8_000


def _lcg_rows(lo: int, hi: int) -> Iterator[tuple]:
    # A LIST-iterator, not a generator: the engine's prefetch cache both
    # next()s the returned value and copy.copy()s it to serve replays —
    # generators can't be copied, bare lists can't be next()ed. Bounded
    # by the micro-batch size, never the stream.
    return iter(
        [
            (i, i % SYNTH_BUCKETS, (i * SYNTH_A + SYNTH_C) % SYNTH_M)
            for i in range(lo, hi)
        ]
    )


class SynthStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.total = int(options.get("rows", STREAM_TOTAL))
        self.batch = int(options.get("batchrows", STREAM_BATCH))

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"i": 0}

    def read(self, start: dict):
        lo = int(start["i"])
        hi = min(lo + self.batch, self.total)
        return _lcg_rows(lo, hi), {"i": hi}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        return _lcg_rows(int(start["i"]), int(end["i"]))

    def commit(self, end: dict) -> None:
        pass  # nothing to release: the generator is stateless


class SynthStreamDataSource(DataSource):
    """``spark.readStream.format("pmr_synth_stream")`` — finite
    deterministic LCG micro-batch stream."""

    @classmethod
    def name(cls) -> str:
        return "pmr_synth_stream"

    def schema(self) -> str:
        return "row_id bigint, bucket int, value bigint"

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:  # noqa: N802
        return SynthStreamReader(self.options)


@query(
    "stream_python_source_totals",
    oracle=f"""
    SELECT CAST(i % {SYNTH_BUCKETS} AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM((i * {SYNTH_A} + {SYNTH_C}) % {SYNTH_M}) AS BIGINT)
             AS sum_value
    FROM range(0, {STREAM_TOTAL}) t(i)
    GROUP BY 1
    """,
)
def stream_python_source_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-bucket totals over the custom Python STREAM source, drained to
    a memory sink across ~7 micro-batches (sf_dir unused — synthetic by
    design). Complete output mode; the finite source goes dry, so
    processAllAvailable() is a deterministic drain. The multi-batch
    schedule matters: the result is only correct if every micro-batch's
    rows arrive exactly once across the offset ranges.

    Not streaming.drain: an availableNow trigger over this source plans
    ONE micro-batch (measured: 1 batch instead of 7, and different
    per-bucket totals), so both Python-source drains keep the
    processAllAvailable() loop."""
    from parallel_mapreduce_spark.session import (
        apply_runtime_conf,
        state_sized_shuffle,
    )
    from parallel_mapreduce_spark.streaming.drain import unique_name

    apply_runtime_conf(spark)
    register_synth_source(spark)
    name = unique_name("stream_python_source_totals")
    agg = (
        spark.readStream.format("pmr_synth_stream")
        .load()
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("value").alias("sum_value"),
        )
    )
    with state_sized_shuffle(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    out = spark.table(name)
    spark.catalog.dropTempView(name)  # the frame keeps the sink's rows
    return out


# --------------------------------------------------------------------------
# Python DataSource STREAM write path (round 7): the fourth quadrant of
# the connector matrix (batch read+pushdown / batch write / stream read /
# now stream write). DataSourceStreamWriter is the "push each micro-batch
# to an external system" extension point; the durability contract is
# per-BATCH two-phase commit: tasks stage batch-<id>-part-<pid>-<attempt>
# files, commit(messages, batchId) publishes them and APPENDS one line to
# a _COMMITS log naming the batch's files — recovery reads the commit
# log, so a batch whose tasks wrote but whose commit never ran is
# invisible and the checkpoint replays it (exactly-once end to end when
# paired with the stream source's readBetweenOffsets replay). abort()
# discards that batch's staging only.
# --------------------------------------------------------------------------
from pyspark.sql.datasource import DataSourceStreamWriter


class JsonlStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict, schema):
        import os

        self.path = options["path"]
        self.cols = [f.name for f in schema.fields]
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator):
        import json
        import os

        from pyspark import TaskContext

        ctx = TaskContext.get()
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(
            staging,
            f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.jsonl",
        )
        n = 0
        with open(staged, "w") as fh:
            for row in iterator:
                fh.write(
                    json.dumps(
                        dict(zip(self.cols, row)), separators=(",", ":")
                    )
                    + "\n"
                )
                n += 1
        return _SinkCommit(staged=staged, rows=n)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        import json
        import os

        files, total = [], 0
        for m in messages:
            if m is None:
                continue
            base = os.path.basename(m.staged)
            final = f"batch-{batchId:05d}-" + "-".join(
                base.split("-")[:2]
            ) + ".jsonl"
            os.replace(m.staged, os.path.join(self.path, final))
            files.append(final)
            total += m.rows
        # APPEND one commit-log line per batch (atomic publish point).
        with open(os.path.join(self.path, "_COMMITS"), "a") as fh:
            fh.write(
                json.dumps(
                    {"batch": batchId, "files": files, "rows": total},
                    separators=(",", ":"),
                )
                + "\n"
            )

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        import os
        import shutil

        shutil.rmtree(
            os.path.join(self.path, "_staging"), ignore_errors=True
        )


class JsonlStreamSinkDataSource(DataSource):
    """``df.writeStream.format("pmr_jsonl_stream_sink")`` — per-batch
    commit-logged JSON-lines streaming sink."""

    @classmethod
    def name(cls) -> str:
        return "pmr_jsonl_stream_sink"

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802 (API name)
        return JsonlStreamWriter(self.options, schema)


@query(
    "stream_python_sink_roundtrip",
    oracle=f"""
    SELECT CAST(i % {SYNTH_BUCKETS} AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM((i * {SYNTH_A} + {SYNTH_C}) % {SYNTH_M}) AS BIGINT)
             AS sum_value,
           CAST((SELECT COUNT(*) FROM range(0, {STREAM_TOTAL})) AS BIGINT)
             AS committed_rows,
           CAST(0 AS BIGINT) AS n_staged_residue
    FROM range(0, {STREAM_TOTAL}) t(i)
    GROUP BY 1
    """,
)
def stream_python_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom Python STREAM source -> custom Python STREAM sink -> commit-
    log-listed JSON scan -> agg (sf_dir unused — synthetic by design).
    Every row crosses a real micro-batch boundary twice (source offset
    ranges, sink per-batch commits); the read-back trusts only the
    _COMMITS log. Audit columns (commit-log row total, staging residue)
    are MEASURED and oracle-pinned, like the batch sink twin."""
    import glob as _glob
    import json as _json
    import os as _os
    import shutil as _shutil

    from parallel_mapreduce_spark.session import (
        apply_runtime_conf,
        state_sized_shuffle,
    )
    from parallel_mapreduce_spark.sources.tables import sink_dir
    from parallel_mapreduce_spark.streaming.drain import unique_name

    apply_runtime_conf(spark)
    register_synth_source(spark)
    out = sink_dir("pyds_jsonl_stream_sink") + "/rows"
    # Streaming sinks append across restarts by design; this query's
    # contract is one drained generation, so reset the sink dir (the
    # checkpoint is fresh each run — a re-run would re-deliver batch 0).
    _shutil.rmtree(out, ignore_errors=True)
    src = spark.readStream.format("pmr_synth_stream").load()
    with state_sized_shuffle(spark):
        q = (
            src.writeStream.format("pmr_jsonl_stream_sink")
            .option("path", out)
            .option(
                "checkpointLocation",
                sink_dir("pyds_jsonl_stream_sink") + "/"
                + unique_name("ckpt"),
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    commits = [
        _json.loads(line)
        for line in open(_os.path.join(out, "_COMMITS"))
    ]
    files = [
        _os.path.join(out, f) for c in commits for f in c["files"]
    ]
    committed_rows = sum(c["rows"] for c in commits)
    residue = len(_glob.glob(_os.path.join(out, "_staging", "*")))
    back = read_json(
        spark, files, schema="row_id bigint, bucket int, value bigint"
    )
    return back.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum("value").alias("sum_value"),
    ).select(
        "bucket",
        "n_rows",
        "sum_value",
        F.lit(committed_rows).cast("long").alias("committed_rows"),
        F.lit(residue).cast("long").alias("n_staged_residue"),
    )
