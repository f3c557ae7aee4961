"""The one streaming run path: open a table as a stream, drain it to the end.

Every streaming exhibit is a logical plan between these two functions — the
streaming counterpart of the reference's single ``MR_Run`` entry point
(mapreduce.h:51-54), which takes the input files and runs the job to
completion. ``table_stream`` is the source, ``drain`` is the run: a one-shot
``availableNow`` trigger that processes everything the source holds, then
stops. What varies between exhibits — output mode, sink, sink options — is
all a caller passes.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from parallel_mapreduce_spark.session import state_sized_shuffle

# Atomic under the GIL (next() is one bytecode); a bare global += can race
# under threaded callers and hand two invocations the same name.
_SEQ = itertools.count(1)


def unique_name(prefix: str) -> str:
    """``<prefix>_<n>``, unique per process: sink names and per-invocation
    scratch/checkpoint directories."""
    return f"{prefix}_{next(_SEQ)}"


def table_stream(
    spark: SparkSession, sf_dir: str, table: str, schema
) -> DataFrame:
    """Stream ``<sf_dir>/<table>.parquet`` with an explicit ``schema`` (a
    file stream source cannot infer one).

    The file source reads directories. A table written by Spark (replicas,
    any production corpus) IS a directory of part files, so it is streamed
    directly. The single-file shape (the generated test worlds) streams the
    parent directory with a ``pathGlobFilter`` on the file name — that
    filter matches files only, so on a directory-shaped table it would
    select nothing and yield an empty stream with no error."""
    base = sf_dir.rstrip("/")
    path = os.path.join(base, f"{table}.parquet")
    reader = spark.readStream.schema(schema)
    if not os.path.isdir(path):
        reader = reader.option("pathGlobFilter", f"{table}.parquet")
        path = base
    return reader.parquet(path)


def drain(
    df: DataFrame,
    mode: str,
    sink: str | Callable[[DataFrame, int], None] = "memory",
    name: str = "stream",
    source_bytes: int | None = None,
    **options: str,
) -> tuple[DataFrame | None, StreamingQuery]:
    """Run the streaming ``df`` to completion (``availableNow``) and return
    (result, query).

    ``mode`` is the output mode. ``sink`` is a format name (default the
    memory sink) or a ``foreachBatch`` callable; ``options`` are sink
    options such as ``checkpointLocation``. For the memory sink the result
    is the sink's frame: the sink registers a temp view ``<name>_<n>``,
    which is dropped once the frame is taken (the frame keeps the rows; the
    view would otherwise pin them in the driver for the session). Other
    sinks return None. The query carries ``recentProgress`` /
    ``lastProgress`` for the state-operator metrics.

    The run is scoped under ``state_sized_shuffle``: stateful operators
    latch their state-partition count to the shuffle partitions at start,
    sized from ``source_bytes``, the on-disk bytes of the table the stream
    reads (None when unknown: the full ``partition_count``, which a
    stateless stream's foreachBatch jobs also run at).
    """
    spark = df.sparkSession
    writer = df.writeStream.outputMode(mode)
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format(sink)
    view = unique_name(name) if sink == "memory" else None
    if view is not None:
        writer = writer.queryName(view)
    writer = writer.options(**options)
    with state_sized_shuffle(spark, source_bytes):
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    if view is None:
        return None, q
    out = spark.table(view)
    spark.catalog.dropTempView(view)
    return out, q
