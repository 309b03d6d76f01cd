"""Bounded-run harness for Structured Streaming.

Production streams run the plans in stream.py continuously (kafka / cloud
storage sources, checkpointed file sinks). These helpers exist to drive a
FINITE file set to completion synchronously — for tests, the driver
contract, and oracle comparison — and are deliberately separated from the
production operators so nobody copies mtime-staggering or memory sinks
into a real deployment.
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SCRATCH_ROOT: str | None = None


def resolve_slices(n_slices: int, default: int) -> int:
    """Micro-batch count for a bounded stream twin. An EXPLICIT caller
    value always wins; when the caller left the operator's default, the
    ``SPARK_GRAFT_STREAM_SLICES`` env override applies — the bench's
    decorrelation mode (round-10): the six slowest full-surface entries
    were file-source streams whose wall was the trigger loop, not the
    fold, so the bench runs the twins with fewer, larger slices. Safe
    because every twin's fold law is slice-count-invariant (each pinned
    by its own n_slices=2-vs-4 equality test)."""
    if n_slices != default:
        return n_slices
    env = os.environ.get("SPARK_GRAFT_STREAM_SLICES")
    return max(1, int(env)) if env else n_slices


def scratch_dir(prefix: str) -> str:
    """mkdtemp under ONE process-scoped scratch root that is removed at
    interpreter exit. Streamed queries each stage a source dir, sinks and
    checkpoints; bare mkdtemp leaked those per invocation, so repeated
    bench/sweep runs accumulated orphan /tmp trees. Directories stay
    alive for the whole process (results are often read back lazily from
    file sinks), then one atexit rmtree reclaims everything."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_engine_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _iter_arrow_tables(subitem):
    """Yield pyarrow Tables for one merged-batch constituent: a pyarrow
    Table passes through; a parquet file path reads as one table; a
    Spark-written table directory yields one table per part (row-group
    streaming — never the whole directory in memory at once). The parts
    MUST land in one staged file: as separate files each part would be
    its own micro-batch, parts are not time-ordered, and an early batch
    advancing the watermark would drop a later part's rows as late."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(subitem, pa.Table):
        yield subitem
        return
    src = os.path.abspath(subitem)
    if os.path.isdir(src):
        for p in sorted(os.listdir(src)):
            if p.endswith(".parquet"):
                yield pq.read_table(f"{src}/{p}")
    else:
        yield pq.read_table(src)


def _file_stream(
    spark: SparkSession, schema: StructType, stream_dir: str
) -> DataFrame:
    """The one reader of a staged directory: one file = one micro-batch
    (``maxFilesPerTrigger=1`` plus the stagers' 3 s mtime stagger keeps
    staging order), schema pinned because file streams cannot infer."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )


def stage_bounded_stream(
    items: list, schema: StructType, prefix: str = "bounded_stream_"
) -> DataFrame:
    """Stage a list of DataFrames / pyarrow Tables / lists of parquet
    paths and Tables as an ordered micro-batch sequence and return the
    file-source stream (``schema``) that replays them.

    File streams order batches by modification time; each item gets an
    mtime 3 s after the previous so item i is micro-batch i. DataFrames
    are written to scratch dirs and moved in. A LIST item merges its
    constituents (paths / pyarrow Tables) into ONE staged file = one
    micro-batch — the cheap way to co-deliver a small control row (e.g.
    a watermark sentinel) with a data batch without a Spark write job.
    """
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    stream_dir = scratch_dir(prefix)
    now = time.time()
    for i, item in enumerate(items):
        dst = f"{stream_dir}/{i}.parquet"
        if isinstance(item, DataFrame):
            d = scratch_dir(f"{prefix}item{i}_")
            item.coalesce(1).write.mode("overwrite").parquet(d)
            src = next(
                f"{d}/{p}" for p in os.listdir(d) if p.endswith(".parquet")
            )
            os.replace(src, dst)
            shutil.rmtree(d, ignore_errors=True)
        else:
            subs = item if isinstance(item, (list, tuple)) else [item]
            # A pyarrow-Table constituent is an engine-built control row
            # (e.g. the watermark sentinel) whose schema was pinned to the
            # types the ENGINE reads (ts micros when the stream schema is
            # TIMESTAMP, ns kept when nanosAsLong reads bigint). Raw
            # source files merged into the same item may carry a different
            # physical ts type — an INT96 source surfaces as timestamp[ns]
            # in arrow, and writing that back produces a TIMESTAMP(NANOS)
            # file the stream schema rejects — so a Table constituent's
            # schema is authoritative for the whole merged file and every
            # other constituent casts to it (micros-precision values cast
            # ns->us losslessly; pyarrow's safe cast raises otherwise).
            authority = next(
                (s.schema for s in subs if isinstance(s, pa.Table)), None
            )
            writer = None
            for sub in subs:
                for t in _iter_arrow_tables(sub):
                    if writer is None:
                        writer = pq.ParquetWriter(dst, authority or t.schema)
                    writer.write_table(t.cast(writer.schema))
            if writer is None:
                continue  # all constituents empty
            writer.close()
        os.utime(dst, (now + i * 3, now + i * 3))
    return _file_stream(SparkSession.active(), schema, stream_dir)


def stage_sliced_stream(
    df: DataFrame,
    slice_col,
    n_slices: int,
    prefix: str = "bounded_stream_",
) -> DataFrame:
    """Stage ``df`` as ``n_slices`` ordered micro-batches in ONE Spark
    write and return the file-source stream (``df.schema``) that replays
    them. The slice id becomes a partition column and rows are
    repartitioned by it first, so each slice is written by one task as
    ONE part file, which is then moved into place: one scan of the
    source plan, no driver-side reads. Row order within a micro-batch is
    unordered; batch MEMBERSHIP, which is what every fold law and
    first-arrival policy keys on, is fixed by ``slice_col``.

    ``slice_col`` must evaluate to an integer in [0, n_slices); a slice
    with no rows (an empty or skewed source) still gets a zero-row file,
    so batch ids line up with the caller's expectations.
    """
    import shutil

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    part_dir = scratch_dir(f"{prefix}parts_")
    df.withColumn("__slice", slice_col.cast("int")).repartition(
        "__slice"
    ).write.partitionBy("__slice").mode("overwrite").parquet(part_dir)
    stream_dir = scratch_dir(prefix)
    now = time.time()
    for i in range(n_slices):
        dst = f"{stream_dir}/{i}.parquet"
        src = f"{part_dir}/__slice={i}"
        parts = (
            [p for p in os.listdir(src) if p.endswith(".parquet")]
            if os.path.isdir(src)
            else []
        )
        if len(parts) > 1:
            # a session-level maxRecordsPerFile split the slice; staging
            # the parts as separate files would break batch membership
            raise RuntimeError(
                f"stage_sliced_stream: slice {i} was written as "
                f"{len(parts)} files; one micro-batch must be one file"
            )
        if parts:
            os.replace(f"{src}/{parts[0]}", dst)
        else:
            pq.write_table(to_arrow_schema(df.schema).empty_table(), dst)
        os.utime(dst, (now + i * 3, now + i * 3))
    shutil.rmtree(part_dir, ignore_errors=True)
    return _file_stream(df.sparkSession, df.schema, stream_dir)


def _run(writer, state_partitions: int | None, available_now: bool) -> None:
    """The one start / await / stop of a bounded stream: every drain in
    the package reaches Spark through here. ``state_partitions``
    overrides shuffle partitions for the run (restored afterwards);
    ``available_now`` drains via ``Trigger.AvailableNow`` and awaits
    termination instead of calling ``processAllAvailable``."""
    conf = SparkSession.active().conf
    prev = conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        try:
            if available_now:
                q.awaitTermination()
            else:
                q.processAllAvailable()
        finally:
            q.stop()
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)


def drain(stream: DataFrame, fn, state_partitions: int | None = None) -> None:
    """Fold a bounded stream to completion through ``foreachBatch(fn)``
    (checkpointed, so a replayed micro-batch reaches ``fn`` with its
    original batch id). ``state_partitions``: as in
    ``run_stream_to_batch``; None leaves the session's count."""
    _run(
        stream.writeStream.foreachBatch(fn).option(
            "checkpointLocation", scratch_dir("fold_chk_")
        ),
        state_partitions,
        available_now=False,
    )


def run_stream_to_batch(
    agg: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    state_partitions: int | None = 8,
    debug: bool = False,
    available_now: bool = False,
) -> DataFrame:
    """Execute a streaming query over a bounded source and return the
    final result as a batch DataFrame.

    Sink selection: append mode writes a parquet FILE SINK with a
    checkpoint and reads it back (the production pattern — results never
    collect to the driver); complete/update modes fall back to the memory
    sink, which Spark requires for them (keep such queries to
    dashboard-sized results). ``debug=True`` forces the memory sink.

    ``state_partitions`` temporarily overrides shuffle partitions for the
    stream: each state-store partition costs commit/checkpoint I/O per
    micro-batch, so partition count should track state size — for bounded
    local runs with small keyed state, 8 beats the batch-tuned 32. On a
    real cluster leave None and size via the session.

    ``available_now=True`` drains via ``Trigger.AvailableNow`` — the
    production batch-drain trigger (process everything present, respect
    maxFilesPerTrigger as rate limit, then STOP on its own): the query is
    awaited to termination instead of processAllAvailable+stop. Same
    results; use it for scheduled incremental runs over a growing source.
    Both sinks take the trigger: without it the default trigger never
    terminates and the await would hang on a bounded source.
    """
    w = agg.writeStream.outputMode(output_mode)
    if output_mode == "append" and not debug:
        out_dir = scratch_dir("stream_sink_")
        w = (
            w.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", scratch_dir("stream_chk_"))
        )
        _run(w, state_partitions, available_now)
        # schema pinned from the plan: an all-late run can leave zero files
        return spark.read.schema(agg.schema).parquet(out_dir)
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    _run(w.format("memory").queryName(name), state_partitions, available_now)
    out = spark.table(name)
    rows = out.collect()  # materialize before the in-memory table goes away
    return spark.createDataFrame(rows, out.schema)
