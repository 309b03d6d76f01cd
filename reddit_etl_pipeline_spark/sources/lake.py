"""Parquet lake — the engine's warehouse layer.

Replaces the reference's S3-CSV-then-Redshift hop (reference
``airflow/extraction/upload_to_s3.py:73-121`` + ``s3_to_redshift.py``) with
direct partitioned Parquet writes: Spark writes ``s3a://`` (or local) paths
natively, so the separate upload step disappears.

Layout (SURVEY.md §4.3): partitioned by ``batch_date`` (the reference's
``YYYYMMDD.csv`` batch key, ``upload_to_s3.py:41-47``) — gives partition
pruning for per-day reprocessing and bounds the rewrite unit for upserts.
At 100 TB: one directory per day, each day internally split by Spark into
~128 MB files; dynamic partition overwrite rewrites only touched days.

The per-batch PARTIALS of every store, index and ledger share this
layout: one batch key (``with_batch_id``), one replay-idempotent write
(``write_table(df, path, mode="overwrite", partition_by=[...])``
replaces exactly the partitions ``df`` carries and never reshapes it),
schema-pinned final reads, ``read_index_or_none`` for in-fold probes
and pyarrow meta tables (``write_meta_table`` / ``read_meta_table``).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

T = TypeVar("T")

BATCH_DATE_COL = "batch_date"

#: synthetic ingest batches for partials of inputs without an ingest
#: key: batch_id = id % N_BATCHES (deterministic, disjoint, replayable)
N_BATCHES = 8


def with_batch_id(
    df: DataFrame, batch_id: int | None, id_col: str | None = None
) -> DataFrame:
    """Stamp a partial's ``batch_id``: the caller's one batch, else each
    row's synthetic batch ``id_col % N_BATCHES``."""
    key = F.col(id_col) % N_BATCHES if batch_id is None else F.lit(int(batch_id))
    return df.withColumn("batch_id", key)


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    dynamic_overwrite: bool = True,
    fmt: str = "parquet",
) -> None:
    """Write a relation to the lake, partitioned (default by batch_date
    when present). ``dynamic_overwrite`` limits overwrite mode to the
    partitions present in ``df`` — the idempotent-reload primitive.
    ``fmt`` selects the columnar container: ``parquet`` (default) or
    ``orc`` — both zstd-compressed, both carrying the min/max statistics
    the scan planner prunes on."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported lake format: {fmt}")
    if partition_by is None:
        partition_by = [BATCH_DATE_COL] if BATCH_DATE_COL in df.columns else []
    writer = df.write.mode(mode)
    if mode == "overwrite" and partition_by and dynamic_overwrite:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "orc":
        writer.option("compression", "zstd").orc(path)
    else:
        writer.parquet(path)


def read_index_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """The one probe of a growing parquet index or ledger, through
    Spark's reader (Hadoop FileSystem — works for file:/, s3a:/, hdfs:/
    alike, unlike a driver-local os.path probe that silently returns
    False for remote URIs). ONLY the first-batch no-index-yet shapes —
    PATH_NOT_FOUND and UNABLE_TO_INFER_SCHEMA (an existing but
    still-empty directory) — map to None; any other analysis failure
    (mistyped URI scheme, corrupted or foreign directory) re-raises, and
    so does a caller's later column reference into a foreign schema,
    because treating either as 'no index' would skip the anti-join and
    silently accept every duplicate."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        get = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", None
        )
        cond = get() if get is not None else None
        if cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def write_meta_table(rows: list[tuple], schema_ddl: str, path: str) -> None:
    """Driver-side write of a TINY metadata relation (store geometry,
    frozen centroids/codebooks — O(model) rows, never corpus data) as
    one parquet file via a single Arrow batch.

    Routing these through ``spark.createDataFrame(rows).coalesce(1)
    .write`` costs 5-7 s PER WRITE regardless of size (measured round
    10 at 16 rows): a list-of-tuples local relation evaluates through a
    Python-RDD with defaultParallelism partitions, and ``coalesce(1)``
    folds all of them into one task that round-trips a Python worker
    per partition, serially. The driver already holds the rows; one
    ``pyarrow.parquet.write_table`` is ~2 ms and ``read_meta_table``
    reads back the identical values (BIGINT/INT/DOUBLE/array<double>
    columns round-trip exactly — all store metadata is integer-valued).
    Overwrite semantics match ``mode("overwrite")``: the directory is
    replaced through ``swap_state``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {
        "bigint": pa.int64(),
        "long": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "string": pa.string(),
        "array<double>": pa.list_(pa.float64()),
        "array<bigint>": pa.list_(pa.int64()),
    }
    fields = []
    for part in schema_ddl.split(","):
        name, typ = part.strip().split(" ", 1)
        fields.append(pa.field(name, types[typ.strip().lower()]))
    sch = pa.schema(fields)
    cols = list(zip(*rows)) if rows else [[] for _ in fields]
    tb = pa.table(
        [pa.array(list(c), f.type) for c, f in zip(cols, sch)], schema=sch
    )

    def write(dst: str) -> None:
        os.makedirs(dst)
        pq.write_table(tb, os.path.join(dst, "part-00000.parquet"))

    swap_state(path, write)


def read_meta_table(path: str) -> list[dict]:
    """The rows of a ``write_meta_table`` relation as dicts, read with
    pyarrow on the driver — no Spark job, where ``spark.read.parquet
    (...).collect()`` pays an inference and a collect job. Callers order
    the rows."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def swap_state(path: str, write: Callable[[str], T]) -> T:
    """The one crash-safe rewrite of a table directory: ``write(dst)``
    writes the table's next version to ``dst`` (reading the current
    version at ``path`` itself when it needs it — parquet cannot
    overwrite its own input), then two renames swap it in. In order:

    1. a ``path__old`` stranded by a crash between the two renames is
       restored when ``path`` is missing — never restart from nothing;
    2. a stale ``path__old`` or half-written ``path__next`` is removed;
    3. ``write(path__next)``, after recovery, so it reads the live table;
    4. ``path`` -> ``path__old`` when ``path`` exists;
    5. ``path__next`` -> ``path``, then ``path__old`` is removed.

    Both renames stay inside the table's parent directory, so each is
    atomic or fails loudly (a staging dir elsewhere would turn the move
    into copy + delete on another filesystem, and a crash mid-copy into
    a partial table). At every instant a complete table exists at
    ``path`` or ``path__old``. Returns what ``write`` returns."""
    import os
    import shutil

    path = path.rstrip("/")
    old, nxt = f"{path}__old", f"{path}__next"
    if os.path.exists(old) and not os.path.exists(path):
        os.replace(old, path)
    for stale in (old, nxt):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    out = write(nxt)
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(nxt, path)
    shutil.rmtree(old, ignore_errors=True)
    return out


def read_table(
    spark: SparkSession,
    path: str,
    batch_date: str | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Read a lake table; ``batch_date='YYYYMMDD'`` prunes to one day's
    partition (filter on the partition column — pruned at planning, no
    directory listing of other days)."""
    df = spark.read.format(fmt).load(path)
    if batch_date is not None:
        df = df.filter(F.col(BATCH_DATE_COL) == batch_date)
    return df


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partition + sort-within-partitions write: clusters values so
    parquet row-group min/max statistics become selective — point/range
    predicates on ``sort_cols`` then skip whole files/row-groups at scan
    time (the poor man's Z-order; exact for single-column sort keys).

    The global sort costs one range-exchange at write time and pays for
    itself on every subsequent filtered scan."""
    parts = df.repartitionByRange(*( [n_files] if n_files else [] ), *sort_cols)
    parts.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a lake table into ~target-size files.

    Daily upserts and streaming sinks accrete small files; at 100 TB the
    scan cost is dominated by file-open overhead once files are << 128 MB.
    Sizes the output file count from the on-disk bytes (cheap driver-side
    listing), rewrites via repartition, and swaps via ``swap_state``.
    Returns the number of output files requested."""
    import math
    import os

    def write(dst: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        n_files = max(1, math.ceil(total / target_file_bytes))
        df = spark.read.parquet(path)
        parts = partition_by
        if parts is None:
            parts = [BATCH_DATE_COL] if BATCH_DATE_COL in df.columns else []
        if parts:
            # hash-cluster on the partition columns so each task holds
            # whole partition values -> one output file per value
            # (round-robin repartition would spread every value over
            # every task and write up to n_files files PER value — more
            # small files, not fewer)
            out = df.repartition(n_files, *[F.col(c) for c in parts])
        else:
            out = df.repartition(n_files)
        writer = out.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(dst)
        return n_files

    return swap_state(path, write)


def with_batch_date(df: DataFrame, batch_date: str | None = None) -> DataFrame:
    """Stamp the YYYYMMDD batch key (reference date-keyed naming,
    extract-from-reddit.py:259, s3_to_redshift.py:137-148)."""
    col = (
        F.lit(batch_date)
        if batch_date is not None
        else F.date_format(F.current_date(), "yyyyMMdd")
    )
    return df.withColumn(BATCH_DATE_COL, col)


def zorder_value(col_a, col_b, stats: dict, bits: int = 16):
    """Z-order (Morton) interleave of two numeric columns, min-max scaled
    to ``bits``-bit grid coordinates using the provided
    ``{"min_a","max_a","min_b","max_b"}`` stats. Pure shift/and/or Column
    arithmetic — whole-stage codegen, no UDF."""
    from pyspark.sql import functions as F

    def grid(c, lo, hi):
        span = (hi - lo) or 1.0
        scaled = ((c.cast("double") - F.lit(float(lo))) / F.lit(float(span))) * (
            (1 << bits) - 1
        )
        return F.round(scaled, 0).cast("long")

    a = grid(col_a, stats["min_a"], stats["max_a"])
    b = grid(col_b, stats["min_b"], stats["max_b"])
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Two-dimensional clustered write: order rows along the Z-order
    (Morton) curve of (``col_a``, ``col_b``) so parquet row-group min/max
    statistics are selective on BOTH columns — ``write_sorted`` clusters
    one dimension perfectly and leaves the other unclustered; Z-order
    trades a little of each for locality on both (the Delta/Iceberg
    OPTIMIZE ZORDER layout, built from plain Column arithmetic).

    Scale shape: one tiny min/max aggregate (scan-only), then a single
    range exchange on the z-value + in-partition sort — the same cost
    profile as any clustered write. Grid coordinates use min-max scaling;
    heavily skewed columns cluster better with a quantile-bucketed
    variant (swap ``grid`` for an ntile over a sample)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.min(F.col(col_a).cast("double")).alias("min_a"),
        F.max(F.col(col_a).cast("double")).alias("max_a"),
        F.min(F.col(col_b).cast("double")).alias("min_b"),
        F.max(F.col(col_b).cast("double")).alias("max_b"),
    ).first()
    stats = {k: float(row[k]) for k in ("min_a", "max_a", "min_b", "max_b")}
    z = zorder_value(F.col(col_a), F.col(col_b), stats, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_with_blooms(
    df: DataFrame,
    path: str,
    bloom_cols: list[str],
    expected_ndv: int = 100_000,
    mode: str = "overwrite",
) -> None:
    """Write parquet with BLOOM FILTERS on the named columns: point
    lookups (`col = x`) on non-clustered columns can then skip whole
    row groups that min/max statistics cannot exclude (high-cardinality
    ids scattered across the file). The write-side complement to
    ``write_sorted``/``write_zordered`` — cluster what you range-scan,
    bloom what you point-probe."""
    writer = df.write.mode(mode)
    for c in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer = writer.option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv)
        )
    writer.parquet(path)


def vacuum_table(
    path: str,
    keep_days: int,
    as_of: str,
    partition_col: str = BATCH_DATE_COL,
) -> list[str]:
    """Retention sweep: drop lake partitions older than ``keep_days``
    before ``as_of`` (a YYYYMMDD batch date). Returns the dropped
    partition values, oldest first.

    Operates on the partition DIRECTORY layout (hive-style
    ``batch_date=YYYYMMDD``), so retention is a driver-side listing +
    directory removals — no Spark job, no data scan, no rewrite; at
    100 TB dropping a day is O(1) metadata work, the same reason the
    daily reload uses dynamic partition overwrite. Lexicographic
    comparison is date order for the fixed-width YYYYMMDD form. Refuses
    to run on a non-partitioned table (nothing safe to drop)."""
    import datetime
    import os
    import shutil

    if "://" in path:
        # object-store lakes need the same prefix-delete through the
        # storage API (S3 DeleteObjects per partition prefix) — still
        # O(1-per-partition) metadata work, but not os.listdir's job
        raise NotImplementedError(
            "vacuum_table operates on local paths; for object stores, "
            "delete the batch_date=<cutoff> prefixes via the storage API"
        )
    cutoff = (
        datetime.datetime.strptime(as_of, "%Y%m%d")
        - datetime.timedelta(days=keep_days)
    ).strftime("%Y%m%d")
    prefix = f"{partition_col}="
    parts = sorted(
        d for d in os.listdir(path)
        if d.startswith(prefix)
        and os.path.isdir(os.path.join(path, d))
    )
    if not parts:
        raise ValueError(
            f"vacuum_table: {path} has no {prefix}* partitions; refusing "
            "to delete from a non-partitioned table"
        )
    dropped = []
    for d in parts:
        value = d[len(prefix):]
        if value < cutoff:
            shutil.rmtree(os.path.join(path, d))
            dropped.append(value)
    return dropped
