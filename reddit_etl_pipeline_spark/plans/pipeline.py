"""Daily-batch pipeline driver — the Airflow DAG collapsed into one program.

The reference orchestrates four OS processes communicating through files
keyed by YYYYMMDD (reference ``airflow/dags/reddit_pipeline.py:20-44``):
extract -> upload_to_s3 -> s3_to_redshift -> dbt. Spark-first, stages 2-3
disappear (the lake write IS the load) and the chain becomes:

    fetch -> transform (lazy) -> lake append (batch_date partition)
          -> upsert into warehouse -> models

Idempotence: re-running a day overwrites only that day's lake partition
(dynamic partition overwrite) and the upsert is last-write-wins on ``id`` —
the reference's documented intent (``s3_to_redshift.py:9-15``), minus its
drop-the-table bug (SURVEY.md §3.2).

Scale: each stage is one Catalyst job; the warehouse rebuild is the only
multi-batch shuffle and uses the max_by aggregate (map-side combine). At
100 TB the warehouse would be bucketed by ``id`` so the upsert aggregation
reuses the bucket partitioning instead of reshuffling — noted in
``operators.upsert``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.transforms import transform_posts
from ..operators import sketches as SK
from ..operators.quality import assert_not_null, assert_unique, summary_stats, total_nulls
from ..operators.upsert import upsert_anti_join
from ..sources.lake import read_table, swap_state, with_batch_date, write_table
from ..sources.reddit_api import fetch_posts_df
from . import models as M


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Probe a path through the Hadoop FileSystem resolved FOR that path
    (file:/, s3a:/, hdfs:/ alike). A driver-local ``os.path.exists`` is
    always False for object-store/HDFS URIs, which would turn a staged
    load into a silent successful no-op and let the DAG rebuild models
    over a stale warehouse (round-7 ADVICE; same failure mode
    sources/lake.read_index_or_none documents)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def run_daily_batch(
    spark: SparkSession,
    fetcher: Callable[[], Iterable[object]],
    lake_path: str,
    warehouse_path: str,
    batch_date: str,
    extraction_at=None,
    run_dbt_models: bool = True,
    sketch_store_path: str | None = None,
) -> dict:
    """One end-to-end daily run. Returns the audit log dict (null counts,
    row counts — the reference's observability surface).

    ``sketch_store_path``: when set, the run ALSO appends this
    batch_date's sketch partials (per-subreddit author-HLL registers +
    score grid) — the persisted-sketch-store ingest pattern
    (operators/sketch_store.py) wired into the daily cadence, so
    distinct-author / score-quantile dashboards never rescan the lake.
    Idempotent like the lake append (dynamic partition overwrite)."""
    raw = fetch_posts_df(spark, fetcher)
    staged = transform_posts(raw, extraction_at=extraction_at)
    audits = {"nulls_raw": total_nulls(raw), **summary_stats(staged)}

    if audits["n_rows"] == 0:
        # empty-input guard (extract-from-reddit.py:106-108): nothing to
        # load; keep lake/warehouse untouched, report zero-row audits.
        audits.update({"warehouse_rows": None, "batch_rows": 0})
        return audits

    # lake append: one partition per batch_date; rerun-safe overwrite
    write_table(
        with_batch_date(staged, batch_date),
        lake_path,
        mode="overwrite",
        dynamic_overwrite=True,
    )

    if sketch_store_path is not None:
        write_post_sketch_partials(
            read_table(spark, lake_path, batch_date=batch_date),
            sketch_store_path,
        )

    # warehouse upsert (COPY + DELETE USING + INSERT parity)
    batch = read_table(spark, lake_path, batch_date=batch_date).drop("batch_date")
    _upsert_warehouse(spark, batch, warehouse_path)

    warehouse = spark.read.parquet(warehouse_path)
    assert_unique(warehouse, "id")
    assert_not_null(warehouse, "id")
    audits["warehouse_rows"] = warehouse.count()
    audits["batch_rows"] = batch.count()

    if run_dbt_models:
        warehouse.createOrReplaceTempView("reddit")
        M.run_models(spark)
    return audits


#: posts sketch-store partial layouts, pinned on every final read
AUTHOR_HLL_SCHEMA = "subreddit string, reg bigint, rho_max int, batch_date string"
SCORE_GRID_SCHEMA = "subreddit string, bin bigint, n bigint, batch_date string"


def write_post_sketch_partials(day: DataFrame, sketch_store_path: str) -> None:
    """This batch_date's mergeable sketch partials for the posts
    pipeline: per-(batch_date, subreddit) author-HLL registers (distinct
    author dashboards — MAX merge law) and score value-grid bins
    (score-quantile dashboards — SUM law). One file per date, dynamic
    overwrite: a day's rerun replaces only that day's partial, exactly
    like the lake append it rides along with. ``day`` must carry
    batch_date (the lake read does)."""
    partials = {
        "author_hll": SK.hll_registers(
            day, ["batch_date", "subreddit"], F.xxhash64("author")
        ),
        "score_grid": SK.value_grid_bins(
            day.withColumn("score_d", F.col("score").cast("double")),
            ["batch_date", "subreddit"],
            "score_d",
        ),
    }
    for name, df in partials.items():
        write_table(
            df.repartition("batch_date"), f"{sketch_store_path.rstrip('/')}/{name}",
            mode="overwrite", partition_by=["batch_date"],
        )


def post_sketch_distinct_authors(spark: SparkSession, sketch_store_path: str) -> DataFrame:
    """(subreddit, approx_users) from the posts sketch store — merged
    register partials, never a lake rescan."""
    regs = (
        spark.read.schema(AUTHOR_HLL_SCHEMA)
        .parquet(f"{sketch_store_path.rstrip('/')}/author_hll")
        .groupBy("subreddit", "reg")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    return SK.hll_estimate(regs, "subreddit")


def post_sketch_score_quantiles(spark: SparkSession, sketch_store_path: str) -> DataFrame:
    """Per-subreddit score quantiles from merged grid partials."""
    bins = (
        spark.read.schema(SCORE_GRID_SCHEMA)
        .parquet(f"{sketch_store_path.rstrip('/')}/score_grid")
        .groupBy("subreddit", "bin")
        .agg(F.sum("n").alias("n"))
    )
    return SK.grid_quantile_stats(bins, "subreddit")


def _upsert_warehouse(spark: SparkSession, batch: DataFrame, warehouse_path: str) -> None:
    """Last-write-wins upsert of ``batch`` into the parquet warehouse with
    crash-safe directory swap (the rename-manifest pattern on a real
    object store). Shared by the one-program daily batch and the staged
    DAG task (``stage_load_warehouse``)."""
    import os

    def write(dst: str) -> None:
        merged = batch
        # explicit existence check: a CORRUPT warehouse must raise on
        # read, not be mistaken for first-run and overwritten with one
        # day's batch
        if os.path.exists(warehouse_path):
            merged = upsert_anti_join(spark.read.parquet(warehouse_path), batch)
        merged.write.mode("overwrite").parquet(dst)

    swap_state(warehouse_path, write)


# ------------------------------------------------------------- staged DAG
# tasks: the reference's 4-process chain (reddit_pipeline.py:20-44,
# extract -> upload_to_s3 -> s3_to_redshift -> dbt) decomposed onto the
# engine's stages, communicating through files keyed by YYYYMMDD exactly
# like the reference's daily CSVs. ``run_daily_batch`` remains the
# one-program fast path (no intermediate day file); these four run as
# separate OS processes under airflow/dags/reddit_pipeline_spark.py so
# each stage gets its own retry/backoff — the point of the DAG.


def stage_extract(
    spark: SparkSession,
    fetcher: Callable[[], Iterable[object]],
    staging_path: str,
    batch_date: str,
    extraction_at=None,
) -> dict:
    """Task 1 (reference extract-from-reddit.py): fetch + transform, then
    the date-stamped single-file CSV — the reference's actual interchange
    format, written/read by the tolerant COPY-parity codecs so the
    round-trip is lossless (multi-line selftext included)."""
    from ..sources.csv_tolerant import write_posts_csv

    raw = fetch_posts_df(spark, fetcher)
    staged = transform_posts(raw, extraction_at=extraction_at)
    audits = {"nulls_raw": total_nulls(raw), **summary_stats(staged)}
    if audits["n_rows"] == 0:
        # empty-input guard (extract-from-reddit.py:106-108): write no day
        # file; downstream stages see its absence and no-op
        audits["csv_path"] = None
        return audits
    path = f"{staging_path.rstrip('/')}/{batch_date}"
    write_posts_csv(staged, path, single_file=True)
    audits["csv_path"] = path
    return audits


def stage_load_lake(
    spark: SparkSession, staging_path: str, lake_path: str, batch_date: str
) -> dict:
    """Task 2 (reference upload_to_s3.py): day CSV -> lake partition
    (rerun-safe dynamic overwrite of that date only)."""
    from ..sources.csv_tolerant import read_posts_csv

    path = f"{staging_path.rstrip('/')}/{batch_date}"
    if not _fs_exists(spark, path):
        return {"batch_rows": 0, "skipped": "no day file (empty extract)"}
    staged = read_posts_csv(spark, path)
    write_table(
        with_batch_date(staged, batch_date),
        lake_path,
        mode="overwrite",
        dynamic_overwrite=True,
    )
    return {"batch_rows": staged.count()}


def stage_load_warehouse(
    spark: SparkSession, lake_path: str, warehouse_path: str, batch_date: str
) -> dict:
    """Task 3 (reference s3_to_redshift.py): upsert the day's lake
    partition into the warehouse, then the reference's post-load
    integrity audits."""
    part = f"{lake_path.rstrip('/')}/batch_date={batch_date}"
    if not _fs_exists(spark, part):
        return {"warehouse_rows": None, "skipped": "no lake partition"}
    batch = read_table(spark, lake_path, batch_date=batch_date).drop("batch_date")
    _upsert_warehouse(spark, batch, warehouse_path)
    warehouse = spark.read.parquet(warehouse_path)
    assert_unique(warehouse, "id")
    assert_not_null(warehouse, "id")
    return {"warehouse_rows": warehouse.count(), "batch_rows": batch.count()}


def stage_models(spark: SparkSession, warehouse_path: str) -> dict:
    """Task 4 (reference ``dbt run``): rebuild the model views/tables over
    the warehouse."""
    warehouse = spark.read.parquet(warehouse_path)
    warehouse.createOrReplaceTempView("reddit")
    M.run_models(spark)
    return {"models_rows": spark.table("reddit_summary").count()}


AIRFLOW_RETRIES = 1  # reference reddit_pipeline.py:13-16
AIRFLOW_RETRY_DELAY_S = 15.0


def run_backfill(
    spark: SparkSession,
    fetcher_for_date: Callable[[str], Callable[[], Iterable[object]]],
    lake_path: str,
    warehouse_path: str,
    batch_dates: Iterable[str],
    retries: int = AIRFLOW_RETRIES,
    retry_delay_s: float = AIRFLOW_RETRY_DELAY_S,
    sleep: Callable[[float], None] | None = None,
    **run_kwargs,
) -> dict:
    """The DAG's schedule semantics in engine terms: run days in ORDER
    (catchup), retry a failed day ``retries`` times with a fixed delay
    (the reference DAG ships retries=1, retry_delay=15 s,
    ``airflow/dags/reddit_pipeline.py:13-16``), and ABORT the backfill at
    the first day that exhausts its retries — the warehouse upsert chain
    is order-dependent, so skipping a failed day silently would reorder
    last-write-wins history. Completed days stay durable (each day's lake
    partition + warehouse swap commits independently), so a fixed rerun
    resumes from the failed date. Returns {batch_date: audit dict}.

    ``run_kwargs`` forward to every day's ``run_daily_batch`` — in
    particular ``sketch_store_path``, so a backfilled/rebuilt lake
    arrives WITH its per-day sketch partials (retried days included;
    pinned in tests/test_pipeline.test_backfill_carries_sketch_store)."""
    import time as _time

    _sleep = sleep if sleep is not None else _time.sleep
    results: dict = {}
    for date in batch_dates:
        attempt = 0
        while True:
            try:
                results[date] = run_daily_batch(
                    spark,
                    fetcher_for_date(date),
                    lake_path,
                    warehouse_path,
                    date,
                    **run_kwargs,
                )
                break
            except Exception:
                if attempt >= retries:
                    raise
                attempt += 1
                _sleep(retry_delay_s)
    return results
