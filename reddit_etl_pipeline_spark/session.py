"""SparkSession factory with engine defaults.

The reference delegates execution to pandas (eager, single-threaded) and
Redshift (opaque MPP) — see SURVEY.md §4.1. Here the session IS the engine;
these configs pin the semantics the rest of the package relies on:

- UTC session timezone: the reference uses local-time ``datetime.now()`` /
  ``fromtimestamp`` (reference ``airflow/extraction/extract-from-reddit.py:95,115``);
  we standardize on UTC so results are reproducible and oracle-comparable.
- AQE on: runtime shuffle-partition coalescing + skew-join splitting, which
  is what makes one set of configs survive sf0.001 -> 100 TB.
- Arrow on: fast ``.toPandas()`` edges and pandas-UDF batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 32g. The heap shares
    the host with the Python workers and the OS; a fixed 32g on a 15 GB
    host let the JVM die mid-query (py4j "Answer from Java side is
    empty" in an sf0.1 neardup_canonical run)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(32, phys // 2 // 1024**3))}g"


def get_spark(
    app_name: str = "reddit_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS`` (default 32).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Files: pack small files, split big ones so partitions stay ~128MB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    # State store backend for Structured Streaming. Default = HDFS-backed
    # (JVM heap + checkpoint files): measured equal-or-faster on bounded
    # local runs, where keyed state is tiny and per-query RocksDB
    # instance spin-up costs more than it saves (DEPLOYMENT.md
    # "Streaming"). At production state sizes (millions of keys per
    # partition) RocksDB keeps state off-heap with changelog
    # checkpointing — flip SPARK_GRAFT_STATE_STORE=rocksdb, no code
    # change; correctness parity is pinned in tests/test_streaming_state.py.
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ).config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
