"""Persisted sketch store: per-``batch_date`` mergeable sketch partials
written at ingest, queried by merging partials — never rescanning raw
events.

The 100 TB pattern this implements: the daily ingest
(``plans/pipeline.run_daily_batch`` cadence) appends, alongside each
day's raw partition, that day's SKETCH PARTIALS — relations bounded by
sketch geometry (HLL: types × 1024 registers; CMS: 4×1024 counters;
value/drift grids: distinct bins), never by row count. Questions that
would otherwise scan every raw partition ("distinct users per type?",
"heaviest users?", "p90 value?", "did the value distribution drift?")
are then answered from the store by merging partials under each
sketch's merge law:

- HLL registers merge by **MAX** (idempotent),
- CMS counters and grid bin counts merge by **SUM** (linear),

— the same laws already proven by the streaming twins
(``streaming/stream.py``: per-micro-batch partials == sketch of the
union), which is exactly why the FULL-SCAN DuckDB oracles
(``sketches.hll_users_oracle_sql`` / ``cms_users_oracle_sql`` /
``grid_quantiles_oracle_sql`` / ``value_drift_oracle_sql``) replay
merged-store answers bit for bit: merging per-day partials of a
disjoint date partition of events equals building the sketch over the
union of days.

Incremental contract: ``append_day`` writes ONE day's partials (scans
only that day's rows) with dynamic partition overwrite, so re-running a
day is idempotent and a late-arriving day never touches its neighbors.
The store answers after an append are identical to a full rebuild —
pinned in tests/test_sketch_store.py and measured against the rescan
path in DEPLOYMENT.md.

Reference parity: the reference (951 LoC pandas + Redshift) recomputes
every aggregate from raw rows per run; the sketch store is part of the
beyond-reference large-scale family (same as the streaming twins whose
merge laws it persists).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.lake import write_table
from . import sketches as SK

#: partial tables the store carries, each partitioned by batch_date
STORE_TABLES = ("hll_users", "cms_users", "value_grid", "drift_grid")

#: partial layouts, pinned on every final read: a store whose every
#: partial was empty holds no file to infer a schema from
HLL_USERS_SCHEMA = "event_type string, reg bigint, rho_max int, batch_date string"
CMS_USERS_SCHEMA = "j int, idx bigint, counter bigint, batch_date string"
VALUE_GRID_SCHEMA = "event_type string, bin bigint, n bigint, batch_date string"
DRIFT_GRID_SCHEMA = (
    "event_type string, side int, bin bigint, n bigint, batch_date string"
)
ORDERS_ROLLUP_SCHEMA = (
    "n_orders bigint, revenue decimal(28,2), max_order decimal(18,2),"
    " batch_date string"
)


def _with_batch_date(events: DataFrame) -> DataFrame:
    """Ingest-date key: the event's UTC calendar date as a string
    partition column (the lake's batch_date convention)."""
    return events.withColumn("batch_date", F.date_format("ts", "yyyy-MM-dd"))


def day_partials(events: DataFrame, tables=STORE_TABLES) -> dict[str, DataFrame]:
    """Per-batch_date sketch partials for every requested store table.
    Each is the SAME state relation the batch/streaming twins build,
    with batch_date as an extra group key — so a union of per-day
    partials merges into exactly the full-scan sketch:

    - ``hll_users``  (batch_date, event_type, reg, rho_max)  — MAX law
    - ``cms_users``  (batch_date, j, idx, counter)           — SUM law
    - ``value_grid`` (batch_date, event_type, bin, n)        — SUM law
    - ``drift_grid`` (batch_date, event_type, side, bin, n)  — SUM law
      (side = event_id parity, the drift detector's two populations)
    """
    ev = _with_batch_date(events)
    out: dict[str, DataFrame] = {}
    if "hll_users" in tables:
        out["hll_users"] = SK.hll_registers(
            ev, ["batch_date", "event_type"], F.xxhash64("user_id")
        )
    if "cms_users" in tables:
        out["cms_users"] = (
            SK.cms_user_positions(ev, extra=("batch_date",))
            .groupBy("batch_date", "j", "idx")
            .agg(F.count(F.lit(1)).alias("counter"))
        )
    if "value_grid" in tables:
        out["value_grid"] = SK.value_grid_bins(
            ev, ["batch_date", "event_type"], "value"
        )
    if "drift_grid" in tables:
        # side expression mirrors streaming/stream.streamed_value_drift:
        # NULL event_id -> NULL side, contributing to neither population
        # (matches the batch twin's parity filters)
        out["drift_grid"] = SK.value_grid_bins(
            ev.withColumn("side", (F.col("event_id") % 2 != 0).cast("int")),
            ["batch_date", "event_type", "side"],
            "value",
        )
    return out


def build_store(events: DataFrame, store_dir: str, tables=STORE_TABLES) -> None:
    """Materialize the store from an events relation: one scan per
    partial table, written partitioned by batch_date (dynamic overwrite
    — rerunning a backfill only rewrites the dates present). One file
    per date: partials are sketch-geometry-sized, so a 32-task write
    would scatter each day into dozens of KB files and the merge read
    would pay per-file open cost instead of one footer per day
    (measured 2.7 s vs 0.9 s at 10× before this)."""
    for name, df in day_partials(events, tables).items():
        write_table(
            df.repartition("batch_date"), f"{store_dir}/{name}",
            mode="overwrite", partition_by=["batch_date"],
        )


def append_day(
    events: DataFrame, store_dir: str, date: str, tables=STORE_TABLES
) -> None:
    """Incremental ingest: build and write partials for ONE batch_date,
    scanning only that day's rows. Dynamic partition overwrite makes the
    append idempotent (a rerun replaces only this date's partial); no
    other date's partial — and no raw history — is read or touched."""
    day = events.filter(F.date_format("ts", "yyyy-MM-dd") == date)
    build_store(day, store_dir, tables)


def store_distinct_users(spark: SparkSession, store_dir: str) -> DataFrame:
    """(event_type, approx_users) from the store: per-day register
    partials merge by register-wise MAX, then the shared integer HLL
    estimator. Cost is |dates|·|types|·m register rows — independent of
    event count. Hash-matches the full-scan oracle
    (``sketches.hll_users_oracle_sql``) because max over a date
    partition's maxes == max over the union."""
    regs = (
        spark.read.schema(HLL_USERS_SCHEMA)
        .parquet(f"{store_dir}/hll_users")
        .groupBy("event_type", "reg")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    return SK.hll_estimate(regs, "event_type")


def store_value_quantiles(spark: SparkSession, store_dir: str) -> DataFrame:
    """Grid-sketch quantiles (p25/p50/p75/p90) per event_type from
    merged per-day bin counts (SUM law) — the persisted counterpart of
    ``sketches.value_quantiles``; shares its oracle."""
    bins = (
        spark.read.schema(VALUE_GRID_SCHEMA)
        .parquet(f"{store_dir}/value_grid")
        .groupBy("event_type", "bin")
        .agg(F.sum("n").alias("n"))
    )
    return SK.grid_quantile_stats(bins, "event_type")


def store_heavy_users(
    spark: SparkSession, sf_dir: str, store_dir: str, top_n: int = 20
) -> DataFrame:
    """Exact top-n users with CMS point estimates, where the SKETCH side
    comes from merged per-day counter partials (SUM law) instead of a
    corpus rescan; shares ``sketches.cms_users_oracle_sql``. (The exact
    side is the validation companion, as in the batch/streaming twins.)"""
    sketch = (
        spark.read.schema(CMS_USERS_SCHEMA)
        .parquet(f"{store_dir}/cms_users")
        .groupBy("j", "idx")
        .agg(F.sum("counter").alias("counter"))
    )
    return SK.cms_probe_users(spark, sf_dir, sketch, top_n=top_n)


def store_value_drift(spark: SparkSession, store_dir: str) -> DataFrame:
    """Total-variation drift per event_type from the merged two-sided
    grid (SUM law), reusing the streaming twin's batch tail
    (``sketches.drift_from_side_grid``) — exact BIGINT numerator, one
    6-dp divide; shares ``sketches.value_drift_oracle_sql``."""
    grid = (
        spark.read.schema(DRIFT_GRID_SCHEMA)
        .parquet(f"{store_dir}/drift_grid")
        .groupBy("event_type", "side", "bin")
        .agg(F.sum("n").alias("n"))
    )
    return SK.drift_from_side_grid(grid)


def store_window_users(
    spark: SparkSession, store_dir: str, window_days: int = 7
) -> DataFrame:
    """TIME-WINDOWED sketch algebra over the store: for every date in
    the store, the distinct-user estimate per event_type over the
    trailing ``window_days`` window — the "7-day actives" dashboard
    query, answered entirely from register partials (register MAX over
    the window's days == registers of the union of those days).

    Shape: each day's register row EXPLODES into the ≤ window_days
    window-ends it contributes to (a generate + equi SEMI join against
    the store's real dates — never a range join, which would plan a
    BNL over the register table), then one (window_end, type, reg) MAX
    and the shared estimator. Cost is dates × window_days × geometry —
    still independent of raw event count. Windows at the store's start
    are partial (cover only the days present), identically on both
    sides. Returns (window_end, event_type, approx_users)."""
    regs = (
        spark.read.schema(HLL_USERS_SCHEMA)
        .parquet(f"{store_dir}/hll_users")
        .withColumn("d", F.to_date("batch_date"))
    )
    dates = regs.select(F.col("d").alias("window_end")).distinct()
    exploded = regs.select(
        "event_type",
        "reg",
        "rho_max",
        F.explode(
            F.sequence(
                F.col("d"), F.date_add(F.col("d"), window_days - 1)
            )
        ).alias("window_end"),
    )
    windowed = exploded.join(F.broadcast(dates), "window_end", "left_semi")
    merged = windowed.groupBy(
        F.col("window_end").cast("string").alias("window_end"),
        "event_type",
        "reg",
    ).agg(F.max("rho_max").alias("rho_max"))
    return SK.hll_estimate(merged, ["window_end", "event_type"])


def window_users_oracle_sql(window_days: int = 7) -> str:
    """DuckDB replay of ``store_window_users``: per-window register
    builds from the raw events (valid because window-merged day
    partials == registers of the window's union), the shared
    linear-counting table and estimator chain."""
    from .. import xxh64_sql as X
    from .sketches import M, RMAX, _lc_table, _u64_sql

    hash_sql = X.render_select(
        X.hash_long_cols("uh", _u64_sql("user_id"), X._lit(X.SEED)),
        ["uh"],
        "(SELECT DISTINCT user_id FROM events)",
        passthrough=["user_id"],
    )
    lc_rows = ", ".join(f"({v + 1}, {e})" for v, e in enumerate(_lc_table()))
    est = SK._hll_est_chain("window_end, event_type", "wregs", "w_")
    return f"""
WITH uhash AS MATERIALIZED ({hash_sql}),
ev AS MATERIALIZED (
  SELECT DISTINCT CAST(ts AS DATE) AS d, event_type, user_id FROM events
),
dates AS MATERIALIZED (SELECT DISTINCT d FROM ev),
memb AS MATERIALIZED (
  SELECT DISTINCT w.d AS wend, e.event_type, e.user_id
  FROM ev e JOIN dates w ON e.d BETWEEN w.d - {window_days - 1} AND w.d
),
wregs AS MATERIALIZED (
  SELECT CAST(m.wend AS VARCHAR) AS window_end, m.event_type,
         h.uh % {M} AS reg,
         max(CASE WHEN h.uh // {M} = 0 THEN {RMAX}
                  ELSE {RMAX} - length(bin(CAST(h.uh // {M} AS BIGINT))) END)
           AS rho_max
  FROM memb m JOIN uhash h USING (user_id)
  GROUP BY 1, 2, reg
),
lc(v, lc_est) AS MATERIALIZED (SELECT * FROM (VALUES {lc_rows})),
{est}
SELECT window_end, event_type, approx_users FROM w_users
"""


def build_order_rollup_store(orders: DataFrame, store_dir: str) -> None:
    """EXACT-aggregate sibling of the sketch partials: per-month
    additive rollup partials over orders — (batch_date = yyyy-MM,
    n_orders, revenue DECIMAL, max_order DECIMAL). COUNT and the
    DECIMAL SUM merge additively; MAX merges idempotently — so any
    coarser rollup (year, all-time) is answerable from partials with
    zero error, the classic incremental-ETL materialization (the
    reference recomputes its summary from raw rows every run). Money
    stays DECIMAL inside the store (the CLAUDE money rule); doubles
    appear only at the query boundary."""
    part = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("batch_date")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        F.max(F.col("o_totalprice").cast("decimal(18,2)")).alias("max_order"),
    )
    write_table(
        part.repartition("batch_date"), f"{store_dir}/orders_rollup",
        mode="overwrite", partition_by=["batch_date"],
    )


def rollup_store_yearly(spark: SparkSession, store_dir: str) -> DataFrame:
    """(year, n_orders, revenue, max_order) from merged month partials —
    SUM/SUM/MAX over ≤ 12 rows per year, never a fact-table scan. The
    revenue rounds to 2 dp IN DECIMAL before the double cast (the
    grand-total rule)."""
    p = spark.read.schema(ORDERS_ROLLUP_SCHEMA).parquet(
        f"{store_dir}/orders_rollup"
    )
    return p.groupBy(
        F.substring("batch_date", 1, 4).alias("year")
    ).agg(
        F.sum("n_orders").alias("n_orders"),
        F.round(F.sum("revenue"), 2).cast("double").alias("revenue"),
        F.max("max_order").cast("double").alias("max_order"),
    )


def rollup_yearly_oracle_sql() -> str:
    """DuckDB replay of ``rollup_store_yearly`` — the direct yearly
    rollup over orders (valid because COUNT/DECIMAL-SUM/MAX over month
    partials equal the direct aggregates over the union)."""
    return """
SELECT strftime(o_orderdate, '%Y') AS year,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS revenue,
       CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_order
FROM orders GROUP BY 1
"""
