"""Persisted sketch store (operators/sketch_store.py): merged per-day
partials must equal the full-scan sketch, appends must be incremental
and idempotent, and partial state must stay sketch-bounded."""

import pytest
from pyspark.sql import functions as F

from reddit_etl_pipeline_spark.operators import sketch_store as SS
from reddit_etl_pipeline_spark.operators import sketches as SK
from reddit_etl_pipeline_spark.streaming.bounded import scratch_dir


def rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def store(spark, events):
    d = scratch_dir("test_sketch_store_")
    SS.build_store(events, d)
    return d


def test_store_distinct_users_equals_full_scan(spark, events, store):
    full = SK.hll_estimate(
        SK.hll_registers(events, "event_type", F.xxhash64("user_id")),
        "event_type",
    )
    assert rows(SS.store_distinct_users(spark, store)) == rows(full)


def test_store_quantiles_equals_full_scan(spark, events, store):
    full = SK.grid_quantile_stats(
        SK.value_grid_bins(events, "event_type", "value"), "event_type"
    )
    assert rows(SS.store_value_quantiles(spark, store)) == rows(full)


def test_store_heavy_users_equals_full_scan(spark, events, sf_dir, store):
    full_sketch = SK.cms_user_positions(events).groupBy("j", "idx").agg(
        F.count(F.lit(1)).alias("counter")
    )
    full = SK.cms_probe_users(spark, sf_dir, full_sketch, top_n=20)
    assert rows(SS.store_heavy_users(spark, sf_dir, store, top_n=20)) == rows(
        full
    )


def test_store_drift_equals_full_scan(spark, events, sf_dir, store):
    full = SK.value_drift_by_type(spark, sf_dir)
    assert rows(SS.store_value_drift(spark, store)) == rows(full)


@pytest.mark.slow
def test_append_day_is_incremental_and_idempotent(spark, events):
    """Build the store WITHOUT the last day, append that day from a
    'new arrivals' frame, and the merged answers must equal a full
    rebuild — then a duplicate append (the rerun case) must change
    nothing (dynamic partition overwrite)."""
    dates = [
        r[0]
        for r in events.select(F.date_format("ts", "yyyy-MM-dd"))
        .distinct()
        .collect()
    ]
    last = max(dates)
    history = events.filter(F.date_format("ts", "yyyy-MM-dd") != last)
    d = scratch_dir("test_sketch_store_incr_")
    SS.build_store(history, d)
    # partial answer covers only the history
    hist_regs = SK.hll_registers(
        history, "event_type", F.xxhash64("user_id")
    )
    assert rows(SS.store_distinct_users(spark, d)) == rows(
        SK.hll_estimate(hist_regs, "event_type")
    )
    SS.append_day(events, d, last)
    full = SK.hll_estimate(
        SK.hll_registers(events, "event_type", F.xxhash64("user_id")),
        "event_type",
    )
    after_append = rows(SS.store_distinct_users(spark, d))
    assert after_append == rows(full)
    quant_full = rows(
        SK.grid_quantile_stats(
            SK.value_grid_bins(events, "event_type", "value"), "event_type"
        )
    )
    assert rows(SS.store_value_quantiles(spark, d)) == quant_full
    # rerun of the same day: dynamic overwrite replaces, never doubles
    SS.append_day(events, d, last)
    assert rows(SS.store_distinct_users(spark, d)) == after_append
    assert rows(SS.store_value_quantiles(spark, d)) == quant_full


def test_append_day_scans_only_that_day(spark, events):
    """The append path must work from a frame holding ONLY the new
    day's rows (the ingest situation: history is not re-read)."""
    dates = sorted(
        r[0]
        for r in events.select(F.date_format("ts", "yyyy-MM-dd"))
        .distinct()
        .collect()
    )
    last = dates[-1]
    day_only = events.filter(F.date_format("ts", "yyyy-MM-dd") == last)
    d = scratch_dir("test_sketch_store_day_")
    SS.build_store(
        events.filter(F.date_format("ts", "yyyy-MM-dd") != last), d
    )
    SS.append_day(day_only, d, last)
    full = SK.hll_estimate(
        SK.hll_registers(events, "event_type", F.xxhash64("user_id")),
        "event_type",
    )
    assert rows(SS.store_distinct_users(spark, d)) == rows(full)


def test_partial_state_is_sketch_bounded(spark, events, store):
    """Store rows are bounded by sketch geometry × dates — never by
    event count: HLL ≤ dates·types·M, CMS ≤ dates·D·W."""
    n_dates = (
        events.select(F.date_format("ts", "yyyy-MM-dd")).distinct().count()
    )
    n_types = events.select("event_type").distinct().count()
    hll_rows = spark.read.parquet(f"{store}/hll_users").count()
    cms_rows = spark.read.parquet(f"{store}/cms_users").count()
    assert hll_rows <= n_dates * n_types * SK.M
    assert cms_rows <= n_dates * SK.CMS_D * SK.CMS_W


def test_store_reads_prune_to_one_partition(spark, store):
    """batch_date is a real partition column: a one-day filter shows a
    pruned PartitionFilters scan, the mechanism that lets a 100 TB
    store answer late-data repairs without listing every day."""
    df = spark.read.parquet(f"{store}/hll_users")
    one_day = df.filter(F.col("batch_date") == "2024-01-01")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "batch_date" in plan


def test_streamed_store_equals_batch_store_and_direct(spark, events, sf_dir, store):
    """Streamed ingest (date × batch partials) must answer identically
    to the batch store AND the direct full-scan sketch."""
    from reddit_etl_pipeline_spark.streaming.stream import streamed_sketch_store

    streamed = rows(streamed_sketch_store(spark, sf_dir))
    assert streamed == rows(SS.store_distinct_users(spark, store))
    assert streamed == rows(
        SK.hll_estimate(
            SK.hll_registers(events, "event_type", F.xxhash64("user_id")),
            "event_type",
        )
    )


def test_streamed_store_ingest_is_replay_safe(spark, events):
    """foreachBatch is at-least-once: re-running a micro-batch's ingest
    with the SAME batch id must leave the store unchanged (the lake's
    partition overwrite of the batch_id partition, the write
    streamed_sketch_store makes), so even SUM-law partials would survive
    a replay — and a replay after a later batch must keep that batch."""
    from reddit_etl_pipeline_spark.sources.lake import with_batch_id, write_table

    d = scratch_dir("test_stream_store_replay_") + "/hll_users"
    part = SS.day_partials(events, tables=("hll_users",))["hll_users"]

    def write(batch_id):
        write_table(
            with_batch_id(part, batch_id).repartition(1),
            d,
            mode="overwrite",
            partition_by=["batch_id"],
        )

    write(0)
    once = spark.read.parquet(d).count()
    write(0)  # the replay
    assert spark.read.parquet(d).count() == once
    write(1)
    write(0)  # a replay after batch 1 replaces only batch 0's partial
    assert spark.read.parquet(d).count() == 2 * once


def test_window_users_limits(spark, events, store):
    """window == 1 day reproduces each day's own estimate; a window
    covering the whole store reproduces the all-time estimate at the
    final date."""
    daily = {
        (r.window_end, r.event_type): r.approx_users
        for r in SS.store_window_users(spark, store, window_days=1).collect()
    }
    one_day = events.filter(
        F.date_format("ts", "yyyy-MM-dd") == "2024-01-05"
    )
    direct = {
        ("2024-01-05", r.event_type): r.approx_users
        for r in SK.hll_estimate(
            SK.hll_registers(one_day, "event_type", F.xxhash64("user_id")),
            "event_type",
        ).collect()
    }
    for k, v in direct.items():
        assert daily[k] == v

    n_dates = (
        events.select(F.date_format("ts", "yyyy-MM-dd")).distinct().count()
    )
    last = max(d for d, _ in daily)
    wide = {
        (r.window_end, r.event_type): r.approx_users
        for r in SS.store_window_users(
            spark, store, window_days=n_dates
        ).collect()
    }
    alltime = {
        r.event_type: r.approx_users
        for r in SS.store_distinct_users(spark, store).collect()
    }
    for t, v in alltime.items():
        assert wide[(last, t)] == v


def test_order_rollup_store_equals_direct(spark, sf_dir):
    """Yearly answers from month partials must equal the direct rollup
    exactly (COUNT/DECIMAL-SUM/MAX merge with zero error)."""
    from reddit_etl_pipeline_spark.plans.star import load

    orders = load(spark, sf_dir, "orders")
    d = scratch_dir("test_rollup_store_")
    SS.build_order_rollup_store(orders, d)
    got = rows(SS.rollup_store_yearly(spark, d))
    direct = rows(
        orders.groupBy(F.date_format("o_orderdate", "yyyy").alias("year")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
            F.max(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("max_order"),
        )
    )
    assert got == direct
