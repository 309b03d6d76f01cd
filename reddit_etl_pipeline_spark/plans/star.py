"""Analytics over the driver's star schema — the engine's query surface
re-expressed on the synthetic tables (TESTDATA.md: region nation customer
supplier part orders lineitem events documents embeddings).

Each function mirrors an operator class from SURVEY.md §2 (the reference's
reddit-shaped queries) or a scale capability beyond it (joins, windows,
sessionization). All are single declarative plans: Catalyst pushes filters
and prunes columns into the parquet scans, dims join broadcast, and
aggregates run partial+final.

Float determinism: every floating aggregate is rounded (ROUND_DP) so Spark
and the DuckDB oracle hash identically despite different summation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import ROUND_DP


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a star-schema table, normalizing timestamp encodings.

    The events table's ``ts`` column arrives in one of two parquet
    encodings depending on how the dataset was generated, and both are
    normalized to a session-TZ TIMESTAMP (the session is pinned UTC, so
    wall-clock values match the oracle's naive timestamps):

    - TIMESTAMP(NANOS): Spark refuses it by default; ``nanosAsLong``
      reads it as int64 nanoseconds and we truncate to microseconds
      (Spark timestamp precision — matches the oracle's
      ``date_trunc('microseconds', ts)``). Integer division (DIV) keeps
      the conversion exact; double division would lose sub-microsecond
      bits at 2^60-scale nanosecond values.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as
      TIMESTAMP_NTZ, which watermarks and epoch casts reject — cast to
      TIMESTAMP (identity on wall-clock under the UTC session).
    """
    # runtime-settable confs the query surface depends on, pinned here so
    # results are identical even under a caller-provided SparkSession
    # (the driver harness builds its own): UTC makes hour()/date_trunc
    # match the oracle's naive timestamps regardless of host timezone
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for f in df.schema.fields:
        if f.name == "ts":
            st = f.dataType.simpleString()
            if st == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
                )
            elif st == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# ---------------------------------------------------------------- reference
# surface (SURVEY.md §2.4/2.6) transplanted onto events/orders


def summary_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reddit_summary shape (models/marts/reddit_summary.sql:3-10):
    group-by dimension -> count / avg / avg / max."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), ROUND_DP).alias("avg_value"),
        F.round(F.max("value"), ROUND_DP).alias("max_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def staging_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stg_reddit shape (models/staging/stg_reddit.sql:3-13): pure column
    projection — Catalyst prunes the parquet scan to 4 of 6 columns."""
    return load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )


def topk_orders(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Top-K by measure (query-test.py:32-37). Deterministic tiebreak on the
    key so the result set is unique; plans as TakeOrderedAndProject."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(k)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


def group_having(spark: SparkSession, sf_dir: str, min_events: int = 5) -> DataFrame:
    """HAVING-filtered stats (query-test.py:44-53): per-user aggregates,
    post-aggregate filter."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), ROUND_DP).alias("avg_value"),
        )
        .filter(F.col("n_events") > min_events)
    )


def hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day rollup (query-test.py:60-67)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.hour("ts").alias("hour_of_day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), ROUND_DP).alias("avg_value"),
        )
    )


def latest_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins dedup — the upsert semantics (s3_to_redshift.py:226-232)
    as a max_by aggregate keyed (user_id, event_type), ordered by
    (ts, event_id) for a deterministic tiebreak. Map-side partial combine:
    each partition reduces to <= |keys| rows before the shuffle."""
    ev = load(spark, sf_dir, "events")
    packed = ev.select(
        "user_id",
        "event_type",
        F.struct("ts", "event_id").alias("__rank"),
        F.struct("event_id", "ts", "value").alias("__row"),
    )
    latest = packed.groupBy("user_id", "event_type").agg(
        F.max_by("__row", "__rank").alias("r")
    )
    return latest.select(
        "user_id",
        "event_type",
        F.col("r.event_id").alias("last_event_id"),
        F.col("r.ts").alias("last_ts"),
        F.round(F.col("r.value"), ROUND_DP).alias("last_value"),
    )


def null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-count audit (extract-from-reddit.py:117-120): one aggregate pass
    over all columns of orders."""
    df = load(spark, sf_dir, "orders")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
            for c in df.columns
        ],
    )


def union_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of literal selects (my_first_dbt_model.sql:10-19) with the
    shipped-commented not-null filter applied downstream."""
    u = spark.sql("SELECT 1 AS id").union(spark.sql("SELECT CAST(NULL AS INT) AS id"))
    return u


# ------------------------------------------------------------------- joins


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join: lineitem ⋈ orders ⋈ customer ⋈ nation, revenue
    rollup by nation. Dim sides (customer, nation) broadcast; the
    fact-fact join (lineitem-orders) shuffles on the key.

    Revenue summed in DECIMAL for cross-engine exactness (double summation
    order differs between engines)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            # round to cents IN DECIMAL before the double cast: a
            # few-groups-over-many-rows sum can exceed 2^53 unscaled at
            # scale 8, where decimal->double conversion differs by 1 ulp
            # between engines (caught by the sf0.1 full sweep)
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape on lineitem: the canonical scan->partial agg->final
    agg plan. Sums in DECIMAL (exact), averages rounded."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).cast("double").alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), ROUND_DP).alias("avg_qty"),
        F.round(F.avg("l_discount"), ROUND_DP).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def market_share_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti-join surface: BUILDING-segment customers with no
    high-value order (left_anti) — the DELETE USING shape inverted
    (s3_to_redshift.py:226-228). The orders-side filter pushes into the
    parquet scan before the join."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    )


# ----------------------------------------------------------------- windows


def top_customers_per_nation(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-K per group via ranking window: top customers by order revenue
    within each nation. Window shuffles once on the partition key."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("spend"), F.asc("o_custkey")
    )
    return (
        per_cust.withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= k)
        .select(
            "n_name",
            "rank_in_nation",
            F.col("o_custkey").alias("custkey"),
            F.col("spend").cast("double").alias("spend"),
        )
    )


def running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative sum per customer over order date — the frame-based
    window surface (rowsBetween unboundedPreceding..current)."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-set aggregate: per (returnflag, linestatus), per
    returnflag subtotal, and grand total in ONE pass (Expand + single
    shuffle — no separate subtotal queries)."""
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # cents-rounded in DECIMAL first (see revenue_by_nation): the
            # grand-total row's unscaled sum passes 2^53 at sf0.1
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        )
    )


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: all 4 combinations of (orderstatus, priority)
    subtotals in one Expand + single shuffle."""
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: hour-of-day x event_type count matrix. Explicit pivot values
    keep the single-pass plan (no distinct-values pre-query) and a stable
    schema — required at scale AND for the oracle."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").alias("hour_of_day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, subset=EVENT_TYPES)
    )


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (median / p95 / p99).
    Spark ``percentile`` and DuckDB ``quantile_cont`` share the linear-
    interpolation definition, so the oracle matches to rounding. At 100 TB
    swap for ``percentile_approx`` (t-digest-style mergeable sketch,
    single pass, no full sort) — the call site is the only change."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), ROUND_DP).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), ROUND_DP).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), ROUND_DP).alias("p99"),
    )


def ohlc_by_type(spark: SparkSession, sf_dir: str, minutes: int = 15) -> DataFrame:
    """Time-bucket OHLC downsampling (the hypertable/candlestick rollup):
    per (event_type, 15-min bucket) open/high/low/close of value. One
    hash aggregate — open/close via min_by/max_by on (ts, event_id), so
    no window pass and full map-side combine."""
    ev = load(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / (minutes * 60)) * (minutes * 60)
    )
    rank = F.struct("ts", "event_id")
    return (
        ev.withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(
            F.round(F.min_by("value", rank), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", rank), 6).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def buyer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations beyond UNION: INTERSECT (users with both purchases
    and errors) and EXCEPT (purchasers with no errors), tagged and
    unioned into one relation. Spark plans INTERSECT/EXCEPT as
    left-semi/left-anti aggregates — no full materialization."""
    ev = load(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    erroring = ev.filter(F.col("event_type") == "error").select("user_id")
    both = buyers.intersect(erroring).withColumn("segment", F.lit("buyer_with_errors"))
    clean = buyers.subtract(erroring).withColumn("segment", F.lit("buyer_clean"))
    return both.unionByName(clean)


def approx_distinct_stats_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native sketch aggregates — HyperLogLog++
    (approx_count_distinct) and a quantile sketch (approx_percentile),
    both single-pass and mergeable (partial aggregation works, unlike
    exact distinct/percentile which shuffle full values). Sketch state
    is engine-private, so this variant can't be oracle-replayed; the
    driver-facing ``approx_distinct_stats`` is the hash-checked
    hand-rolled twin in operators/sketches.py (same scale shape,
    replayable HLL + histogram quantile). Use this one when you want
    rsd control and don't need cross-engine parity. Accuracy bounds
    asserted in tests/test_sketches.py."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.round(
            F.expr("approx_percentile(value, 0.5, 10000)"), ROUND_DP
        ).alias("approx_p50"),
    )


def exact_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked exact companion to ``approx_distinct_stats``: the
    same per-type distinct-user and median-value shape, computed exactly
    (COUNT DISTINCT + interpolated percentile) so DuckDB can hash-match
    it. Since round 6 the sketch entry is ALSO oracle-checked (the
    hand-rolled replayable HLL in operators/sketches.py); only the
    native HLL++ variant (``approx_distinct_stats_native``, not a
    queries() entry) keeps engine-specific values, and its accuracy is
    bounded against THIS query's numbers in tests/test_sketches.py. At
    100 TB you run the sketch; at validation scale you run both and
    compare."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.expr("percentile(value, 0.5)"), ROUND_DP).alias("p50_value"),
    )


def sessionize(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Sessionization: lag + cumulative-sum-over-gap-markers, per user.
    Returns per-session stats. Two window passes over one shuffle
    partitioning (both windows share partitionBy(user_id))."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), ROUND_DP).alias("session_value"),
    )


def session_attribution(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Marketing-style FIRST-touch / LAST-touch attribution: sessionize
    (the shared lag + gap-cumsum pattern), credit each session's total
    value to the session's first and last event_type, aggregate per
    type.

    Exactness: session values sum in INTEGER MICROS
    (CAST(round(value·1e6) AS BIGINT) per event — the double product
    and away-from-zero rounding are identical in both engines, and the
    sums are then order-independent BIGINTs; a double sum over ~all
    sessions per type would be summation-order-dependent). First/last
    selection is a row_number over the total (ts, event_id) order —
    deterministic under timestamp ties.

    Scale: the two session windows and the two first/last windows all
    share partitionBy(user_id) — one shuffle; the attribution aggregates
    are map-side-combinable over sessions. Returns (event_type,
    first_sessions, first_value_micro, last_sessions,
    last_value_micro)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "session_seq")
    ranked = sess.withColumn(
        "rn_first",
        F.row_number().over(ws.orderBy("ts", "event_id")),
    ).withColumn(
        "rn_last",
        F.row_number().over(ws.orderBy(F.desc("ts"), F.desc("event_id"))),
    )
    per_session = ranked.groupBy("user_id", "session_seq").agg(
        F.max(
            F.when(F.col("rn_first") == 1, F.col("event_type"))
        ).alias("first_type"),
        F.max(
            F.when(F.col("rn_last") == 1, F.col("event_type"))
        ).alias("last_type"),
        F.sum(
            F.expr("CAST(round(value * 1000000) AS BIGINT)")
        ).alias("v_micro"),
    )
    first = per_session.groupBy(
        F.col("first_type").alias("event_type")
    ).agg(
        F.count(F.lit(1)).alias("first_sessions"),
        F.sum("v_micro").alias("first_value_micro"),
    )
    last = per_session.groupBy(F.col("last_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("last_sessions"),
        F.sum("v_micro").alias("last_value_micro"),
    )
    return (
        first.join(last, "event_type", "full_outer")
        .na.fill(
            {
                "first_sessions": 0,
                "first_value_micro": 0,
                "last_sessions": 0,
                "last_value_micro": 0,
            }
        )
    )


def hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (hypertable-style rollup): per event_type,
    a dense hourly grid from that type's first to last hour, with
    zero-filled hours where no events landed.

    Scale shape: the grid is generated PER GROUP from the group's own
    min/max (sequence + explode) — no driver scalar, no 1-row cross join
    (which would plan as BroadcastNestedLoopJoin); the join back to the
    observed hourly rollup is an equi-join on (event_type, hour). Grid
    size is bounded by time span, not row count."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), ROUND_DP).alias("sum_value"),
    )
    spans = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = spans.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour_ts"),
    )
    return (
        grid.join(hourly, ["event_type", "hour_ts"], "left")
        .select(
            "event_type",
            "hour_ts",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


def trailing_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame sliding window: for each purchase, the same user's
    total purchase value in the trailing hour (inclusive both ends) —
    the event-time analogue of the rows-frame running_order_total.

    RANGE frames include ALL peer rows at equal order values (SQL
    standard), so the result is deterministic under ts ties without an
    id tiebreak. One shuffle on user_id."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), ROUND_DP).alias("trailing_1h_value"),
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over events: users bucketed by the ISO
    week of their first event; for each (cohort_week, week_offset) the
    count of cohort members active that week.

    Scale shape: first-week agg and the distinct active-weeks set both
    shuffle on user_id (map-side combined); the join is an equi-join on
    user_id (same key — AQE can reuse the partitioning); the final
    rollup's cardinality is weeks^2 — tiny. No windows, no driver
    scalars."""
    ev = load(spark, sf_dir, "events")
    first_week = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week_ts")
    ).distinct()
    return (
        active.join(first_week, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(F.datediff("week_ts", "cohort_week") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view -> click -> purchase): users who
    viewed, then clicked strictly after their first view, then purchased
    strictly after that first qualifying click. One row per stage with
    the drop-off fraction vs stage 1.

    Scale shape: each stage is a user_id-keyed agg + equi-join on
    user_id — same shuffle key throughout, no windows over the fact
    table, no 1-row cross joins (the stage-1 denominator is carried by
    an unpartitioned window over the THREE-row union, not a broadcast
    of a scalar subquery)."""
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(df: DataFrame, num: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(num).cast("long").alias("stage_num"),
            F.lit(name).alias("stage"),
            F.col("n_users").cast("long"),
        )

    s = stage(v, 1, "view").unionByName(stage(c, 2, "click")).unionByName(
        stage(p, 3, "purchase")
    )
    w = Window.partitionBy()
    first = F.max(F.when(F.col("stage_num") == 1, F.col("n_users"))).over(w)
    return s.select(
        "stage_num",
        "stage",
        "n_users",
        F.round(
            F.when(first == 0, F.lit(0.0)).otherwise(
                F.col("n_users") / first.cast("double")
            ),
            ROUND_DP,
        ).alias("frac_of_first"),
    )


def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type dispersion/association stats: sample stddev and
    variance of value, and Pearson correlation + sample covariance of
    value vs hour-of-day. Single map-side-combined groupBy — the moment
    sums are partial-aggregable, so this is one shuffle of 5 keys no
    matter the corpus size. Floats rounded to 6 dp for oracle parity."""
    ev = load(spark, sf_dir, "events")
    hr = F.hour("ts").cast("double")
    return (
        ev.select("event_type", F.col("value"), hr.alias("hr"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("value"), ROUND_DP).alias("avg_value"),
            F.round(F.stddev_samp("value"), ROUND_DP).alias("stddev_value"),
            F.round(F.var_samp("value"), ROUND_DP).alias("var_value"),
            F.round(F.corr("value", "hr"), ROUND_DP).alias("corr_value_hour"),
            F.round(F.covar_samp("value", "hr"), ROUND_DP).alias("covar_value_hour"),
        )
    )


def shipping_priority(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers ⋈ open orders ⋈
    late-shipping lineitems, revenue per order, top-K by revenue.

    Scale shape: both date filters and the segment filter push into the
    parquet scans; the customer side shrinks to one segment (~1/5) before
    joining, so orders⋈customer shuffles a reduced build side and AQE can
    flip it to broadcast when small enough. The fact-fact join
    (lineitem⋈orders) shuffles on the order key; revenue sums in DECIMAL
    (order-independent exactness) and the top-K plans as
    TakeOrderedAndProject — no global sort materialization."""
    cutoff = "1998-06-01"
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(k)
    )


def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders placed in a quarter that have at least one
    lineitem shipped more than 90 days after the order date — an EXISTS
    correlated subquery, planned as a LEFT SEMI join on the order key with
    the date comparison as a residual condition.

    Scale shape: the orders date-range filter pushes to the scan; the
    semi-join shuffles both sides on the equi key (no BNL — the non-equi
    predicate rides on the hash join as a post-probe filter); the final
    rollup has priority-level cardinality."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-07-01"))
    )
    li = load(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def spend_deciles_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer-spend deciles: total spend per customer, NTILE
    decile within the customer's nation, then per (nation, decile) count
    and spend range.

    Scale shape: the spend agg shuffles once on custkey (map-side
    combined); nation joins broadcast. The NTILE window partitions by
    nation — bounded per-partition sort, never a global single-partition
    window (the unpartitioned-NTILE formulation would serialize the whole
    corpus through one task). Spend carried as DECIMAL into the window so
    ties rank identically on every engine, cast to DOUBLE only at the
    boundary."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("total_spend")
    )
    per_cust = spend.join(
        cust, spend.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    w = Window.partitionBy("n_name").orderBy(
        F.desc("total_spend"), F.asc("o_custkey")
    )
    return (
        per_cust.select(
            "n_name", "total_spend", F.ntile(10).over(w).alias("decile")
        )
        .groupBy("n_name", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.max(F.col("total_spend")).cast("double").alias("max_spend"),
            F.min(F.col("total_spend")).cast("double").alias("min_spend"),
            F.sum(F.col("total_spend")).cast("double").alias("decile_spend"),
        )
    )


def nation_directory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg parity): per
    region, the comma-joined alphabetical list of its nations plus member
    and customer counts.

    Scale shape: collect_list is bounded by group cardinality (nations per
    region ≤ 5 here; in general listagg output must fit one row — this op
    is for dimension-directory shapes, not fact tables). The customer
    count aggregates BEFORE joining the dims, so the big side reduces to
    one row per nation first; dims broadcast. sort_array makes the
    concatenation order engine-independent."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    cust = load(spark, sf_dir, "customer")
    cust_per_nation = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    return (
        nation.join(
            cust_per_nation, nation.n_nationkey == cust_per_nation.c_nationkey, "left"
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.sum(F.coalesce(F.col("n_cust"), F.lit(0))).cast("long").alias(
                "n_customers"
            ),
        )
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of that part's average quantity, rolled up per brand — a
    correlated scalar subquery (ANSI form), decorrelated here into an
    explicit per-part aggregate + equi-join, which is exactly the plan
    Catalyst would derive.

    Scale shape: the per-part threshold table has part cardinality (tiny
    next to lineitem) and joins on the same key the aggregate produced,
    so at scale the agg's shuffle partitioning is reused by the join;
    part dim broadcasts. Quantities are integral doubles, so 0.2*avg is
    bit-identical on any summation order — the threshold comparison is
    engine-independent. Revenue sums in DECIMAL, cast at the boundary."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    threshold = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(threshold, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .join(part, F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                .cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly"),
        )
    )


def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many orders they
    placed, including zero — LEFT OUTER join then two stacked aggregates.

    Scale shape: one shuffle on custkey for the join+first agg (the join
    output feeds the count directly — same key, partitioning reused);
    the second agg's domain is order-count cardinality (tiny). count() of
    a nullable column does the zero-orders accounting for free — no
    special-casing unmatched customers."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly % of revenue coming from promo-class
    parts — conditional aggregation over a dim attribute.

    Scale shape: part broadcasts; one shuffle to the month rollup. Both
    sums stay DECIMAL (exact under any partial-agg order); the percentage
    divides the two exact sums as doubles at the boundary, so the ratio
    is bit-identical on every engine."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    is_promo = F.col("p_type") == "ECONOMY"
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(is_promo, rev).otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_pct"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
        .select(
            "ship_month",
            "promo_pct",
            F.round("total_revenue", 2).alias("total_revenue"),
        )
    )


def top_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose lineitem revenue exceeds a fixed
    fraction of GLOBAL revenue — HAVING against a scalar subquery,
    expressed through the spark.sql surface (dialect-shared with the
    DuckDB oracle, like big_spenders_sql).

    Scale shape: ONE lineitem scan. The naive scalar-subquery SQL form
    rescans+re-aggregates lineitem for every subquery reference (measured:
    3 full scans); a constant-key join gets its equi-key constant-folded
    and falls back to BroadcastNestedLoop (plan sweep rejects it); an
    unpartitioned window serializes the part table through one task. So:
    aggregate to part grain once, localCheckpoint that small table (cuts
    lineage — the repo's cache-hygiene pattern), and take the global
    total from it as a 1-row driver scalar injected as a literal —
    exactly what Catalyst's ScalarSubquery execution does, minus the
    rescans. DECIMAL sums make the share division
    exact-input-identical."""
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum(rev).alias("part_value"))
        .localCheckpoint()
    )
    total = F.lit(
        float(
            per_part.agg(
                F.sum("part_value").cast("double").alias("t")
            ).first()[0]
        )
    )
    return per_part.filter(
        F.col("part_value").cast("double") > 0.0006 * total
    ).select(
        "l_partkey",
        F.round(F.col("part_value").cast("double"), 2).alias("part_value"),
        F.round(F.col("part_value").cast("double") / total, 6).alias(
            "value_share"
        ),
    )


def returned_items_report(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """TPC-H Q10 shape: top-K customers by revenue lost to returned
    items — 3-way join, rollup per customer, ordered limit.

    Scale shape: the returnflag filter pushes to the lineitem scan;
    customer/nation dims broadcast; one fact-fact shuffle on orderkey;
    the top-K plans as TakeOrderedAndProject (no global sort). DECIMAL
    revenue, total-order tiebreak on custkey."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-flavored shape: suppliers who shipped an outsized share of a
    part's total shipped quantity — a two-level aggregate where the outer
    level (per-part totals) re-aggregates the inner one (per
    part+supplier), then a fraction filter and a dim join.

    Scale shape: the per-(part,supplier) agg shuffles once; the per-part
    total derives from THAT small table, not a second scan of lineitem;
    the totals join back on the agg's own key (partitioning reused) and
    supplier broadcasts. Quantities are integral doubles — sums are exact,
    the strict > comparison engine-independent."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    totals = ps.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    return (
        ps.join(totals, "l_partkey")
        .filter(F.col("supp_qty") > 0.15 * F.col("part_qty"))
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .select(
            "l_partkey",
            "l_suppkey",
            "s_name",
            F.col("supp_qty").cast("long").alias("supp_qty"),
            F.col("part_qty").cast("long").alias("part_qty"),
            F.round(F.col("supp_qty") / F.col("part_qty"), 6).alias("qty_share"),
        )
    )


def state_history_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-Type-2 state history (gaps-and-islands): collapse each user's
    consecutive runs of the same event_type into validity intervals
    (user_id, event_type, valid_from, valid_to, n_events) — valid_to is
    the next run's start, NULL for the current (open) state. The
    dimension-history shape every warehouse keeps for slowly changing
    attributes.

    Scale shape: three window passes ALL partitioned by user_id — one
    shuffle total, the per-user sort is reused across lag/cumsum/lead.
    Run boundaries via lag != current, run ids via cumulative sum, the
    interval close via lead over the collapsed (already tiny) run table.
    Total order inside a user via (ts, event_id) so ties collapse
    identically on every engine."""
    return scd2_intervals(load(spark, sf_dir, "events"))


def scd2_intervals(ev: DataFrame) -> DataFrame:
    """SCD-2 interval builder over any events-shaped frame — the
    gaps-and-islands chain shared by ``state_history_scd2`` and the
    point-in-time join (``purchase_state_pit``)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0).alias("chg"),
    )
    runs = marked.withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    collapsed = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_run = Window.partitionBy("user_id").orderBy("run_id")
    return collapsed.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_run).alias("valid_to"),
        "n_events",
    )


def purchase_state_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store POINT-IN-TIME join: each purchase event enriched
    with the user's browsing state — the SCD-2 interval over the user's
    NON-purchase events — valid at the purchase timestamp. The
    leakage-free feature lookup every training-data export needs: only
    state knowable at event time attaches (intervals close at the next
    state's start, so a future state can never leak backwards).
    Purchases before a user's first browsing state carry NULL state
    columns (LEFT join).

    Scale shape: interval containment plans as a HASH join on the
    user_id equi key with the two range predicates as residual
    conditions (pinned BNL-free in tests/test_plans.py) — per-user
    interval counts are small and the equi key carries the shuffle.
    Containment is used instead of an as-of carry because it is
    tie-unambiguous when two adjacent runs share a boundary timestamp:
    the empty [t, t) interval can never contain a point, where an as-of
    last()-carry would tie-break arbitrarily between equal valid_from
    rows."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    hist = scd2_intervals(
        ev.filter(F.col("event_type") != "purchase")
    ).withColumnRenamed("user_id", "h_user")
    return (
        purchases.join(
            hist,
            (purchases.user_id == hist.h_user)
            & (F.col("valid_from") <= purchases.ts)
            & (F.col("valid_to").isNull() | (purchases.ts < F.col("valid_to"))),
            "left",
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.col("event_type").alias("state_type"),
            F.col("valid_from").alias("state_since"),
            F.col("n_events").alias("state_events"),
        )
    )


def large_order_customers(spark: SparkSession, sf_dir: str, min_qty: int = 250, k: int = 20) -> DataFrame:
    """TPC-H Q18 shape: customers holding orders whose TOTAL lineitem
    quantity exceeds a threshold — an IN/semi-join against an
    aggregate-filtered key set, then a top-K report.

    Scale shape: the qty rollup shuffles lineitem once on the order key
    (map-side combined, integral-double sums exact); the filtered key set
    is tiny and the orders join happens on the SAME key so AQE can
    broadcast it; customer dim broadcasts; the top-K plans as
    TakeOrderedAndProject with a total-order tiebreak."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("total_qty").cast("long").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(k)
    )


def disjunctive_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-conjunctions predicate
    spanning both join sides (brand x size x quantity bands) — the
    classic disjunctive-pushdown exercise, rolled up per brand.

    Scale shape: Catalyst extracts the common join key, pushes the
    side-local conjuncts below the join (part-side brand/size bands prune
    the broadcast build; the quantity bands prune the lineitem scan via
    a derived OR filter), and evaluates the residual disjunction on the
    joined row inside codegen — never a cross product."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 20))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 30))
            & (F.col("l_quantity").between(10, 30))
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & (F.col("p_size").between(1, 50))
            & (F.col("l_quantity").between(20, 40))
        )
    )
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        j.filter(cond)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
        )
    )


def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per nation, the count and total balance of
    customers with ABOVE-POSITIVE-AVERAGE account balance and NO RECENT
    orders (none since 2001-01-01) — NOT EXISTS (anti-join) plus a
    global-average scalar.

    Scale shape: the positive-average threshold comes from one
    customer-dim aggregate collected as driver scalars (injected
    literals — same execution as a ScalarSubquery, no rescan); the NOT
    EXISTS plans as a LEFT ANTI hash join on custkey against an orders
    scan pruned to its join column with the recency filter pushed into
    the scan; final rollup has nation cardinality.

    The above-average threshold is exact, not a DOUBLE average (whose
    engine-specific summation order could flip customers within an ulp
    of it — repo convention: money in DECIMAL): S (DECIMAL sum) and N
    (count) come back as driver scalars and the threshold is
    t = floor(S*100/N)/100, the largest 2-dp value <= S/N. For 2-dp
    money ``bal > S/N`` <=> ``bal > t``, and t is a plain literal so the
    comparison still PUSHES DOWN to the parquet scan (a multiplicative
    ``bal*N > S`` form would not)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    srow = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .first()
    )
    # exact integer floor: Decimal S has scale 2, so S*100 is integral
    threshold = float((int(srow["s"] * 100) // srow["n"])) / 100.0
    recent = orders.filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
    rich_idle = (
        cust.filter(F.col("c_acctbal") > F.lit(threshold))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    )
    return rich_idle.groupBy(F.col("c_nationkey").cast("long").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_balance"),
    )


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube): the
    (returnflag) and (linestatus) marginals plus the grand total — but
    NOT the full cross grid — in ONE Expand + single shuffle, with
    grouping_id() disambiguating which set each output row came from
    (a NULL dimension value vs a NULL from the grouping set itself).
    Dialect-shared SQL text with the oracle."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
                 AS gid,
               count(*) AS n_items,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
                 AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def batch_session_window(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """``F.session_window`` in a plain BATCH aggregation — the unified
    batch/stream API: identical query text to the streaming
    ``session_window_stats`` (streaming/stream.py), identical results,
    no state store. Complements the window-function ``sessionize``
    (lag + cumsum) with the engine-native gap-merge operator."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), ROUND_DP).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def order_stats_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping with the native ``unpivot`` (melt) operator:
    per-orderstatus wide metrics (avg/max price, order count) unpivoted
    to (status, metric, value) rows — the reverse of PIVOT
    (events_pivot), closing the reshape pair.

    Scale shape: unpivot is a zero-shuffle Expand projection (each input
    row fans out to one row per metric); here it runs over an
    already-aggregated status-cardinality table, so cost is nil. Values
    are cast to one DOUBLE type at the boundary (unpivot requires a
    common value type)."""
    orders = load(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        F.round(F.max("o_totalprice"), 6).alias("max_price"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["avg_price", "max_price", "n_orders"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def order_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions: per order-priority class, each
    order's percent_rank and cume_dist over totalprice, rolled up to the
    per-priority median-band count (orders sitting in the middle quintile
    of their class) plus distribution edges.

    Scale shape: one window partitioned by priority (bounded per-class
    sort), aggregate on top — no global sort. Ties broken by orderkey so
    both rank functions are engine-deterministic."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    ranked = orders.select(
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )
    return ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when((F.col("pr") >= 0.4) & (F.col("pr") < 0.6), 1).otherwise(0)
        ).cast("long").alias("mid_quintile_orders"),
        F.round(F.avg("cd"), 6).alias("avg_cume_dist"),
    )


def blamed_suppliers(spark: SparkSession, sf_dir: str, k: int = 25) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper on a
    multi-supplier order — in ANSI form a double-correlated
    EXISTS (another supplier on the order) + NOT EXISTS (another LATE
    supplier on the order), the hardest decorrelation pattern in the
    suite.

    Spark formulation: instead of two correlated probes per row, one
    per-order aggregate computes (distinct suppliers, distinct late
    suppliers, the single late supplier when unique) and a filter keeps
    orders with >1 supplier and exactly 1 late one — semantically
    identical (verified against the ANSI oracle), one lineitem shuffle
    total. Late = shipped >90 days after the order date."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supplier = load(spark, sf_dir, "supplier")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supps"
        ),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    blamed = per_order.filter(
        (F.col("n_supps") > 1) & (F.col("n_late_supps") == 1)
    )
    return (
        blamed.groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("n_blamed_orders"))
        .join(supplier, F.col("late_supp") == supplier.s_suppkey)
        .select(
            F.col("late_supp").alias("s_suppkey"),
            "s_name",
            "n_blamed_orders",
        )
        .orderBy(F.desc("n_blamed_orders"), F.asc("s_suppkey"))
        .limit(k)
    )


def min_cost_supplier(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """TPC-H Q2 shape: for each part, the supplier(s) quoting the MINIMUM
    unit price — the correlated-scalar-subquery pattern (`WHERE cost =
    (SELECT min(cost) ... WHERE partkey = outer.partkey)`) decorrelated
    into one aggregate + a per-part window min.

    Scale shape: ONE lineitem scan -> ONE shuffle: the explicit
    repartition on l_partkey satisfies BOTH the composite-key aggregate
    (partkey-partitioning clusters (partkey, suppkey) groups) and the
    window's partkey distribution, so agg -> window min -> filter run in
    a single post-shuffle stage with no join back (the decorrelation
    avoids the self-join most engines plan here) -> bounded-dim joins
    for names (supplier/part sf-proportional: AQE decides
    broadcast-vs-shuffle; nation is hinted). Top-k totally ordered via
    TakeOrderedAndProject. Unit price is a per-row double division
    (deterministic on any engine; min is order-independent), so the
    equality filter against the window min is exact.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    quote = (
        li.repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            )
        )
    )
    w = Window.partitionBy("l_partkey")
    best = (
        quote.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
    )
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(supplier, best.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            "n_name",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
        .orderBy(F.asc("p_partkey"), F.asc("s_suppkey"))
        .limit(k)
    )


def nation_trade_volume(
    spark: SparkSession,
    sf_dir: str,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, both
    directions, by year — the two-sided dimension pattern where ONE fact
    table joins two independent dim lineages (supplier->nation and
    orders->customer->nation) with a cross-pair filter.

    Scale shape: the nation filter pushes into both bounded dim sides
    BEFORE the fact joins (each side prunes to 1/25 of its dim), the
    pair condition collapses to a residual on two already-joined small
    columns, and the final agg has (2 directions x years) cardinality.
    customer/supplier stay AQE-sized; nation broadcasts by hint. Revenue
    in DECIMAL, emitted as rounded DOUBLE.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    wanted = (nation_a, nation_b)
    n1 = nation.filter(F.col("n_name").isin(*wanted)).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin(*wanted)).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = supplier.join(
        F.broadcast(n1), supplier.s_nationkey == F.col("s_nk")
    ).select("s_suppkey", "supp_nation")
    cst = cust.join(
        F.broadcast(n2), cust.c_nationkey == F.col("c_nk")
    ).select("c_custkey", "cust_nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cst, orders.o_custkey == cst.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(rev).cast("double"), 2).alias("volume"),
        )
    )


def market_share(
    spark: SparkSession,
    sf_dir: str,
    part_type: str = "PROMO",
    target_nation: str = "NATION_1",
) -> DataFrame:
    """TPC-H Q8 shape: within one part-type's market, the revenue share
    supplied by one nation's suppliers, by order year — the
    conditional-share-of-aggregate pattern (`sum(CASE WHEN nation THEN
    rev END) / sum(rev)`) computed in a single grouped pass instead of
    the nested-subquery formulation.

    Scale shape: the p_type filter prunes part BEFORE the fact join
    (part is the selective dim here, 1/6 of rows), supplier->nation is a
    bounded lineage folded to one `is_target` boolean before the fact
    join, so lineitem shuffles once for the year aggregate and the CASE
    split rides the same shuffle (map-side partials). Revenue sums stay
    DECIMAL end-to-end; the share is an exact-DECIMAL division emitted
    as a 6 dp DOUBLE, so engine summation order cannot flip it.
    Reference parity: the share-of-group pattern generalizes the
    reference's avg-per-group marts (models/marts/reddit_summary.sql).
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    typed = part.filter(F.col("p_type") == part_type).select("p_partkey")
    supp = (
        supplier.join(
            F.broadcast(nation),
            supplier.s_nationkey == nation.n_nationkey,
        )
        .select(
            "s_suppkey",
            (F.col("n_name") == target_nation).alias("is_target"),
        )
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(typed, li.l_partkey == typed.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.sum(F.when(F.col("is_target"), rev).otherwise(F.lit(0).cast("decimal(18,4)"))).alias("_t"),
            F.sum(rev).alias("_a"),
        )
        .select(
            "order_year",
            F.round(
                F.col("_t").cast("double") / F.col("_a").cast("double"), 6
            ).alias("mkt_share"),
        )
    )


def product_profit(
    spark: SparkSession,
    sf_dir: str,
    name_fragment: str = "gear",
    cost_factor: str = "0.1",
) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    matching a name fragment — the widest join tree in the relational
    surface (lineitem x orders x part x supplier x nation) with a
    derived per-row margin. The reference schema has no partsupp table,
    so supply cost is proxied as `p_retailprice * l_quantity *
    cost_factor` (documented, exact-DECIMAL).

    Scale shape: the p_name LIKE filter prunes part before the fact
    join (substring filters can't push to parquet stats but DO prune
    the join build side), nation rides the bounded supplier lineage,
    and profit is a DECIMAL expression folded into one grouped pass —
    one lineitem shuffle on the (nation, year) agg key. All money stays
    DECIMAL until the final rounded-DOUBLE cast, so Spark's and the
    oracle's summation orders agree bit-for-bit.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    named = part.filter(F.col("p_name").contains(name_fragment)).select(
        "p_partkey", "p_retailprice"
    )
    supp = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    profit = (
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
        - dec("p_retailprice") * dec("l_quantity") * F.lit(cost_factor).cast("decimal(18,4)")
    )
    return (
        li.join(named, li.l_partkey == named.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(
            "supp_nation",
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(profit).cast("double"), 2).alias("profit"),
        )
    )


def forecast_revenue(
    spark: SparkSession,
    sf_dir: str,
    year: int = 1997,
) -> DataFrame:
    """TPC-H Q6 shape: the pure-pushdown aggregate — a conjunctive range
    filter on three fact columns feeding one global sum, the canonical
    "did the filters reach the scan" probe.

    Scale shape: all three predicates (shipdate year range, discount
    band, quantity cap) push to the parquet scan as min/max-stat prunes;
    no join, no shuffle beyond the single-row global aggregate's partial
    merge. Discount x price stays DECIMAL so the one output number is
    summation-order-proof.
    """
    li = load(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(rev).cast("double"), 2).alias("forecast_revenue"),
        )
    )


def supplier_part_variety(
    spark: SparkSession,
    sf_dir: str,
    excluded_brand: str = "Brand#1",
    k: int = 100,
) -> DataFrame:
    """TPC-H Q16 shape: how many DISTINCT suppliers serve each part
    segment, excluding one brand and a complaint-list of suppliers —
    the count-distinct-over-join + NOT IN pattern. The reference schema
    has no partsupp, so the supplier-part relation is derived from
    lineitem's observed (partkey, suppkey) pairs (documented proxy);
    "complaints" are suppliers with negative account balance.

    Scale shape: the (partkey, suppkey) dedup collapses lineitem's ~4x
    multiplicity BEFORE the part join (one shuffle on the pair);
    the NOT IN is a broadcast anti-join against the tiny negative-
    balance list (null-safe: keys are non-null by construction); the
    distinct count rides the part-segment shuffle. Top-k totally
    ordered for determinism.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    complaints = supplier.filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_suppkey")
    )
    # no broadcast hint: the complaint list is sf-proportional (a fixed
    # fraction of supplier); AQE broadcasts it while it is actually small
    kept = pairs.join(
        complaints,
        pairs.l_suppkey == F.col("bad_suppkey"),
        "left_anti",
    )
    seg = part.filter(F.col("p_brand") != excluded_brand).select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    return (
        kept.join(seg, kept.l_partkey == seg.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"),
            F.asc("p_brand"),
            F.asc("p_type"),
            F.asc("p_size"),
        )
        .limit(k)
    )


def local_supplier_volume(
    spark: SparkSession, sf_dir: str, region: str = "ASIA"
) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation from orders where the customer
    and the line's supplier sit in the SAME nation of one region — the
    widest equi-join tree in the suite (lineitem ⋈ orders ⋈ customer ⋈
    supplier ⋈ nation ⋈ region) with a cross-table locality predicate.

    Scale shape: the order-date range pushes to the orders scan and the
    region filter prunes nation before it touches a fact. The locality
    predicate c_nationkey = s_nationkey is an EQUI key, so it rides the
    supplier hash join as part of the composite join key
    (l_suppkey, c_nationkey) — no residual BNL. Fact⋈fact shuffles once
    on orderkey; customer/supplier are sf-proportional so no forced
    broadcast (AQE decides); nation⋈region broadcast. Revenue sums in
    DECIMAL, cast at the boundary, ordered per total-order convention.
    (Reference parity: SURVEY §2.5 multi-way joins; the reference's
    widest join is dbt's staging⋈summary — this is that operator class
    at warehouse scale.)"""
    nation = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == region)
    local_nations = nation.join(
        F.broadcast(reg), nation.n_regionkey == reg.r_regionkey
    ).select("n_nationkey", "n_name")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    # customer pruned to region members before the fact join; the
    # supplier join keys on (suppkey, nationkey) so locality is equi
    regional_cust = cust.join(
        F.broadcast(local_nations), cust.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(regional_cust, orders.o_custkey == F.col("c_custkey"))
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (F.col("c_nationkey") == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("n_name", F.round("revenue", 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def ship_latency_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per shipping-latency band, how many lineitems
    belong to critical-priority orders vs the rest — the conditional
    CASE-sum pivot over an orders⋈lineitem join. (The synthetic lineitem
    has no l_shipmode/commitdate; days-from-order-to-ship bands stand in
    for ship modes, preserving the derived-group + two-way conditional
    count shape of Q12.)

    Scale shape: the ship-date year filter pushes to the lineitem scan;
    orders arrives pruned to (orderkey, priority); one shuffle on the
    order key then a 3-group rollup. The CASE sums are codegen'd — the
    pivot costs nothing beyond the join."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    latency = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    band = (
        F.when(latency <= 30, F.lit("00-30d"))
        .when(latency <= 90, F.lit("31-90d"))
        .otherwise(F.lit("90d+"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(band.alias("latency_band"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("latency_band")
    )


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly lineitem revenue
    equals the GLOBAL maximum — the revenue-view + scalar-max-subquery
    pattern, with ties kept.

    Scale shape: ONE lineitem scan (the naive view-referenced-twice SQL
    re-aggregates the fact per reference). Aggregate to supplier grain
    once, localCheckpoint the supplier-cardinality result (cuts lineage,
    repo cache-hygiene pattern), take the max back as ONE driver scalar
    and filter by DECIMAL equality — exact, no double-ulp tie ambiguity,
    same execution as Catalyst's ScalarSubquery minus the rescan. The
    supplier-name join broadcasts per AQE (result is ~1 row)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    supp = load(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(F.sum(rev).alias("total_revenue"))
        .localCheckpoint()
    )
    best = per_supp.agg(F.max("total_revenue").alias("m")).first()["m"]
    return (
        per_supp.filter(F.col("total_revenue") == F.lit(best))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("l_suppkey").cast("long").alias("suppkey"),
            "s_name",
            F.round(F.col("total_revenue").cast("double"), 2).alias(
                "total_revenue"
            ),
        )
        .orderBy("suppkey")
    )


def value_anomalies(spark: SparkSession, sf_dir: str, nsig: int = 5) -> DataFrame:
    """Robust-statistics anomaly audit per event type: median / MAD
    (median absolute deviation) of ``value`` and the count of events
    beyond ``nsig`` MADs of the median — the outlier monitor a pipeline
    runs per ingest batch (median/MAD, unlike mean/stddev, don't let the
    outliers move the fence they're judged against).

    Exactness: the outlier comparison uses FULL-precision median/MAD
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` linear
    interpolation), rounding only the reported columns, so the integer
    counts hash-match. Scale shape: two grouped aggregates + two
    broadcast-size joins (event-type cardinality); exact percentile
    sorts per group — swap ``percentile_approx`` at 100 TB like
    value_percentiles documents, the fence moves by the sketch error
    only."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(med, "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("adev") > nsig * F.col("mad")).cast("long")
            ).alias("n_outliers"),
            F.round(F.first("med"), ROUND_DP).alias("med"),
            F.round(F.first("mad"), ROUND_DP).alias("mad"),
        )
    )


def daily_count_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series outlier DAYS per event type: the daily event count's
    z-score against that type's own mean/stddev over all days — the
    ingest-volume monitor that catches a broken producer or a backfill
    double-write the row-level value_anomalies can't see.

    Exactness: daily counts are BIGINTs; mean and variance come from the
    exact integer sums (n·Σx² − (Σx)² in BIGINT — counts are small
    enough that every intermediate is < 2^53, so the int→double
    conversions are EXACT, the sqrt is the one correctly-rounded IEEE
    op, and the single z divide rounds to 6 dp identically in both
    engines; no decimal→double 1-ulp hazard because nothing exceeds
    2^53). Population stddev (divide by n_days) on both sides.

    Scale shape: one map-side-combinable (type, day) count, one tiny
    per-type rollup over |days| rows, one broadcast join back. Returns
    every (event_type, day) with its z-score and an is_anomaly flag at
    |z| > 2 — counts, not samples, so the output is |types|·|days|."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
    )
    # var = (n_days*sxx - sx^2) / n_days^2, exact integer numerator;
    # zero variance (constant daily counts, or a single day) is DEFINED
    # as z = 0 on both engines instead of an IEEE 0/0 NaN
    joined = daily.join(F.broadcast(stats), "event_type")
    var_num = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    z = F.when(var_num == 0, F.lit(0.0)).otherwise(
        (F.col("n") * F.col("n_days") - F.col("sx"))
        / F.sqrt(var_num.cast("double"))
    )
    return joined.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "n",
        F.round(z, ROUND_DP).alias("z_score"),
        (F.abs(z) > 2.0).cast("long").alias("is_anomaly"),
    )


def supplier_blame_report(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """TPC-H Q21 SHAPE on the shipped columns (the testdata carries no
    receipt/commit dates): for multi-supplier orders, blame the supplier
    who UNIQUELY shipped last — the classic "suppliers who kept orders
    waiting" report, whose textbook form is a correlated EXISTS + NOT
    EXISTS pair against the same fact table.

    DECORRELATED: two grouped aggregates replace both correlated
    subqueries — per-(order, supplier) max shipdate, then per-order
    (supplier count, attaining-supplier count) — so lineitem is scanned
    ONCE and everything else is key-joined aggregate tables (the
    single-scan discipline of late_shipment_priority /
    top_value_parts). 'Uniquely last' = exactly one supplier attains
    the order max (the NOT EXISTS half); 'kept others waiting' =
    ≥ 2 suppliers in the order (the EXISTS half). Top-k totally ordered
    on (n_blamed DESC, s_suppkey)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("own_max")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.max("own_max").alias("order_max"),
    )
    attain = (
        per_os.join(per_o, "l_orderkey")
        .filter(F.col("own_max") == F.col("order_max"))
        .groupBy("l_orderkey", "n_supps")
        .agg(
            F.count(F.lit(1)).alias("n_attain"),
            F.min("l_suppkey").alias("blame_sk"),
        )
    )
    blamed = attain.filter(
        (F.col("n_supps") >= 2) & (F.col("n_attain") == 1)
    )
    counts = blamed.groupBy(F.col("blame_sk").alias("s_suppkey")).agg(
        F.count(F.lit(1)).alias("n_blamed")
    )
    return (
        counts.join(sup, "s_suppkey")
        .select("s_suppkey", "s_name", "n_blamed")
        .orderBy(F.col("n_blamed").desc(), "s_suppkey")
        .limit(k)
    )
