"""Structured Streaming surface.

The reference is daily batch (SURVEY.md §2.9 — streaming is an explicit
future enhancement, reference README.md:108). The engine exposes the same
relations as streams: file-source ``readStream`` over the lake, watermarked
tumbling-window aggregation, and a stateful sessionizer with an event-time
timeout drain. Bounded local runs are driven to completion via the harness
in ``streaming/bounded.py`` (file-sink + checkpoint for append queries —
the production pattern; memory sink only for complete-mode dashboards);
in production the same plans run unchanged over kafka/cloud storage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bounded import (  # noqa: F401
    drain,
    resolve_slices,
    run_stream_to_batch,
    scratch_dir,
    stage_bounded_stream,
    stage_sliced_stream,
)
from ..operators.fixpoint import free_checkpoint
from ..plans.star import load
from ..sources.lake import read_index_or_none, swap_state, with_batch_id, write_table

#: partial layouts pinned on final reads (an all-empty run leaves no file)
ROLLUP_ADDITIVE_SCHEMA = (
    "domain string, n_docs bigint, n_tokens bigint, q_sum bigint, batch_id int"
)
ROLLUP_URLS_SCHEMA = "domain string, curl string, batch_id int"
ACCEPTED_SCHEMA = "{id_col} bigint, batch_id int"


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to a session-TZ TIMESTAMP (sessions are
    pinned UTC). Handles both parquet encodings of the events table:
    TIMESTAMP(NANOS) read as int64 under ``nanosAsLong`` (truncated to
    micros — exact integer DIV), and TIMESTAMP(MICROS, NTZ) read as
    TIMESTAMP_NTZ (cast — identity on wall-clock under UTC), which
    watermarks and epoch casts would otherwise reject. Works on batch and
    streaming DataFrames alike."""
    for f in df.schema.fields:
        if f.name == "ts":
            st = f.dataType.simpleString()
            if st == "bigint":
                return df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
                )
            if st == "timestamp_ntz":
                return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (schema pinned from the
    batch read — file streams must declare schemas up front).

    Multi-part tables stream one part per micro-batch in listing order,
    which is NOT event-time order — compose this only with unwatermarked
    operators (e.g. dropDuplicates). Watermarked bounded runs must go
    through ``_bounded_events_stream``, which merges parts into a single
    batch so the watermark cannot advance mid-table."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if os.path.isdir(path):
        # Spark-written table: the directory IS the stream source
        stream = reader.parquet(path)
    else:
        # single-file table: file streams require a directory, so stream
        # the sf dir scoped to this one file via pathGlobFilter
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(
            sf_dir
        )
    return _normalize_ts(stream)


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the canonical
    late-data-tolerant streaming aggregate.

    Deliberately NO sentinel filter: any event_type predicate here gets
    pushed below the EventTimeWatermark node into the scan (Catalyst does
    this even for disguised predicates), and a scan-pruned sentinel never
    advances the watermark. Bounded-run sentinels are instead placed so
    the watermark can never pass their own window's end (see
    _bounded_events_stream) — their window sits in state but is never
    emitted in append mode."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _event_sentinel_table(src_path: str, sentinel_ts):
    """The watermark sentinel as a one-row pyarrow Table carrying the
    source file's arrow schema with ts pinned to the type the ENGINE
    reads: integer-nanos sentinels keep timestamp[ns] (nanosAsLong wants
    TIMESTAMP(NANOS) -> bigint), datetime sentinels pin timestamp[us]
    (the stream schema says TIMESTAMP, and an INT96 source's ns arrow
    type would round-trip to a TIMESTAMP(NANOS) file the schema
    rejects — see the inline comment). Built without a Spark job:
    sentinel staging used to cost one coalesce(1).write per sentinel,
    ~40% of the bounded-stream setup."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = src_path
    if os.path.isdir(path):
        path = next(
            f"{path}/{p}" for p in sorted(os.listdir(path))
            if p.endswith(".parquet")
        )
    schema = pq.read_schema(path)
    # strip writer-specific metadata (pandas index info etc.) — the
    # sentinel row carries none of it and merged writers cast by schema
    schema = schema.remove_metadata()
    vals = []
    fields = []
    for f in schema:
        if f.name == "ts":
            v = sentinel_ts
            ftype = f.type
            if isinstance(ftype, pa.TimestampType) and not isinstance(v, int):
                # a datetime sentinel means the engine reads ts as a real
                # TIMESTAMP (micros semantics). An INT96 source file
                # surfaces as timestamp[ns] in arrow — writing that back
                # makes an INT64 TIMESTAMP(NANOS) file, which the
                # stream's `timestamp` schema rejects under nanosAsLong.
                # Micros is the type the engine is actually using; pin it
                # (integer nanos sentinels keep ns — that path WANTS
                # TIMESTAMP(NANOS) so nanosAsLong reads bigint).
                ftype = pa.timestamp("us", tz=ftype.tz)
                if ftype.tz is not None and v.tzinfo is None:
                    import datetime

                    v = v.replace(tzinfo=datetime.timezone.utc)
            f = pa.field("ts", ftype, f.nullable)
            vals.append(pa.array([v], type=ftype))
        elif f.name in ("event_id", "user_id"):
            vals.append(pa.array([-1], type=f.type))
        elif f.name == "event_type":
            vals.append(pa.array(["__sentinel__"], type=f.type))
        elif f.name == "value":
            vals.append(pa.array([0.0], type=f.type))
        else:
            vals.append(pa.array([None], type=f.type))
        fields.append(f)
    return pa.Table.from_arrays(vals, schema=pa.schema(fields))


def _sentinel_ts(batch: DataFrame, margin_seconds: int):
    """(sentinel time, ns_ts) for a bounded events stream: the sentinel
    sits ``margin_seconds`` past max(ts), as integer nanos when ts reads
    as bigint under ``nanosAsLong`` (ns_ts) and as a datetime otherwise.
    A zero-row source has no window or session to close, so any fixed
    time is exact there: the margin counts from the epoch."""
    import datetime

    ns_ts = any(
        f.name == "ts" and f.dataType.simpleString() == "bigint"
        for f in batch.schema.fields
    )
    max_ts = batch.agg(F.max("ts")).first()[0]
    if max_ts is None:
        max_ts = 0 if ns_ts else datetime.datetime(1970, 1, 1)
    if ns_ts:
        return max_ts + margin_seconds * 1_000_000_000, ns_ts
    return max_ts + datetime.timedelta(seconds=margin_seconds), ns_ts


def _bounded_events_stream(
    spark: SparkSession, sf_dir: str, margin_seconds: int
):
    """Events table staged as [data + watermark-sentinel, sentinel]
    micro-batches.

    The sentinel row sits ``margin_seconds`` past max(ts). It rides IN
    the data batch (a one-row pyarrow table appended to the staged file —
    batch watermark comes from the batch MAX event time, so co-delivery
    advances it exactly like a separate batch would, one micro-batch
    cheaper): once that batch commits, the watermark passes every real
    window/timeout. A SECOND sentinel at the SAME timestamp follows in
    its own batch, because emission/flush happens while PROCESSING a
    batch under the already-advanced watermark — Spark can also do it in
    a watermark-triggered no-data micro-batch, but
    ``processAllAvailable`` does not wait for those (it returns when all
    *file* data is consumed), so relying on it is a race. Keyed state
    still genuinely crosses the batch boundary: batch 1 processes under
    watermark 0 (the watermark only advances at its COMMIT), so open
    sessions / unclosed windows sit in the state store until batch 2
    flushes them. The equal timestamp matters: the watermark never
    passes the sentinels' own window/timeout horizon, so sentinel state
    can never be emitted — making output deterministic with no sentinel
    filter (which Catalyst would push below the watermark node anyway,
    killing the watermark advance). Two rows per run, not one per key.
    Returns (stream, ns_ts); sentinel rows carry
    event_type='__sentinel__' and ids of -1.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    sentinel_ts, ns_ts = _sentinel_ts(batch, margin_seconds)
    src = f"{sf_dir}/events.parquet"
    sentinel = _event_sentinel_table(src, sentinel_ts)
    stream = stage_bounded_stream(
        [[src, sentinel], sentinel], batch.schema, prefix="events_bounded_"
    )
    return _normalize_ts(stream), ns_ts


def streamed_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: stream the events table through a 1-hour tumbling window
    and emit finalized windows in APPEND mode to a parquet file sink — the
    production shape (complete-mode memory sinks don't scale past
    dashboard results). The watermark sentinel closes every real window;
    its own window stays open and is never emitted. Equivalent batch
    semantics: GROUP BY date_trunc('hour', ts), event_type — exactly what
    the DuckDB oracle checks."""
    stream, _ = _bounded_events_stream(spark, sf_dir, margin_seconds=4 * 3600)
    agg = windowed_event_counts(stream)
    return run_stream_to_batch(agg, spark, output_mode="append")


def streamed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first event per (user_id, event_type) via
    ``dropDuplicates`` — keyed state holds seen keys; in production add
    ``dropDuplicatesWithinWatermark`` so state is evicted by event time
    instead of growing forever. Batch-equivalent: min_by over the key."""
    ev = read_events_stream(spark, sf_dir)
    firsts = ev.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_stream_to_batch(firsts, spark, output_mode="append")


def streamed_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous HLL distinct-user sketch: the register table
    (event_type, reg) -> max(rho) is maintained as a streaming aggregate
    — max is idempotent and commutative, so per-micro-batch partial
    registers merge into exactly the registers of the union of all
    batches; the final estimator runs batch-side over the finished
    table. THIS is why sketches exist at 100 TB: the streaming state is
    m registers per group forever (vs dropDuplicates' keyed state in
    ``streamed_distinct_users``, which grows with the key space), and
    the same merge works across days/partitions/backfills.

    No watermark or sentinel needed: register maxes are monotone, so
    complete-mode emission after the bounded drain is the fixpoint. The
    sketch (5 groups x <=1024 registers) is dashboard-sized — the one
    case the memory sink is FOR. Oracle: identical estimate from the
    batch replay (sketches.hll_users_oracle_sql), because register
    merge across batches == registers of the union."""
    from ..operators import sketches as SK

    ev = read_events_stream(spark, sf_dir)
    regs = (
        ev.select("event_type", F.xxhash64("user_id").alias("uh"))
        .withColumn("reg", F.expr(f"uh & {SK.M - 1}"))
        .withColumn("w", F.expr(f"shiftrightunsigned(uh, {SK.B})"))
        .withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(SK.RMAX)).otherwise(
                F.lit(SK.RMAX) - F.length(F.bin("w"))
            ),
        )
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("rho_max"))
    )
    reg_table = run_stream_to_batch(regs, spark, output_mode="complete")
    return SK.hll_estimate(reg_table, "event_type")


def streamed_cms_heavy_users(
    spark: SparkSession, sf_dir: str, top_n: int = 20
) -> DataFrame:
    """Continuous Count-Min heavy-user sketch: the (hash row j, counter
    idx) occurrence counts are maintained as a streaming aggregate —
    counter sums are LINEAR (per-micro-batch partials add to exactly the
    sketch of the union), the additive counterpart of the HLL twin's
    idempotent register max above. Streaming state is d*w counters
    forever (<= 4096 rows) whatever the key cardinality — the sketch
    answer to ``streamed_distinct_users``' growing keyed state, for
    frequency instead of distinctness.

    No watermark or sentinel needed: counts only grow, so complete-mode
    emission after the bounded drain is the fixpoint, and the sketch is
    dashboard-sized (the one case the memory sink is FOR). The probe —
    exact top-n users next to their CMS point estimates — runs batch-side
    over the finished counter table (sketches.cms_probe_users; CMS
    guarantees cms_est >= exact_n). Oracle: identical frame from the
    batch replay (sketches.cms_users_oracle_sql), because counter sums
    across batches == counters of the union."""
    from ..operators import sketches as SK

    ev = read_events_stream(spark, sf_dir)
    counters = (
        SK.cms_user_positions(ev)
        .groupBy("j", "idx")
        .agg(F.count(F.lit(1)).alias("counter"))
    )
    sketch = run_stream_to_batch(counters, spark, output_mode="complete")
    return SK.cms_probe_users(spark, sf_dir, sketch, top_n=top_n)


def streamed_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous per-group quantile GRID sketch: the (event_type, bin)
    counts are maintained as a streaming aggregate — bin counts are
    LINEAR like the CMS counters (per-micro-batch partials sum to
    exactly the grid of the union), completing quantiles-over-streams
    beside the sketch-twin trio (HLL max / CMS sum / Bloom or).
    Streaming state is bounded by grid resolution × value range — never
    row count — and the finished grid walks to p25/p50/p75/p90
    batch-side (sketches.grid_quantile_stats). Shares the batch oracle
    (sketches.grid_quantiles_oracle_sql) because SUM-merge across
    batches == grid of the union; stream == batch pinned in
    tests/test_sketches.py."""
    from ..operators import sketches as SK

    ev = read_events_stream(spark, sf_dir)
    bins = (
        ev.filter(F.col("value").isNotNull())
        .withColumn(
            "bin", F.expr(f"CAST(floor(value * {SK.P50_SCALE}) AS BIGINT)")
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = run_stream_to_batch(bins, spark, output_mode="complete")
    return SK.grid_quantile_stats(grid, "event_type")


def streamed_sketch_store(
    spark: SparkSession, sf_dir: str, n_slices: int = 3
) -> DataFrame:
    """Continuous PERSISTED-sketch-store ingest — the streaming twin of
    ``operators/sketch_store.py``: events stream in ``n_slices``
    micro-batches (split by event_id % n_slices, so event time
    interleaves across batches); ``foreachBatch`` writes each batch's
    per-batch_date HLL register partials into the store partitioned by
    INGEST BATCH id. Dynamic overwrite on that partition makes each
    micro-batch's write exactly-once under foreachBatch's at-least-once
    replay — the retry-safety a SUM-law partial needs (register MAX
    would forgive duplicates; counter SUM would not, so the store keys
    partials by the replay unit, not by date).

    The read side merges register partials exactly as the batch store
    does; a (date × batch) partition of events merges to the sketch of
    the union, so the FULL-SCAN HLL oracle (hll_users_oracle_sql)
    replays the streamed store's answer. Returns (event_type,
    approx_users)."""
    n_slices = resolve_slices(n_slices, 3)
    from ..operators import sketch_store as SS
    from ..operators import sketches as SK

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = _normalize_ts(
        stage_sliced_stream(
            batch, F.col("event_id") % n_slices, n_slices,
            prefix="sketch_store_stream_",
        )
    )
    store = scratch_dir("stream_sketch_store_") + "/hll_users"

    def ingest(b: DataFrame, batch_id: int) -> None:
        parts = SS.day_partials(b, tables=("hll_users",))["hll_users"]
        write_table(
            with_batch_id(parts, batch_id).repartition(1), store,
            mode="overwrite", partition_by=["batch_id"],
        )

    drain(stream, ingest)
    regs = (
        spark.read.schema(SS.HLL_USERS_SCHEMA + ", batch_id int")
        .parquet(store)
        .groupBy("event_type", "reg")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    return SK.hll_estimate(regs, "event_type")


def streamed_domain_rollup(
    spark: SparkSession,
    sf_dir: str,
    url_expr_sql: str,
    n_slices: int = 3,
) -> DataFrame:
    """Continuous per-domain corpus rollup — the streaming twin of
    ``functions/urls.domain_rollup`` and the SECOND application of the
    graph store's first-writer ledger law: the rollup mixes ADDITIVE
    measures (doc count, token sum, quality-micro sum — plain per-batch
    partials, SUM merge) with a COUNT DISTINCT (canonical URLs), and a
    distinct is exactly the shape whose instances can repeat across
    batches. So each micro-batch writes (a) its additive partial and
    (b) its OWNED (domain, curl) rows — candidates anti-joined against
    every other batch's stored URLs — making the merged URL relation the
    distinct canonical-URL set of the union, and n_urls one plain count.
    Both writes are exactly-once per batch partition under replay (the
    stream_sketch_store discipline); the final frame is bit-identical to
    the batch rollup, so it shares the ``domain_rollup`` oracle
    verbatim. ``url_expr_sql`` is the caller's URL column expression
    (the driver passes its fixture; production passes a real column).

    Scale: additive partials are domain-cardinality; the URL ledger is
    distinct-URL-cardinality (what any exact count-distinct must hold)
    with per-batch appends touching only the new batch + one anti-join.
    """
    from ..functions.text import quality_score, token_count
    from ..functions.urls import canonicalize_url, url_domain

    n_slices = resolve_slices(n_slices, 3)
    docs = load(spark, sf_dir, "documents")
    stream = stage_sliced_stream(
        docs, F.col("doc_id") % n_slices, n_slices,
        prefix="domain_rollup_stream_",
    )
    store = scratch_dir("domain_rollup_store_")

    def ingest(b: DataFrame, batch_id: int) -> None:
        url = F.expr(url_expr_sql)
        base = b.select(
            url_domain(url).alias("domain"),
            canonicalize_url(url).alias("curl"),
            token_count("text").cast("long").alias("n_toks"),
            F.round(quality_score("text") * 1e6).cast("long").alias("q_micro"),
        )
        add = base.groupBy("domain").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.sum("q_micro").alias("q_sum"),
        )
        write_table(
            with_batch_id(add, batch_id).repartition(1), f"{store}/additive",
            mode="overwrite", partition_by=["batch_id"],
        )
        cand = base.select("domain", "curl").distinct()
        others = read_index_or_none(spark, f"{store}/urls")
        if others is not None:  # None: first batch, no URLs owned yet
            cand = cand.join(
                others.filter(F.col("batch_id") != batch_id).select(
                    "domain", "curl"
                ),
                ["domain", "curl"],
                "left_anti",
            )
        owned = with_batch_id(cand, batch_id).localCheckpoint(eager=True)
        write_table(
            owned.repartition(1), f"{store}/urls",
            mode="overwrite", partition_by=["batch_id"],
        )

    drain(stream, ingest)
    add = (
        spark.read.schema(ROLLUP_ADDITIVE_SCHEMA)
        .parquet(f"{store}/additive")
        .groupBy("domain")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("q_sum").alias("q_sum"),
        )
    )
    urls = (
        spark.read.schema(ROLLUP_URLS_SCHEMA)
        .parquet(f"{store}/urls")
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_urls"))
    )
    return add.join(urls, "domain").select(
        "domain",
        "n_docs",
        "n_urls",
        "n_tokens",
        F.expr("q_sum div n_docs").alias("mean_quality_micro"),
    )


def streamed_graph_store(
    spark: SparkSession, sf_dir: str, n_slices: int = 3
) -> DataFrame:
    """Continuous PERSISTED-GRAPH-STORE ingest — the streaming twin of
    ``operators/graph_store.py``: lineitem arrives in order-keyed
    micro-batches (slice = l_orderkey % n_slices, so each order's
    co-purchase clique lands whole in one batch) and ``foreachBatch``
    appends that batch's OWNED edge + degree partials under the ingest
    batch id via the ledger anti-join (first writer owns; an edge seen
    by an earlier micro-batch is never re-written). Dynamic overwrite on
    the batch partition makes each append exactly-once under
    foreachBatch's at-least-once replay — re-running a batch anti-joins
    against the OTHER partitions and reproduces exactly its own owned
    set (the graph_store idempotency law, pinned batch-side in
    tests/test_graph_store.py).

    The read side is ``store_edges`` — by the ledger law the merged
    partials ARE the distinct co-purchase edge set of the union of
    slices, so connected components over the streamed store equals the
    batch ``part_components`` answer and shares its star-rounds DuckDB
    oracle (neardup_oracles.cc_star_member_ctes) verbatim. Returns
    (part_id, component_id, component_size).

    Scale: per micro-batch the self-join runs over ONE slice (orders
    never span slices, so no cross-slice wedge exists to miss) plus one
    anti-join against the stored edge relation; queries amortize the
    edge derivation across the whole graph family instead of re-paying
    it per query."""
    n_slices = resolve_slices(n_slices, 3)
    from ..operators import graph_store as GST
    from ..operators.dedup import connected_components

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    stream = stage_sliced_stream(
        li, F.col("l_orderkey") % n_slices, n_slices,
        prefix="graph_store_stream_",
    )
    store = scratch_dir("stream_graph_store_")

    def ingest(b: DataFrame, batch_id: int) -> None:
        GST.append_batch(b, store, batch_id=batch_id)

    drain(stream, ingest)
    cc = connected_components(
        GST.store_edges(spark, store), src="src", dst="dst",
        pre_normalized=True,
    )
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return cc.join(sizes, "component").select(
        F.col("node").alias("part_id"),
        F.col("component").alias("component_id"),
        "component_size",
    )


def streamed_ann_store(
    spark: SparkSession, sf_dir: str, n_slices: int = 3, k: int = 5
) -> DataFrame:
    """Continuous PERSISTED-ANN-STORE ingest — the streaming twin of
    ``operators/ann_store.py``'s IVF leg: the coarse quantizer is
    trained ONCE up front on the deterministic lowest-id sample and
    frozen into the store (the production sequence — index creation
    precedes ingest), then vectors stream in ``vec_id``-keyed
    micro-batches and ``foreachBatch`` appends each batch's cell-
    assignment partial under the ingest batch id. Dynamic overwrite on
    that partition is exactly-once under replay (the
    ``streamed_sketch_store`` discipline); assignment under a frozen
    quantizer is per-row, so the streamed partials' union is
    bit-identical to the batch store AND to a full rebuild — which is
    why the final ``store_topk`` answer shares
    ``ann_oracles.ivf_topk_oracle`` verbatim (stream == batch-store ==
    rebuild, pinned in tests/test_stream_ann_store.py)."""
    n_slices = resolve_slices(n_slices, 3)
    from ..operators import ann_store as ANS

    emb = load(spark, sf_dir, "embeddings")
    cents = ANS.init_store(emb, (store := scratch_dir("stream_ann_store_")))
    stream = stage_sliced_stream(
        emb, F.col("vec_id") % n_slices, n_slices, prefix="ann_store_stream_"
    )

    def ingest(b: DataFrame, batch_id: int) -> None:
        ANS.append_batch(b, store, batch_id=batch_id, cents=cents)

    drain(stream, ingest)
    return ANS.store_topk(
        spark, store, emb, emb.filter(F.col("vec_id") < 5), k=k
    )


def streamed_minhash_store(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Continuous MinHash-SIGNATURE-STORE ingest — the streaming twin
    of ``operators/neardup_store.py``: the signature family (num_perm /
    shingle_n / bands + permutation CRC) is frozen into the store up
    front (index creation precedes ingest), then documents stream in
    ``doc_id``-keyed micro-batches and ``foreachBatch`` signs each
    batch's NEW text and appends the signature partial under the ingest
    batch id. Dynamic overwrite on that partition is exactly-once under
    replay (the ``streamed_sketch_store`` discipline); signatures are
    per-row under the frozen family, so the streamed partials' union is
    bit-identical to the batch store AND to an inline full-corpus
    signing — which is why the final ``store_pairs`` answer shares the
    ``minhash_neardup`` oracle verbatim (stream == batch-store ==
    rebuild, pinned in tests/test_neardup_store.py).

    Scale: each trigger reads only its batch's text (the
    text-proportional term paid exactly once per document, at arrival);
    the query side never touches text at all."""
    n_slices = resolve_slices(n_slices, 3)
    from ..operators import neardup_store as NS

    docs = load(spark, sf_dir, "documents")
    NS.init_store(spark, (store := scratch_dir("stream_minhash_store_")))
    stream = stage_sliced_stream(
        docs, F.col("doc_id") % n_slices, n_slices,
        prefix="minhash_store_stream_",
    )

    def ingest(b: DataFrame, batch_id: int) -> None:
        NS.append_batch(b, store, batch_id=batch_id)

    drain(stream, ingest)
    return NS.store_pairs(spark, store, threshold=threshold)


def streamed_kmv_distinct(
    spark: SparkSession, sf_dir: str, n_slices: int = 3, k: int = None
) -> DataFrame:
    """Continuous KMV (bottom-k) distinct sketch: per micro-batch the
    batch's per-type bottom-k hashes merge into a persisted ≤ types×k
    row state (union → re-bottom-k — the idempotent MIN-SET law, so an
    at-least-once replay of a batch merges to the identical state).
    Completes the streaming sketch family's law coverage: register MAX,
    counter SUM, bit OR, grid SUM, and now min-set. The final estimate
    is the batch estimator over the converged state; the full-scan KMV
    oracle replays it because bottom-k of the union == bottom-k of
    merged per-batch bottom-ks. Returns (event_type, n_kept, kmv_est)."""
    n_slices = resolve_slices(n_slices, 3)
    from ..operators import sketches as SK

    if k is None:
        k = SK.KMV_K
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = _normalize_ts(
        stage_sliced_stream(
            batch, F.col("event_id") % n_slices, n_slices, prefix="kmv_stream_"
        )
    )
    state_path = scratch_dir("kmv_state_") + "/state"

    def merge(b: DataFrame, _batch_id: int) -> None:
        def write(dst: str) -> None:
            fresh = SK.kmv_bottomk(b, "event_type", "xxhash64(user_id)", k=k)
            old = read_index_or_none(spark, state_path)
            if old is not None:
                # re-flipping a flipped value is wrong — old state is
                # already in flipped space, so merge in that space directly
                from pyspark.sql import Window

                w = Window.partitionBy("event_type").orderBy("flipped")
                fresh = (
                    old.unionByName(fresh)
                    .distinct()
                    .withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") <= k)
                    .select("event_type", "flipped")
                )
            # the state is ≤ types×k rows: rewrite whole, one file
            fresh.coalesce(1).write.mode("overwrite").parquet(dst)

        swap_state(state_path, write)

    drain(stream, merge)
    return SK.kmv_estimate(
        spark.read.parquet(state_path), "event_type", k=k
    )


def streamed_value_drift(
    spark: SparkSession, sf_dir: str, split_mod: int = 2
) -> DataFrame:
    """Continuous drift monitor: BOTH populations' value grids are
    maintained as ONE streaming (event_type, side, bin) counter-sum
    aggregate (side = event_id parity — the deterministic stand-in for
    reference-window vs live-window), the SUM merge law again; the TV
    distance is computed batch-side from the finished two-sided grid
    (sketches.drift_from_side_grid). Streaming state = 2× grid cells,
    never rows. Shares the batch oracle (value_drift_oracle_sql) because
    per-micro-batch counter partials sum to the grids of the union;
    stream == batch pinned in tests/test_sketches.py."""
    from ..operators import sketches as SK

    ev = read_events_stream(spark, sf_dir)
    bins = (
        ev.filter(F.col("value").isNotNull())
        .withColumn("side", (F.col("event_id") % split_mod != 0).cast("int"))
        .withColumn(
            "bin", F.expr(f"CAST(floor(value * {SK.P50_SCALE}) AS BIGINT)")
        )
        .groupBy("event_type", "side", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = run_stream_to_batch(bins, spark, output_mode="complete")
    return SK.drift_from_side_grid(grid)


def streamed_bloom_contamination(
    spark: SparkSession, sf_dir: str, banned_mod: int = 17, n_slices: int = 4
) -> DataFrame:
    """Continuous Bloom-filter build: the banned set streams in (e.g. a
    benchmark-contamination list growing over releases) and its
    (word, bits) bloom table is maintained as a streaming bit_or
    aggregate — OR is IDEMPOTENT and commutative, so per-micro-batch
    partial blooms merge into exactly the bloom of the union. This
    completes the sketch-twin trio: HLL (max), CMS (sum), Bloom (or) —
    one merge law each, all with state bounded by the sketch geometry
    (32 words here) instead of the key space, all sharing their batch
    oracle because merge-across-batches == sketch-of-the-union.

    The banned docs are sliced by doc_id % n_slices into micro-batches
    (any slicing works — OR is order-independent); the probe + per-source
    accounting runs batch-side against the finished table
    (sketches.bloom_probe_stats). Oracle: bloom_oracle_sql, identical to
    the batch twin's."""
    n_slices = resolve_slices(n_slices, 4)
    from ..operators import sketches as SK

    docs = load(spark, sf_dir, "documents")
    banned = docs.filter(F.col("doc_id") % banned_mod == 0).select(
        "doc_id", "source", "text"
    )
    stream = stage_sliced_stream(
        banned, F.col("doc_id") % n_slices, n_slices, prefix="bloom_stream_"
    )
    words = SK.bloom_build(SK.bloom_fingerprints(stream))
    bloom = run_stream_to_batch(words, spark, output_mode="complete")
    return SK.bloom_probe_stats(spark, sf_dir, bloom, banned_mod=banned_mod)


def streamed_purchase_click_join(
    spark: SparkSession, sf_dir: str, window_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with event-time bounds: purchases joined to
    the same user's clicks in the strict hour before each purchase.
    Both sides are watermarked; the join buffers each side's state only
    within the time bound, and rows are emitted once the watermark passes
    their join window.

    ``how="left_outer"``: purchases with NO click in the window are ALSO
    emitted (click columns NULL) — the engine holds an unmatched left row
    until the right-side watermark proves no future click can match, then
    releases it. The left-side sentinel row necessarily surfaces as an
    unmatched left row in this mode; it is filtered from the RETURNED
    batch (post-sink — filtering inside the streaming plan would push the
    predicate below the watermark node and break the drain).

    For the bounded run, a sentinel event far past max(ts) in a SECOND
    file per side advances the watermark over all real data so every
    matched pair is emitted (production streams drain continuously).
    Matches the batch range-join oracle exactly.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    sentinel_ts, _ = _sentinel_ts(batch, window_seconds + 7200)

    # one-row pyarrow sentinel shared by both sides — no Spark write jobs
    # (the _bounded_events_stream optimization; this family staged FOUR
    # coalesce(1) sentinel writes per run before round 6). Built from the
    # SOURCE file's arrow schema, so its parquet ts logical type is
    # read-compatible with the Spark-written filtered data files under
    # the stream's fixed schema (nanos and micros sources both).
    sentinel = _event_sentinel_table(f"{sf_dir}/events.parquet", sentinel_ts)

    def read_side(event_type: str, alias: str) -> DataFrame:
        # TWO sentinel batches per side (same reasoning as
        # _bounded_events_stream): outer-join unmatched-row emission
        # happens during state eviction in a batch processed UNDER the
        # already-advanced watermark — the second sentinel provides that
        # batch, since processAllAvailable does not wait for
        # watermark-triggered no-data micro-batches. The data batch keeps
        # its own file here (unlike the riding sentinel in
        # _bounded_events_stream) because stream-stream join state must
        # demonstrably cross the batch boundary in both modes.
        s = stage_bounded_stream(
            [
                batch.filter(F.col("event_type") == event_type),
                sentinel,
                sentinel,
            ],
            batch.schema,
            prefix=f"ssj_{event_type}_",
        )
        s = _normalize_ts(s)
        return s.select(
            F.col("event_id").alias(f"{alias}_id"),
            F.col("user_id").alias(f"{alias}_user"),
            F.col("ts").alias(f"{alias}_ts"),
            F.col("value").alias(f"{alias}_value"),
            F.col("event_type").alias(f"{alias}_type"),
        ).withWatermark(f"{alias}_ts", "1 hour")

    purchases = read_side("purchase", "p")
    clicks = read_side("click", "c")
    # NO event_type predicates in the join condition: each side is
    # already staged pre-filtered, and a side-local predicate here gets
    # pushed below that side's EventTimeWatermark node into the scan —
    # pruning the sentinel and freezing the watermark at the real-data
    # max (observed: the last hour of unmatched left rows never evicted).
    # Sentinels can't self-join: equal timestamps fail c_ts < p_ts.
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_seconds} SECONDS"))
        & (F.col("c_ts") < F.col("p_ts")),
        how,
    ).select(
        F.col("p_id").alias("purchase_id"),
        F.col("c_id").alias("click_id"),
        F.round("c_value", 6).alias("click_value"),
    )
    out = run_stream_to_batch(joined, spark, output_mode="append")
    if how == "left_outer":
        # drop the left-side sentinel (post-sink: this filter runs on the
        # read-back batch, never inside the streaming plan)
        out = out.filter(F.col("purchase_id") >= 0)
    return out


# ------------------------------------------------ custom stateful operator


def _session_walk(pdf, open_sess, last_seq, gap_s):
    """Shared vectorized session segmentation for the stateful
    sessionizers: sort one user's micro-batch, extend/close sessions on
    floor-seconds gaps (strict >, matching the batch ``sessionize``).
    Returns (closed sessions as (seq, start_us, end_us, n, val) tuples,
    updated open_sess, updated last_seq, sentinel-seen flag). No Python
    per-event loop — numpy gap/cumsum over the batch."""
    import numpy as np

    # fast path: per-user event batches are usually tiny and already
    # ts-ordered; a strictly-increasing ts needs no (ts, event_id) sort
    ts_col = pdf["ts"]
    if not (ts_col.is_monotonic_increasing and ts_col.is_unique):
        pdf = pdf.sort_values(["ts", "event_id"])
    saw_sentinel = bool((pdf["event_id"] < 0).any())
    pdf = pdf[pdf["event_id"] >= 0]

    closed: list[tuple] = []
    if len(pdf):
        us = pdf["ts"].to_numpy("datetime64[us]").astype("int64")
        sec = us // 1_000_000
        val = pdf["value"].to_numpy("float64")
        prev_sec = np.empty_like(sec)
        prev_sec[1:] = sec[:-1]
        prev_sec[0] = (open_sess[1] // 1_000_000) if open_sess else np.iinfo("int64").min // 2
        brk = (sec - prev_sec) > gap_s
        sid = np.cumsum(brk)  # 0 = continues the open session
        # per-session aggregates in sid order (sid is sorted)
        bounds = np.flatnonzero(np.r_[True, sid[1:] != sid[:-1]])
        ends = np.r_[bounds[1:], len(sid)]
        sessions = []  # (sid, start_us, end_us, n, val)
        for b, e in zip(bounds, ends):
            sessions.append((sid[b], us[b], us[e - 1], e - b, float(val[b:e].sum())))
        if sessions and sessions[0][0] == 0:
            # first group extends the carried-over open session
            s = sessions[0]
            open_sess = [open_sess[0], s[2], open_sess[2] + s[3], open_sess[3] + s[4]]
            sessions = sessions[1:]
        for s in sessions:
            if open_sess is not None:
                closed.append((last_seq, *open_sess))
            last_seq += 1
            open_sess = [s[1], s[2], int(s[3]), float(s[4])]
    return closed, open_sess, last_seq, saw_sentinel


def sessionize_stateful(
    events: DataFrame, gap_minutes: int = 30, drain: str = "sentinel"
) -> DataFrame:
    """Custom stateful streaming sessionizer via applyInPandasWithState.

    Per user_id, state carries the open session (seq, start/end epoch-µs,
    count, value sum); each micro-batch walks that user's events in
    (ts, event_id) order, closing a session whenever the floor-seconds gap
    exceeds ``gap_minutes`` (strict >, matching the batch ``sessionize``
    in plans/star.py).

    ``drain`` picks how open sessions are flushed:

    - ``"event_time"`` (production): GroupStateTimeout.EventTimeTimeout —
      ``events`` must be watermarked; a user's open session flushes when
      the watermark passes its end + gap, and fully-closed state is
      garbage-collected by the same timeout (state never grows with the
      key space). Per-key sentinels are unnecessary; anything advancing
      the watermark (live traffic, or one global sentinel row on a
      bounded run) drains everyone.
    - ``"sentinel"``: rows with event_id < 0 flush that user's open
      session without joining one — per-key drain for unwatermarked
      bounded runs.

    Output rows are CLOSED sessions only (append mode).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("session_seq", LongType(), False),
            StructField("n_events", LongType(), False),
            StructField("session_start", TimestampType(), False),
            StructField("session_end", TimestampType(), False),
            StructField("session_value", DoubleType(), False),
        ]
    )
    # state survives even when no session is open (has_open=0) so
    # session_seq keeps counting across micro-batches
    state_schema = StructType(
        [
            StructField("last_seq", LongType(), False),
            StructField("has_open", LongType(), False),
            StructField("start_us", LongType(), False),
            StructField("end_us", LongType(), False),
            StructField("n", LongType(), False),
            StructField("val", DoubleType(), False),
        ]
    )
    gap_s = gap_minutes * 60
    event_time = drain == "event_time"

    def fn(key, pdfs, state: GroupState):
        # vectorized per user-batch: sort once, numpy gap/cumsum for
        # session boundaries, groupby-aggregate per session — no Python
        # per-event loop (the hot path sees every event exactly once)
        import numpy as np
        import pandas as pd

        (user_id,) = key
        if event_time and state.hasTimedOut:
            t_seq, t_open, t_start, t_end, t_n, t_val = state.get
            if t_open:
                # flush the open session but keep the seq counter around
                # for one more gap so a returning user continues numbering;
                # the follow-up timeout garbage-collects it
                state.update((t_seq, 0, 0, 0, 0, 0.0))
                state.setTimeoutTimestamp(
                    int(state.getCurrentWatermarkMs() + gap_s * 1000 + 1)
                )
            else:
                state.remove()  # idle past gap with nothing open: GC
            if t_open:
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_seq": [t_seq],
                        "n_events": [t_n],
                        "session_start": [pd.Timestamp(t_start, unit="us")],
                        "session_end": [pd.Timestamp(t_end, unit="us")],
                        "session_value": [round(t_val, 6)],
                    }
                )
            return
        last_seq = 0
        open_sess = None  # [start_us, end_us, n, val] of session #last_seq
        if state.exists:
            last_seq, has_open, start_us, end_us, n, val = state.get
            if has_open:
                open_sess = [start_us, end_us, n, val]

        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        closed, open_sess, last_seq, saw_sentinel = _session_walk(
            pdf, open_sess, last_seq, gap_s
        )

        if saw_sentinel and open_sess is not None:  # end-of-stream drain
            closed.append((last_seq, *open_sess))
            open_sess = None

        if open_sess is not None:
            state.update((last_seq, 1, int(open_sess[0]), int(open_sess[1]),
                          int(open_sess[2]), float(open_sess[3])))
            if event_time:
                # flush when the watermark passes end + gap (must stay
                # strictly ahead of the current watermark)
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(
                    int(max(open_sess[1] // 1000 + gap_s * 1000 + 1, wm + 1))
                )
        elif last_seq > 0:
            state.update((last_seq, 0, 0, 0, 0, 0.0))
            if event_time:
                # nothing open: the same timeout garbage-collects the
                # seq-counter state once the user has been idle past gap
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(wm + gap_s * 1000 + 1)
        else:
            state.remove()
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_seq": [c[0] for c in closed],
                    "n_events": [c[3] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                    "session_value": [round(c[4], 6) for c in closed],
                }
            )

    timeout_conf = (
        GroupStateTimeout.EventTimeTimeout
        if event_time
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", timeout_conf
        )
    )


def streamed_sessionize(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """End-to-end stateful-streaming sessionization over the bounded events
    table, equivalent to the batch ``plans.star.sessionize`` (same DuckDB
    oracle).

    Production drain: the stream is watermarked and the sessionizer uses
    event-time timeouts, so ONE global watermark-advancing sentinel row
    (not one per user) flushes every open session; results land in a
    parquet file sink. One staged file per micro-batch puts the
    sentinel in a later micro-batch, so session state genuinely crosses batch
    boundaries before the timeout drains it.
    """
    stream, _ = _bounded_events_stream(
        spark, sf_dir, margin_seconds=2 * gap_minutes * 60 + 60
    )
    # NO sentinel filter here: a ts-free predicate would be pushed below
    # the EventTimeWatermark node into the scan and the sentinel would
    # never advance the watermark. The sessionizer itself drops
    # event_id < 0 rows, so the sentinel's own group emits nothing.
    sessions = sessionize_stateful(
        stream.withWatermark("ts", "0 seconds"),
        gap_minutes,
        drain="event_time",
    )
    return run_stream_to_batch(sessions, spark, output_mode="append")


# --------------------------------------------- foreachBatch warehouse merge


def merge_latest_into_warehouse(
    batch: DataFrame,
    warehouse_path: str,
    keys: list[str],
    order_cols: list[str],
) -> None:
    """Idempotent last-write-wins merge of one micro-batch into a parquet
    warehouse table: read current table, union the batch, keep max_by
    (order_cols) per key group, swap it in via ``lake.swap_state``.

    This is the ``foreachBatch`` MERGE pattern for sinks without native
    upsert. The order key is EVENT data (ts, event_id), not arrival
    order, so replays and out-of-order micro-batches converge to the
    same table — which is what makes foreachBatch's at-least-once
    delivery effectively exactly-once here. Production note: a full
    rewrite per micro-batch is the plain-parquet cost; on Delta/Iceberg
    the identical plan lands as MERGE INTO with file-level pruning, and
    an id-bucketed layout makes the merge shuffle-free on the main side
    (operators/upsert.upsert_bucketed shows that layout).
    """
    spark = batch.sparkSession

    def write(dst: str) -> None:
        merged = batch
        if os.path.exists(warehouse_path):
            merged = spark.read.parquet(warehouse_path).unionByName(batch)
        rank = F.struct(*[F.col(c) for c in order_cols]).alias("__rank")
        row = F.struct(*[F.col(c) for c in merged.columns]).alias("__row")
        (
            merged.select(*[F.col(k) for k in keys], rank, row)
            .groupBy(*keys)
            .agg(F.max_by("__row", "__rank").alias("__row"))
            .select(*[F.col(f"__row.{c}").alias(c) for c in merged.columns])
            .write.mode("overwrite")
            .parquet(dst)
        )

    swap_state(warehouse_path, write)


def streamed_upsert_latest(
    spark: SparkSession, sf_dir: str, n_slices: int = 3
) -> DataFrame:
    """Continuous warehouse upsert: stream the events table in
    ``n_slices`` micro-batches through a ``foreachBatch`` last-write-wins
    merge keyed (user_id, event_type) ordered (ts, event_id), then read
    the final warehouse — equivalent to the batch
    ``latest_event_per_user_type`` (same DuckDB oracle).

    Slices are split by ``event_id % n_slices``, which interleaves event
    time across micro-batches — the merge must be genuinely
    order-independent to pass, not just append-lucky. No watermark: the
    merge's order key is event data, so late arrival never changes the
    converged table."""
    n_slices = resolve_slices(n_slices, 3)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = _normalize_ts(
        stage_sliced_stream(
            batch, F.col("event_id") % n_slices, n_slices, prefix="upsert_stream_"
        )
    )
    warehouse = scratch_dir("upsert_wh_") + "/events_latest"

    def merge(b: DataFrame, _batch_id: int) -> None:
        merge_latest_into_warehouse(
            b,
            warehouse,
            keys=["user_id", "event_type"],
            order_cols=["ts", "event_id"],
        )

    drain(stream, merge, state_partitions=8)
    out = spark.read.parquet(warehouse)
    return out.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.round("value", 6).alias("last_value"),
    )


# ------------------------------------- foreachBatch streaming corpus dedup


def dedup_batch_against_index(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    accepted_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Merge one micro-batch of documents into a growing dedup corpus:
    anti-join the batch's content fingerprints against the accepted-corpus
    fingerprint index, record the survivors, and extend the index with
    their fingerprints so later batches reject their duplicates.

    Idempotency under foreachBatch's at-least-once replay: both writes
    overwrite this batch's ``batch_id`` partition, so a replayed batch
    replaces its own partition instead of doubling it (the same per-key
    idempotency trick as date-partitioned lake writes).
    The index is only ever APPENDED partitions — 8-byte fingerprints, no
    text — so the per-batch cost is one fingerprint anti-join; the corpus
    itself is never rescanned. On Delta/Iceberg the index write is an
    ACID append and the anti-join can prune index files by fingerprint
    range; plain-parquet partition dirs are the same shape.
    """
    from ..operators.dedup import nullable_fingerprint

    spark = batch.sparkSession
    new_fp = batch.select(
        F.col(id_col), nullable_fingerprint(text_col).alias("fp")
    )
    firsts = new_fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    idx = read_index_or_none(spark, index_path)
    if idx is not None:
        # only STRICTLY EARLIER partitions: on an at-least-once replay the
        # index already holds this batch's own fingerprints, and matching
        # them would overwrite the batch's accepted partition with an
        # empty one. Partition pruning makes the filter metadata-only.
        idx = idx.filter(F.col("batch_id") < batch_id)
        accepted = firsts.filter(F.col("fp").isNotNull()).join(
            idx.select("fp"), "fp", "left_anti"
        )
        # The NULL-fp group needs explicit handling: the anti-join's NULL
        # never matches, so without it every BATCH would accept its own
        # min-id NULL doc while the batch operator (one groupBy over the
        # whole ingest) accepts exactly one. A NULL row in an EARLIER
        # INGEST batch (batch_id >= 0) suppresses this batch's; the seed
        # corpus's NULLs (batch_id = -1) do NOT — SQL equality says NULL
        # never matches the corpus, exactly like incremental_dedup's
        # anti-join. The probe (below, guarded) is a limit-1 scan of
        # prior ingest partitions' 8-byte fp column.
        null_first = firsts.filter(F.col("fp").isNull())
        # probe the index only when this batch actually HAS a NULL group
        # (the common no-NULL batch pays nothing extra); the probe scans
        # prior ingest partitions' fp column for a NULL row
        if null_first.limit(1).count() > 0:
            null_seen = (
                idx.filter(F.col("batch_id") >= 0)
                .filter(F.col("fp").isNull())
                .limit(1)
                .count()
                > 0
            )
            if not null_seen:
                accepted = accepted.unionByName(null_first)
    else:
        accepted = firsts
    # one computation, two partition writes: checkpoint so the anti-join
    # doesn't execute twice (and can't flap between the writes)
    accepted = accepted.localCheckpoint(eager=True)
    keyed = with_batch_id(accepted, batch_id)
    for col, path in ((id_col, accepted_path), ("fp", index_path)):
        write_table(
            keyed.select(col, "batch_id"), path,
            mode="overwrite", partition_by=["batch_id"],
        )
    free_checkpoint(accepted)  # free this batch's checkpoint blocks


def streamed_incremental_dedup(
    spark: SparkSession, sf_dir: str, n_slices: int = 3
) -> DataFrame:
    """Continuous corpus build: seed the fingerprint index from the
    accepted corpus (even-id docs), stream the candidate docs (odd-id) in
    ``n_slices`` id-ordered micro-batches through
    ``dedup_batch_against_index``, and return the accepted ids —
    equivalent to the batch ``incremental_dedup`` (same DuckDB oracle).

    Slices are CONTIGUOUS id ranges delivered in order (file-source
    batches are mtime-ordered), so streaming first-arrival acceptance
    equals the batch min-id rule and the outputs are identical — NULL
    text included (the NULL group dedups across ingest batches but never
    against the seed corpus, matching the batch operator's SQL
    semantics). The property a replayable ingest pipeline needs (id is
    ingest order in production, so "first arrived" and "lowest id" agree
    there too)."""
    n_slices = resolve_slices(n_slices, 3)
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")

    from ..operators.dedup import nullable_fingerprint

    base = scratch_dir("inc_dedup_")
    index_path = f"{base}/fp_index"
    accepted_path = f"{base}/accepted"
    # seed the index once per corpus (batch -1)
    seed = corpus.select(nullable_fingerprint("text").alias("fp")).distinct()
    write_table(
        with_batch_id(seed, -1), index_path,
        mode="overwrite", partition_by=["batch_id"],
    )

    def merge(b: DataFrame, batch_id: int) -> None:
        dedup_batch_against_index(b, batch_id, index_path, accepted_path)

    if not _drain_id_sliced_stream(
        new, "doc_id", n_slices, "inc_dedup_", merge
    ):
        # no candidate docs at all: nothing to stream, nothing accepted
        return spark.createDataFrame([], "doc_id long")
    return _read_accepted(spark, accepted_path, "doc_id")


def _drain_id_sliced_stream(
    new: DataFrame,
    id_col: str,
    n_slices: int,
    prefix: str,
    merge,
) -> bool:
    """Shared scaffolding of the four bounded incremental-build drivers
    (exact dedup, MinHash near-dup, embedding near-dup, CDC chunk
    store): slice the candidate table into ``n_slices`` CONTIGUOUS
    id ranges delivered in order (file-source batches are
    mtime-ordered, so streaming first-arrival equals the id-order
    policy every build's oracle replays), stage them as a bounded file
    stream, and drain through ``foreachBatch(merge)`` under a reduced
    shuffle-partition count. Returns False — staging nothing — when
    there are no candidate rows, so each caller can return its own
    empty shape."""
    hi = new.agg(F.max(id_col)).first()[0]
    if hi is None:
        return False
    chunk = (int(hi) + n_slices) // n_slices + 1
    # slice = id div chunk reproduces the contiguous ranges
    # [i*chunk, (i+1)*chunk) exactly (ids are non-negative, hi < n*chunk),
    # and the one-pass stager evaluates the candidate plan ONCE instead
    # of once per slice (round 11 — `new` is often a derived frame)
    stream = stage_sliced_stream(
        new, F.expr(f"{id_col} div {chunk}"), n_slices,
        prefix=f"{prefix}stream_",
    )
    drain(stream, merge, state_partitions=8)
    return True


def _read_accepted(spark: SparkSession, accepted_path: str, id_col: str) -> DataFrame:
    """The accepted ids of an incremental build, in the pinned layout."""
    schema = ACCEPTED_SCHEMA.format(id_col=id_col)
    return spark.read.schema(schema).parquet(accepted_path).select(id_col)


def _write_index_batch(
    rows: DataFrame, keys: DataFrame, index_path: str, suffix: str, batch_id: int
) -> None:
    """One batch of a near-dup index: the (did, payload) rows at
    ``index_path`` and their LSH key rows at ``index_path + suffix``,
    each a partition overwrite of ``batch_id`` (replay idempotency). The
    seed (batch -1) and every merged batch write through here."""
    for df, path in ((rows, index_path), (keys, index_path + suffix)):
        write_table(
            with_batch_id(df, batch_id), path,
            mode="overwrite", partition_by=["batch_id"],
        )


def _greedy_index_merge(
    rows: DataFrame,
    keys_of,
    key_cols: list[str],
    verify,
    batch_id: int,
    index_path: str,
    suffix: str,
    accepted_path: str,
    id_col: str,
    max_batch_edges: int,
    fn_name: str,
) -> None:
    """The one greedy merge of a micro-batch into a growing near-dup
    index, shared by the MinHash and embedding builds. ``rows`` is the
    batch's (did, payload) frame, ``keys_of(rows)`` its LSH key rows
    (did, *key_cols), ``verify(cands, a, b)`` the family's pair verifier
    over candidate (id_a, id_b) pairs and two (did, payload) sides.

    Index layout: TWO sibling growing tables, both seeded before the
    first batch and appended as ``batch_id`` partitions
    (``_write_index_batch``): the (did, payload) rows at ``index_path``
    for verification, and the PRE-KEYED rows at ``index_path + suffix``
    for the probe join. Persisting the keys means each micro-batch keys
    ONLY its own rows — re-keying the whole accepted index per batch
    would make total keying work quadratic in corpus size over a run.
    The probe is a plain equi-join of the batch's keys against the
    stored keys (bounded by bucket occupancy); verification touches
    candidates only; the corpus is never rescanned.

    Steps: reject every batch row verified against an ALREADY-ACCEPTED
    row of a strictly earlier batch, resolve within-batch near-dups
    among the survivors greedily in id order
    (operators/dedup.greedy_accept_order), then write the accepted ids,
    rows and keys. The greedy resolution collects the batch's VERIFIED
    within-batch edges — inherently sequential, so driver-side by
    design and micro-batch-bounded, but guarded by ``max_batch_edges``:
    a pathological batch (huge trigger + heavy near-dup load) fails
    fast with sizing guidance instead of collecting millions of edge
    rows into driver memory."""
    from ..operators.dedup import bucket_self_join, greedy_accept_order

    spark = rows.sparkSession
    rows = rows.localCheckpoint(eager=True)
    # key THIS batch once; reused for the index probe, the within-batch
    # self-join, and the persisted key partition
    keys = keys_of(rows).localCheckpoint(eager=True)
    idx = read_index_or_none(spark, index_path)
    survivors = rows
    if idx is not None:
        idx = idx.filter(F.col("batch_id") < batch_id)  # replay safety
        idx_keys = spark.read.parquet(index_path + suffix).filter(
            F.col("batch_id") < batch_id
        ).select(F.col("did").alias("id_b"), *key_cols)
        cand = (
            keys.withColumnRenamed("did", "id_a")
            .join(idx_keys, key_cols)
            .select("id_a", "id_b")
            .distinct()
        )
        dup = verify(cand, rows, idx).select(F.col("id_a").alias("did")).distinct()
        survivors = rows.join(dup, "did", "left_anti")
    survivors = survivors.localCheckpoint(eager=True)

    wb_cand = bucket_self_join(
        keys.join(survivors.select("did"), "did", "left_semi"), key_cols
    )
    edge_rows = (
        verify(wb_cand, survivors, survivors)
        .limit(max_batch_edges + 1)  # bound the driver collect
        .collect()
    )
    if len(edge_rows) > max_batch_edges:
        raise ValueError(
            f"{fn_name}: batch {batch_id} produced more than "
            f"max_batch_edges={max_batch_edges} verified within-batch "
            f"near-dup edges; the greedy first-arrival resolution is "
            f"driver-side by design and this batch would not fit. Shrink "
            f"the source's per-trigger file or byte limit, raise "
            f"the threshold, or raise max_batch_edges explicitly."
        )
    edges = [(r.id_a, r.id_b) for r in edge_rows]
    ids = [r.did for r in survivors.select("did").collect()]
    accepted_ids = greedy_accept_order(ids, edges)

    # join, not a giant isin literal: the accepted set is batch-bounded
    # but can still be thousands of ids, and an isin that size bloats the
    # plan; a broadcast semi-join keeps it a normal relation
    import pandas as pd

    # pandas/Arrow local relation: a list-of-tuples relation evaluates
    # through a Python-RDD worker round trip on every micro-batch
    # broadcast; the Arrow batch deserializes JVM-side (round 10)
    acc_df = spark.createDataFrame(
        pd.DataFrame({"did": [int(i) for i in accepted_ids]}), "did long"
    )
    accepted = survivors.join(
        F.broadcast(acc_df), "did", "left_semi"
    ).localCheckpoint(eager=True)
    acc_ids = with_batch_id(accepted.select(F.col("did").alias(id_col)), batch_id)
    write_table(
        acc_ids, accepted_path, mode="overwrite", partition_by=["batch_id"]
    )
    _write_index_batch(
        accepted,
        keys.join(F.broadcast(acc_df), "did", "left_semi"),
        index_path,
        suffix,
        batch_id,
    )
    # free this batch's checkpoints: over a long run, per-batch blocks
    # left pinned in the block manager grow without bound (the
    # split_hot_buckets round-4 advice pattern, applied per micro-batch).
    # DataFrame.unpersist() is a CacheManager call that does NOT touch
    # localCheckpoint blocks — the RDD-level release is required.
    for df_ in (accepted, survivors, keys, rows):
        free_checkpoint(df_)


def neardup_batch_against_index(
    batch: DataFrame,
    batch_id: int,
    sig_index_path: str,
    accepted_path: str,
    threshold: float = 0.5,
    num_perm: int = 64,
    shingle_n: int = 3,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_batch_edges: int = 1_000_000,
) -> None:
    """Merge one micro-batch into a growing NEAR-dup-deduplicated corpus
    — the MinHash analog of ``dedup_batch_against_index``: reject every
    batch doc whose estimated Jaccard (signature agreement) against an
    ALREADY-ACCEPTED doc reaches ``threshold``, resolve within-batch
    near-dups greedily in id order, and extend the accepted-signature
    index with the survivors.

    Runs ``_greedy_index_merge`` with the batch operator's stages
    (dedup.minhash_neardup_pairs): (did, signature) rows at
    ``sig_index_path``, the pre-banded (did, band, bucket) rows at
    ``sig_index_path + "_bands"``, verification by
    ``dedup.minhash_verify_pairs``."""
    from ..operators.dedup import (
        minhash_bands,
        minhash_signatures,
        minhash_verify_pairs,
    )

    def verify(cands: DataFrame, a: DataFrame, b: DataFrame) -> DataFrame:
        return minhash_verify_pairs(
            cands,
            a.select(F.col("did").alias("id_a"), F.col("signature").alias("sig_a")),
            b.select(F.col("did").alias("id_b"), F.col("signature").alias("sig_b")),
            num_perm,
            threshold,
        )

    _greedy_index_merge(
        minhash_signatures(batch, text_col, id_col, num_perm, shingle_n)
        .withColumnRenamed(id_col, "did"),
        lambda s: minhash_bands(s, bands, num_perm // bands),
        ["band", "bucket"],
        verify,
        batch_id,
        sig_index_path,
        "_bands",
        accepted_path,
        id_col,
        max_batch_edges,
        "neardup_batch_against_index",
    )


def streamed_incremental_neardup(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Continuous NEAR-dup corpus build: seed the signature index from
    the accepted corpus (even-id docs), stream candidate docs (odd-id)
    in id-ordered micro-batches through ``neardup_batch_against_index``,
    return accepted ids.

    Policy equivalence (pinned in tests/test_stream_dedup.py): because
    slices arrive in id order and signatures are a pure per-doc
    function, the streamed result equals a single sequential greedy pass
    over all candidates — reject iff est-Jaccard >= threshold against an
    already-accepted (seed or earlier-surviving) doc."""
    n_slices = resolve_slices(n_slices, 3)
    from ..operators.dedup import minhash_bands, minhash_signatures

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")

    base = scratch_dir("inc_neardup_")
    sig_index_path = f"{base}/sig_index"
    accepted_path = f"{base}/accepted"
    # seed BOTH index tables (signatures + pre-banded rows) so the first
    # ingest batch probes the stored bands instead of re-banding the seed
    num_perm, bands = 64, 16  # neardup_batch_against_index defaults
    seed_sigs = (
        minhash_signatures(corpus)
        .withColumnRenamed("doc_id", "did")
        .localCheckpoint(eager=True)
    )
    _write_index_batch(
        seed_sigs,
        minhash_bands(seed_sigs, bands, num_perm // bands),
        sig_index_path,
        "_bands",
        -1,
    )
    free_checkpoint(seed_sigs)

    def merge(b: DataFrame, batch_id: int) -> None:
        neardup_batch_against_index(
            b, batch_id, sig_index_path, accepted_path, threshold=threshold
        )

    if not _drain_id_sliced_stream(
        new, "doc_id", n_slices, "inc_neardup_", merge
    ):
        return spark.createDataFrame([], "doc_id long")
    return _read_accepted(spark, accepted_path, "doc_id")


def embedding_neardup_batch_against_index(
    batch: DataFrame,
    batch_id: int,
    vec_index_path: str,
    accepted_path: str,
    dim: int,
    threshold: float = 0.4,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_batch_edges: int = 1_000_000,
) -> None:
    """Merge one micro-batch into a growing EMBEDDING near-dup-deduplicated
    corpus — the hyperplane-LSH analog of ``neardup_batch_against_index``:
    reject every batch vector whose cosine against an ALREADY-ACCEPTED
    vector reaches ``threshold`` (candidates = multi-table LSH bucket
    collisions, verification = exact cosine), resolve within-batch
    near-dups greedily in id order, extend the accepted index with the
    survivors.

    Runs ``_greedy_index_merge`` with the batch operator's stages
    (similarity.embedding_neardup_pairs without hot-bucket splits):
    (did, vec) rows at ``vec_index_path``, the pre-bucketed (did, tbl,
    bucket) rows at ``vec_index_path + "_buckets"``, verification by
    ``similarity.cosine_verify_pairs``.

    The bucket width is FIXED per index (like the MinHash band count):
    a growing index cannot re-bucket retroactively, so ``n_planes`` is
    part of the index contract — size it for the corpus you expect
    (auto_planes(final_rows)) rather than the first batch."""
    from ..operators.similarity import cosine_verify_pairs, lsh_bucket_table

    def verify(cands: DataFrame, a: DataFrame, b: DataFrame) -> DataFrame:
        return cosine_verify_pairs(
            cands,
            a.select(F.col("did").alias("id_a"), F.col("vec").alias("vec_a")),
            b.select(F.col("did").alias("id_b"), F.col("vec").alias("vec_b")),
            threshold,
        )

    _greedy_index_merge(
        batch.select(F.col(id_col).alias("did"), F.col(vec_col).alias("vec")),
        lambda v: lsh_bucket_table(
            v, dim, n_planes, n_tables, id_col="did", vec_col="vec"
        ),
        ["tbl", "bucket"],
        verify,
        batch_id,
        vec_index_path,
        "_buckets",
        accepted_path,
        id_col,
        max_batch_edges,
        "embedding_neardup_batch_against_index",
    )


def streamed_incremental_embedding_neardup(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 3,
    threshold: float = 0.4,
    dim: int = 64,
    n_planes: int = 8,
) -> DataFrame:
    """Continuous embedding near-dup corpus build: seed the vector index
    from the accepted corpus (even vec_ids), stream candidate vectors
    (odd ids) in id-ordered micro-batches through
    ``embedding_neardup_batch_against_index``, return accepted ids.

    Policy equivalence (pinned in tests/test_stream_dedup.py): slices
    arrive in id order and buckets are a pure per-vector function, so
    the streamed result equals one sequential greedy pass — reject iff
    cosine >= threshold (within an LSH bucket collision) against an
    already-accepted vector. The batch analog of the candidate graph is
    ``embedding_neardup_pairs(bucket_cap=None, n_planes=n_planes)``."""
    n_slices = resolve_slices(n_slices, 3)
    from ..operators.similarity import lsh_bucket_table

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")

    base = scratch_dir("inc_embdup_")
    vec_index_path = f"{base}/vec_index"
    accepted_path = f"{base}/accepted"
    seed = (
        corpus.select(F.col("vec_id").alias("did"), F.col("embedding").alias("vec"))
        .localCheckpoint(eager=True)
    )
    _write_index_batch(
        seed,
        lsh_bucket_table(seed, dim, n_planes, id_col="did", vec_col="vec"),
        vec_index_path,
        "_buckets",
        -1,
    )
    free_checkpoint(seed)

    def merge(b: DataFrame, batch_id: int) -> None:
        embedding_neardup_batch_against_index(
            b, batch_id, vec_index_path, accepted_path,
            dim=dim, threshold=threshold, n_planes=n_planes,
        )

    if not _drain_id_sliced_stream(
        new, "vec_id", n_slices, "inc_embdup_", merge
    ):
        return spark.createDataFrame([], "vec_id long")
    return _read_accepted(spark, accepted_path, "vec_id")


def cdc_batch_against_store(
    batch: DataFrame,
    batch_id: int,
    chunk_index_path: str,
    gear: dict[str, int] | None = None,
    window: int = 16,
    mask_bits: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[int, int, int, int] | None:
    """Merge one micro-batch into a growing content-defined CHUNK STORE
    (operators/cdc): chunk the batch's documents with the Gear rolling
    hash, anti-join the chunk hashes against the stored-chunk index, and
    return the batch's dedup ledger row
    (n_chunks, n_new_chunks, chars_total, chars_new) — the storage-dedup
    ingest loop, where the metric of interest is how many of an ingest
    batch's passages the store already holds. Returns None for a batch
    that produced no chunks (empty / all-NULL texts).

    Per-batch work: chunking is map-only Arrow; the gear table is a pure
    per-character function (xxhash64), so it carries no index state —
    callers with a known corpus pass one precomputed table (the bounded
    driver does), otherwise each batch derives its own from its own
    alphabet; either way the stored-chunk SET is batch-order-independent,
    which is what makes the build SQL-replayable. Only (hash, len) rows
    probe and extend the index; chunk text never shuffles and is never
    re-read. The index lands in ``batch_id`` partition overwrites
    (replay idempotency, same as dedup_batch_against_index); the
    ledger row is driver-sized by construction (one per batch), so it is
    returned rather than written — persist it wherever the job's metrics
    go."""
    from ..operators.cdc import cdc_chunks, gear_table

    spark = batch.sparkSession
    ch = cdc_chunks(
        batch,
        gear=gear if gear is not None else gear_table(batch, text_col),
        text_col=text_col,
        id_col=id_col,
        window=window,
        mask_bits=mask_bits,
    ).select(F.xxhash64("chunk").alias("h"), F.length("chunk").alias("clen"))
    # one per-hash rollup feeds totals, the index probe, and the store
    # extension; identical hash => identical chunk => identical length
    mine = (
        ch.groupBy("h")
        .agg(F.count(F.lit(1)).alias("dups"), F.max("clen").alias("clen"))
        .localCheckpoint(eager=True)
    )
    tot = mine.agg(
        F.sum("dups").alias("n"), F.sum(F.col("dups") * F.col("clen")).alias("c")
    ).first()
    if not tot["n"]:
        free_checkpoint(mine)
        return None
    idx = read_index_or_none(spark, chunk_index_path)
    new = mine
    if idx is not None:
        new = mine.join(
            idx.filter(F.col("batch_id") < batch_id).select("h"),
            "h",
            "left_anti",
        )
    new = new.localCheckpoint(eager=True)
    ns = new.agg(F.count(F.lit(1)).alias("n"), F.sum("clen").alias("c")).first()
    write_table(
        with_batch_id(new.select("h", "clen"), batch_id), chunk_index_path,
        mode="overwrite", partition_by=["batch_id"],
    )
    free_checkpoint(new)  # free this batch's checkpoint blocks
    free_checkpoint(mine)
    return (int(tot["n"]), int(ns["n"] or 0), int(tot["c"]), int(ns["c"] or 0))


def streamed_bm25_doc_search(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 4,
    query_mod: int = 50,
    k: int = 10,
    prune_stop_terms: bool = False,
) -> DataFrame:
    """Continuous BM25 posting-index build — the retrieval family's
    streaming twin: documents stream in id-range micro-batches and each
    batch APPENDS its (doc_id, tok, tf) posting partials plus its doc-id
    membership rows to a growing parquet index (foreachBatch; zero
    streaming state — the store IS the index, the house pattern of the
    incremental dedup/CDC builds). Merge laws are the sketch-trio kind:
    batches cover DISJOINT doc ranges, so posting partials union into
    exactly the one-batch tf table, df(tok) = Σ per-batch dfs = count
    over the union, and (n_docs, Σdl) add. Scoring then runs the
    IDENTICAL batch scorer (retrieval.bm25_score_tf) over the finished
    store, so the twin shares ``bm25_oracle_sql`` by construction —
    stream == batch pinned in tests/test_retrieval.py.

    At 100 TB this is the shape of a production index refresh: per-batch
    map-side tokenize + bounded aggregate, append-only parquet postings
    partitionable by term, queries broadcast at score time."""
    n_slices = resolve_slices(n_slices, 4)
    from ..operators import retrieval as RV

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = scratch_dir("bm25_index_")
    tf_path = f"{base}/postings"
    ids_path = f"{base}/doc_ids"

    def merge(b: DataFrame, batch_id: int) -> None:
        # staged bounded batches arrive as ONE file = one partition;
        # spread the tokenize+aggregate across the executor threads (a
        # real streaming source delivers parallel partitions already) —
        # 10x-docs measurement: 275 s -> ~30 s
        b = b.repartition(16)
        RV._terms(b, "doc_id", "text").write.mode("append").parquet(tf_path)
        b.select("doc_id").write.mode("append").parquet(ids_path)

    if not _drain_id_sliced_stream(
        docs, "doc_id", n_slices, "bm25_index_", merge
    ):
        return spark.createDataFrame(
            [], "query_id long, doc_id long, score_micro long, rank long"
        )
    tf = spark.read.parquet(tf_path).localCheckpoint(eager=True)
    n_docs = spark.read.parquet(ids_path).count()
    qdocs = docs.filter(F.col("doc_id") % query_mod == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    # default pruning off for the synthetic corpus (31-word vocabulary —
    # every term is a stop term), same setting as the batch entry; at
    # scale pruning is THE lever: unpruned, an all-stop-word vocabulary
    # scores every (query, doc) pair — measured 267 s at 10x docs ×
    # 10x queries vs ~30 s pruned (the batch 100x convention)
    return RV.bm25_score_tf(
        tf, n_docs, qdocs, k=k, prune_stop_terms=prune_stop_terms
    )


def streamed_cdc_chunk_store(
    spark: SparkSession, sf_dir: str, n_slices: int = 3
) -> DataFrame:
    """Continuous chunk-store build: seed the store from the accepted
    corpus (even-id docs, batch −1), stream the candidate docs (odd-id)
    in id-ordered micro-batches through ``cdc_batch_against_store``, and
    return the per-batch dedup ledger
    (batch_id, n_chunks, n_new_chunks, chars_total, chars_new).

    Unlike the greedy near-dup builds, the stored-chunk SET here is
    batch-order-INDEPENDENT (a chunk is stored iff its hash's first
    occurrence is in or before that batch, and first occurrence is
    determined by the fixed id-range slicing) — so the ledger replays as
    plain grouped SQL over the batch assignment, no recursive walk. The
    ledger accumulates in a driver dict keyed by batch_id (one row per
    batch; an at-least-once replay overwrites its own key)."""
    n_slices = resolve_slices(n_slices, 3)
    from ..operators.cdc import gear_table

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")

    base = scratch_dir("cdc_store_")
    chunk_index_path = f"{base}/chunk_index"
    # the corpus is known for a bounded run, so the gear table (a pure
    # per-character function) is computed once and shared by every batch
    gear = gear_table(docs)
    ledger: dict[int, tuple[int, int, int, int]] = {}
    res = cdc_batch_against_store(corpus, -1, chunk_index_path, gear=gear)
    if res is not None:
        ledger[-1] = res

    out_schema = (
        "batch_id long, n_chunks long, n_new_chunks long, "
        "chars_total long, chars_new long"
    )

    def _ledger_df() -> DataFrame:
        return spark.createDataFrame(
            [(b, *ledger[b]) for b in sorted(ledger)], out_schema
        )

    def merge(b: DataFrame, batch_id: int) -> None:
        r = cdc_batch_against_store(b, batch_id, chunk_index_path, gear=gear)
        if r is not None:
            ledger[batch_id] = r

    _drain_id_sliced_stream(new, "doc_id", n_slices, "cdc_store_", merge)
    return _ledger_df()


# ------------------------------------------- native windowed session / slide


def session_window_stats(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Spark-native gap sessionization: ``F.session_window`` keeps session
    state in the streaming state store and MERGES windows whose gap-extended
    spans touch — empirically (and per SessionWindowStateStore semantics) a
    new session starts only when the time since the previous event is
    STRICTLY greater than the gap, at full microsecond precision. This is
    the built-in operator complementing the custom applyInPandasWithState
    sessionizer (``sessionize_stateful``): no Python in the loop at all,
    state merge/eviction handled by the engine.

    Output: (user_id, session_start, n_events, session_value) — session
    window start == min event ts of the session."""
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def streamed_session_window(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """End-to-end native session_window over the bounded events table.
    The watermark sentinel sits 2*gap past max(ts), so every real session's
    gap-extended span closes; the sentinel's own session stays open in
    state and is never emitted (append mode) — no output filter needed."""
    stream, _ = _bounded_events_stream(
        spark, sf_dir, margin_seconds=2 * gap_minutes * 60 + 60
    )
    agg = session_window_stats(stream, f"{gap_minutes} minutes")
    return run_stream_to_batch(agg, spark, output_mode="append")


def sliding_event_counts(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked SLIDING-window aggregate: each event lands in
    window/slide overlapping windows (2 here), the late-data-tolerant
    trend-curve shape. Spark expands the window set per row and keeps
    per-(window, key) state; append mode emits a window once the
    watermark passes its end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streamed_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end sliding-window counts over the bounded events table.
    Margin 5h: the latest real window ends at floor_hour(max_ts)+2h and
    the 2h watermark delay must still pass it, while the sentinel's own
    windows stay unemitted."""
    stream, _ = _bounded_events_stream(spark, sf_dir, margin_seconds=5 * 3600)
    agg = sliding_event_counts(stream)
    return run_stream_to_batch(agg, spark, output_mode="append")


# ----------------------------------------------------- stream-static join


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Stream-static (stream ⋈ batch dimension) enrichment join — the
    zero-state streaming shape: no watermark, no state store, each
    micro-batch probes the static side (broadcast when small). The
    canonical "attach dimension attributes to a firehose" operator."""
    return events.join(F.broadcast(dim), on, how)


def streamed_purchase_state_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming feature lookup: purchase events stream against the
    STATIC SCD-2 browsing-state history (plans/star.scd2_intervals over
    non-purchase events) with the same interval-containment predicate as
    the batch point-in-time join — the online half of the feature-store
    pattern (training uses the batch PIT join, serving streams against
    the identical history, so online/offline features can never skew).
    Stateless stream-static LEFT join → append mode; shares the batch
    oracle because containment attaches exactly one interval per
    purchase regardless of arrival order."""
    from ..plans.star import scd2_intervals

    ev = read_events_stream(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    hist = scd2_intervals(
        load(spark, sf_dir, "events").filter(
            F.col("event_type") != "purchase"
        )
    ).withColumnRenamed("user_id", "h_user")
    joined = purchases.join(
        hist,
        (purchases.user_id == hist.h_user)
        & (F.col("valid_from") <= purchases.ts)
        & (F.col("valid_to").isNull() | (purchases.ts < F.col("valid_to"))),
        "left",
    ).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("event_type").alias("state_type"),
        F.col("valid_from").alias("state_since"),
        F.col("n_events").alias("state_events"),
    )
    return run_stream_to_batch(joined, spark, output_mode="append")


def streamed_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: stream the events table joined to the STATIC customer
    dimension (user_id = c_custkey) and emit enriched rows to the file
    sink. Stateless, so no sentinel staging is needed — the raw
    table-as-stream reader drains it in listing order."""
    ev = read_events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    enriched = stream_static_enrich(
        ev, cust, ev.user_id == F.col("c_custkey")
    ).select(
        "event_id",
        "user_id",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "event_type",
        F.round("value", 6).alias("value"),
    )
    return run_stream_to_batch(enriched, spark, output_mode="append")


def streamed_categorical_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous categorical profile of the event-type column: the
    per-value counts are ONE streaming count aggregate — the SUM merge
    law yet again, so per-micro-batch partials sum to the counts of the
    union and the cardinality/Gini fold runs batch-side on the finished
    table (quality.profile_from_counts). Streaming state = |distinct
    values| counters (a CATEGORICAL column — bounded by construction),
    never rows. Shares the batch oracle restricted to this column;
    stream == batch pinned in tests/test_profiling.py."""
    from ..operators import quality as QL

    ev = read_events_stream(spark, sf_dir)
    counts = ev.groupBy(F.col("event_type").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    finished = run_stream_to_batch(counts, spark, output_mode="complete")
    return QL.profile_from_counts(finished, "events.event_type")


def streamed_part_components(
    spark: SparkSession, sf_dir: str, n_slices: int = 3
) -> DataFrame:
    """Continuous connected components of the part co-purchase graph —
    the graph family's incremental twin: lineitem arrives in ORDER-keyed
    micro-batches (slice = l_orderkey % n_slices, so each order's
    co-purchase clique lands whole in one batch), and every batch folds
    its new edges into a persisted (node, rep) membership state by
    re-running min-label CC over ``state-as-star-edges UNION new edges``.

    Why the fold is exact (the family's merge law, like register MAX /
    counter SUM): the state rows (node, rep) are STAR EDGES that
    preserve precisely the connectivity classes of every edge seen so
    far — each class is a star centered on its min node — so min-label
    CC over (stars ∪ new edges) returns the min-node labeling of the
    FULL union graph. Hence the final state equals the batch
    ``part_components`` answer and shares its star-rounds DuckDB oracle
    (neardup_oracles.cc_star_member_ctes) verbatim. The fold is also
    idempotent under at-least-once replay: re-merging already-seen
    edges cannot move a min label.

    Scale: state is node-cardinality (|parts|, two BIGINTs per row —
    never edges, which at 100 TB dwarf the node set); per batch CC runs
    O(diameter of NEW structure) steps because prior components are
    already depth-1 stars, in one task while stars ∪ new edges are
    under ``dedup.CC_ONE_TASK_BYTES``. State swaps through
    ``lake.swap_state``, like the kmv and upsert states. Returns
    (part_id, component_id, component_size).
    """
    n_slices = resolve_slices(n_slices, 3)
    from ..operators.dedup import connected_components

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    stream = stage_sliced_stream(
        li, F.col("l_orderkey") % n_slices, n_slices, prefix="cc_stream_"
    )
    state_path = scratch_dir("cc_state_") + "/state"

    def merge(b: DataFrame, _batch_id: int) -> None:
        lo = b.select("l_orderkey", "l_partkey").distinct()
        a, c = lo.alias("a"), lo.alias("b")
        new_edges = (
            a.join(
                c,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("src"),
                F.col("b.l_partkey").alias("dst"),
            )
            .distinct()
        )

        def write(dst: str) -> None:
            old = read_index_or_none(spark, state_path)
            edges = (
                new_edges
                if old is None
                else new_edges.unionByName(
                    old.select(
                        F.col("node").alias("src"),
                        F.col("component").alias("dst"),
                    )
                )
            )
            cc = connected_components(edges, src="src", dst="dst")
            cc.write.mode("overwrite").parquet(dst)

        swap_state(state_path, write)

    drain(stream, merge)
    state = spark.read.parquet(state_path)
    sizes = state.groupBy("component").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return state.join(sizes, "component").select(
        F.col("node").alias("part_id"),
        F.col("component").alias("component_id"),
        "component_size",
    )
