"""Sequence packing and deterministic sampling for training-data prep.

- ``sequence_pack``: assign documents to fixed token-budget training
  sequences (the "concatenate then chunk" packing most LLM data loaders
  use). Deterministic: docs are laid out per source in doc-id order and a
  running token count is bucketed by the budget — the same assignment on
  any cluster/partitioning, no driver loop.
- ``stratified_sample``: keep exactly ``k`` docs per stratum, chosen by a
  deterministic arithmetic hash (Knuth multiplicative) so the sample is
  reproducible and expressible in plain SQL — no ``rand()``, no engine
  RNG divergence.

Scale design: both are ONE window over the stratum key (shuffle bounded
by stratum/source count for skew purposes; AQE splits hot strata) plus a
codegen projection. The pack rollup adds one map-side-combined groupBy.

Reference scope note: the reference loads each day's batch whole
(airflow/extraction/upload_aws_redshift.py) — packing/sampling belong to
the engine's training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import token_count

#: Knuth's multiplicative-hash constant (2654435761 = 2^32 * phi) — the
#: scramble is plain BIGINT arithmetic so DuckDB computes bit-identically.
_KNUTH = 2654435761
_MOD = 1 << 32


def _ntok0(text_col: str) -> "F.Column":
    """token_count with NULL text counted as 0 tokens — the convention
    token_budget_sample documents; without it a NULL-text doc carries a
    NULL n_tokens through the packing windows and surfaces as a NULL
    group at a query boundary (CLAUDE.md type rules)."""
    return F.coalesce(token_count(text_col).cast("long"), F.lit(0))


def scramble(col) -> "F.Column":
    """Deterministic pseudo-random ordering key from an id column.

    Computed as (id * _KNUTH) mod 2^32 via a 16-bit split multiply so no
    intermediate exceeds 2^49: the naive product overflows BIGINT for
    ids >= 2^63 / _KNUTH (~3.5e9 — any snowflake/timestamp-derived id),
    which throws under Spark's ANSI mode and silently wraps otherwise
    while the DuckDB replay errors — a parity break exactly at corpus
    scale. The id reduces mod 2^32 first ((a mod m)·k mod m == a·k mod
    m), so values are unchanged for every id the old form could handle.
    Division by 2^16 is exact in IEEE doubles (power-of-two divisor),
    making floor() the true 16-bit shift. The SQL replays mirror this
    split form verbatim."""
    c = F.col(col) if isinstance(col, str) else col
    x = c % _MOD
    xh = F.floor(x / F.lit(65536)).cast("long")
    xl = x % F.lit(65536)
    return ((xh * _KNUTH % 65536) * 65536 + xl * _KNUTH) % _MOD


def pack_assignments(
    df: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-doc sequence assignment: (id, group, n_tokens, seq_id).

    Documents are concatenated per ``group_col`` in ``id_col`` order; a
    doc starting at running-token offset ``o`` goes to sequence
    ``floor(o / budget)`` (docs can span a boundary — the loader splits
    them, exactly like GPT-style chunked pretraining)."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ntok = _ntok0(text_col)
    return df.select(
        F.col(id_col), F.col(group_col), ntok.cast("long").alias("n_tokens")
    ).select(
        id_col,
        group_col,
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget)
        ).cast("long").alias("seq_id"),
    )


def sequence_pack(
    df: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Packed-sequence rollup: per (group, seq_id) the doc count and
    token count that land in that training sequence (tokens attributed
    to the sequence where the doc STARTS; boundary-spanning docs count
    once, like sample-level bookkeeping in a chunked loader)."""
    return (
        pack_assignments(df, budget, text_col, id_col, group_col)
        .groupBy(group_col, "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
    )


def stratified_sample(
    df: DataFrame,
    k: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, deterministically
    pseudo-random via the Knuth scramble of the id, total-ordered so
    every engine picks the same rows."""
    w = Window.partitionBy(stratum_col).orderBy(
        scramble(id_col).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data mixing to an exact per-group token budget: within each group
    take documents in Knuth-scrambled pseudo-random order (deterministic,
    engine-independent) while the cumulative token count BEFORE the doc
    is still under ``budget_tokens`` — the doc that crosses the budget is
    the last one in, so every group lands in
    [budget, budget + max_doc_tokens). The "sample N tokens per source /
    language" stage of a pretraining mix, without a driver-side loop.

    Output: (group, doc_id, n_tokens) of the selected docs.

    Scale shape — two-phase cumulative sum, NOT one window per group (a
    per-language window serializes each language's whole corpus through
    a single task): the scramble key space is cut into ``n_buckets``
    range buckets, per-(group, bucket) token sums roll up map-side, the
    tiny (groups x buckets) offset table computes running offsets
    driver-free via a window over BUCKETS (n_buckets rows per group),
    and the final cumsum windows partition by (group, bucket) — so
    parallelism is groups x n_buckets and every stage is one keyed
    shuffle. Selection order is the deterministic Knuth scramble of the
    id: growth-stable per scramble prefix but rebalancing when the
    corpus grows — pin the corpus snapshot for reproducible mixes."""
    from ..functions.text import tokens

    n_buckets = 64
    bucket = (scramble(id_col) / F.lit(_MOD // n_buckets)).cast("int")
    counted = df.select(
        F.col(group_col),
        F.col(id_col),
        bucket.alias("_bkt"),
        # NULL text counts as 0 tokens (still a selectable row) so the
        # cumulative sum is total and NULL never poisons the window
        F.coalesce(F.size(tokens(F.col(text_col))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    # running offset of each bucket = sum of all earlier buckets' tokens
    # (groups x n_buckets rows — the window is over a TINY relation)
    per_bucket = counted.groupBy(group_col, "_bkt").agg(
        F.sum("n_tokens").alias("_bkt_tokens")
    )
    wb = Window.partitionBy(group_col).orderBy("_bkt")
    offsets = per_bucket.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_bkt_tokens").over(
                wb.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(group_col, "_bkt", "_offset")
    # early prune: buckets whose offset already exceeds the budget can't
    # contribute — the join drops them before the per-bucket window runs
    w = Window.partitionBy(group_col, "_bkt").orderBy(
        scramble(id_col).asc(), F.col(id_col).asc()
    )
    cum_before = (
        F.col("_offset") + F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        counted.join(
            F.broadcast(offsets.filter(F.col("_offset") < budget_tokens)),
            [group_col, "_bkt"],
        )
        .withColumn("_cum_before", cum_before)
        .filter(F.col("_cum_before") < budget_tokens)
        .select(group_col, id_col, "n_tokens")
    )


def shard_assignments(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-export shard per row: Knuth-scrambled id
    mod ``n_shards``. Pure projection — embarrassingly parallel, no
    shuffle, identical assignment on any cluster/partitioning (unlike
    a global row_number round-robin, which needs a single-partition
    window and dies at scale). Token balance across shards follows from
    the scramble's uniformity at corpus cardinalities."""
    return df.withColumn(
        "shard_id", (scramble(id_col) % n_shards).cast("long")
    )


def shard_manifest(
    df: DataFrame,
    n_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-shard export manifest: (shard_id, n_docs, n_tokens, n_chars)
    — what a training-data writer emits alongside the shard files so
    loaders can plan epochs without re-scanning. One map-side-combined
    groupBy on the (tiny-cardinality) shard id."""
    ntok = _ntok0(text_col)
    return (
        shard_assignments(df, n_shards, id_col)
        .select(
            "shard_id",
            ntok.cast("long").alias("_ntok"),
            F.length(F.col(text_col)).cast("long").alias("_nchar"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ntok").alias("n_tokens"),
            F.sum("_nchar").alias("n_chars"),
        )
    )


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Temperature-based corpus rebalancing (the multilingual-pretraining
    ``p_i ∝ n_i^alpha`` rule): per-``group_col`` keep-rates proportional
    to ``count^alpha``, normalized so the SMALLEST source keeps
    everything (rate 1.0) and every larger source keeps
    ``(n_i/n_min)^(alpha-1) <= 1`` — downsampling big sources toward the
    temperature-flattened distribution. Selection is the deterministic Knuth scramble of the doc
    id against the per-source rate, so the mix is reproducible under any
    partitioning and any engine (no rand()).

    Returns the per-source audit: (group, n_docs, n_kept, keep_rate,
    kept_tokens).

    Scale shape: source counts are one map-side-combined agg over a
    column-pruned scan; rates live on a source-cardinality table (tiny)
    where a single-partition window is FINE (it never touches fact rows);
    the rate table broadcasts back onto the corpus — the keep decision is
    a map-only filter, no fact shuffle at all."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    w_all = Window.partitionBy()
    rates = counts.select(
        group_col,
        "n_docs",
        F.round(
            F.pow(F.col("n_docs") / F.min("n_docs").over(w_all), F.lit(alpha - 1.0)),
            6,
        ).alias("keep_rate"),
    )
    ntok = _ntok0(text_col)
    kept = (
        df.select(F.col(id_col), F.col(group_col), ntok.cast("long").alias("_nt"))
        .join(F.broadcast(rates), group_col)
        .filter(
            (scramble(id_col) / F.lit(float(_MOD))) < F.col("keep_rate")
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("_nt").cast("long").alias("kept_tokens"),
        )
    )
    return (
        rates.join(kept, group_col, "left")
        .na.fill({"n_kept": 0, "kept_tokens": 0})
        .select(group_col, "n_docs", "n_kept", "keep_rate", "kept_tokens")
    )


def chunk_manifest(
    df: DataFrame,
    chunk: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking manifest: (id, chunk_id,
    start_tok, end_tok, n_chunk_tokens) for ``chunk``-token windows
    advancing by ``chunk - overlap`` — the long-document splitting stage
    of an embedding/pretraining loader (the loader slices text by these
    offsets; the manifest is the distributed part).

    Scale shape: token counts are a pure projection; chunk starts
    materialize via sequence() + explode — output rows ~ total_tokens /
    (chunk - overlap), each derived map-only with no shuffle at all.
    Documents with zero tokens produce zero chunks."""
    if overlap >= chunk:
        raise ValueError("overlap must be smaller than chunk")
    step = chunk - overlap
    base = df.select(
        F.col(id_col), token_count(text_col).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    starts = base.select(
        id_col,
        "n_tokens",
        F.posexplode(
            F.sequence(F.lit(0), F.col("n_tokens") - 1, F.lit(step))
        ).alias("chunk_id", "start_tok"),
    )
    end = F.least(F.col("start_tok") + chunk, F.col("n_tokens"))
    return starts.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start_tok").cast("long").alias("start_tok"),
        end.cast("long").alias("end_tok"),
        (end - F.col("start_tok")).cast("long").alias("n_chunk_tokens"),
    )


def train_val_test_split(
    df: DataFrame,
    val_pct: int = 5,
    test_pct: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted train/val/test assignment per row — the
    first thing every training-data export does. The Knuth-scrambled id
    mod 100 lands in percentage bands (test first, then val, remainder
    train), so the assignment is a pure projection: identical on any
    cluster/partitioning, stable under reruns and corpus growth
    (existing docs never change split when new docs arrive — unlike
    fraction-based randomSplit), and an oracle-computable expression
    (plain BIGINT arithmetic, no engine RNG)."""
    band = scramble(id_col) % 100
    return df.withColumn(
        "split",
        F.when(band < test_pct, F.lit("test"))
        .when(band < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def leakage_safe_split(
    df: DataFrame,
    val_pct: int = 5,
    test_pct: int = 5,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/val/test assignment that near-duplicate clusters can never
    straddle — the dedup-aware eval split (the GPT-3/Pile lesson:
    per-document hash splits leak train text into test through near
    copies, inflating eval).

    Composition: the banded MinHash pair graph → connected components
    (``dedup.neardup_clusters``, the 100 TB path — banding bounds the
    self-join, CC takes few steps over clique-ish components, in one
    task below ``dedup.CC_ONE_TASK_BYTES``) →
    ``train_val_test_split``'s Knuth-band rule applied to the CLUSTER
    REPRESENTATIVE's id instead of the member's, so every member
    inherits its cluster's split verbatim. Singletons (rep == self)
    degrade to exactly the per-document split; growth-stable for the
    same reason (a new doc joins an existing cluster → takes that
    cluster's split; existing clusters never move).

    Output: (doc_id, rep_id, split) for every input doc."""
    from . import dedup as D

    clusters = D.neardup_clusters(
        df, text_col, id_col, threshold=threshold, method="minhash"
    )
    band = scramble("rep_id") % 100
    return clusters.select(
        "doc_id",
        "rep_id",
        F.when(band < test_pct, F.lit("test"))
        .when(band < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def scramble_sql(col: str) -> str:
    """The DuckDB replay of ``scramble`` (the 16-bit split multiply,
    verbatim) — single-sourced so oracles can't drift from the engine."""
    return (
        f"((((({col} % {_MOD}) // 65536) * {_KNUTH} % 65536) * 65536"
        f" + (({col} % {_MOD}) % 65536) * {_KNUTH}) % {_MOD})"
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 1,
    n_buckets: int = 64,
    group_col: str | None = None,
) -> DataFrame:
    """Weight-proportional sampling without an RNG: systematic PPS
    (probability-proportional-to-size, Madow 1949) over the cumulative
    integer-weight axis — the curation counterpart of DSIR ("sample
    documents ∝ quality score").

    Rows are laid on [0, W) in deterministic Knuth-scrambled id order
    (each row owns the interval [cum_before, cum_before + w)); k
    equally-spaced thresholds u + j·(W div k), j = 0..k−1, pick the rows
    whose interval they land in. Exactly k hits total (Σ n_hits == k),
    inclusion probability k·wᵢ/W for wᵢ ≤ W/k (over the scramble's
    pseudo-random orderings), and rows with wᵢ > W/k are
    certainty-included with multiplicity n_hits ≈ wᵢ/(W/k) — the
    classic PPS systematic estimator, here with a deterministic start
    u = (seed·KNUTH) mod step so reruns and engines agree bit for bit.

    Everything is BIGINT: weights must be non-negative integers (use
    micro-units for fractional scores; zero-weight rows own an empty
    interval and are never selected), the threshold count below x is
    f(x) = least(k, (x − u + step − 1) div step) — the argument is
    provably ≥ 0, so Spark's truncating div and DuckDB's flooring //
    agree — and n_hits = f(hi) − f(lo).

    Scale shape: the same two-phase bucketed cumulative sum as
    ``token_budget_sample`` (64 scramble-range buckets roll up map-side;
    the per-bucket offset window runs over 64 rows; per-bucket cumsum
    windows give buckets × cores parallelism — no single global sort).
    Degenerate guard: W < k makes step = 0; those rows are dropped
    (empty result) rather than dividing by zero, mirrored in the oracle.

    ``group_col``: STRATIFIED variant — run the whole scheme
    independently per stratum (its own W, step and thresholds), so each
    stratum yields exactly k hits ∝ its own weights (the per-language /
    per-source curation mix); the ungrouped form is the same code over
    one constant stratum. Returns (group_col?, id_col, weight, n_hits)
    for selected rows, n_hits ≥ 1.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    grp = group_col if group_col is not None else "_grp"
    bucket = (scramble(id_col) / F.lit(_MOD // n_buckets)).cast("int")
    base = df if group_col is not None else df.withColumn("_grp", F.lit(0))
    rows = base.select(
        F.col(grp),
        F.col(id_col),
        bucket.alias("_bkt"),
        F.greatest(F.coalesce(F.col(weight_col), F.lit(0)), F.lit(0))
        .cast("long")
        .alias("weight"),
    )
    per_bucket = rows.groupBy(grp, "_bkt").agg(F.sum("weight").alias("_bw"))
    wb = Window.partitionBy(grp).orderBy("_bkt")
    offsets = (
        per_bucket.withColumn(
            "_offset",
            F.coalesce(
                F.sum("_bw").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .withColumn(
            "_total",
            F.sum("_bw").over(
                wb.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .select(grp, "_bkt", "_offset", "_total")
    )
    w = Window.partitionBy(grp, "_bkt").orderBy(
        scramble(id_col).asc(), F.col(id_col).asc()
    )
    step = F.expr(f"_total div {k}")
    u = F.expr(f"CAST({(seed * _KNUTH) % (1 << 62)} AS BIGINT) % _step")
    hi_cum = F.col("_offset") + F.sum("weight").over(w)
    lo_cum = hi_cum - F.col("weight")
    scored = (
        rows.join(F.broadcast(offsets), [grp, "_bkt"])
        .filter(step > 0)
        .withColumn("_step", step)
        .withColumn("_u", u)
        .withColumn("_hi", hi_cum)
        .withColumn("_lo", lo_cum)
        .withColumn(
            "_f_hi",
            F.least(
                F.lit(k).cast("long"),
                F.expr("(_hi - _u + _step - 1) div _step"),
            ),
        )
        .withColumn(
            "_f_lo",
            F.least(
                F.lit(k).cast("long"),
                F.expr("(_lo - _u + _step - 1) div _step"),
            ),
        )
        .withColumn("n_hits", (F.col("_f_hi") - F.col("_f_lo")).cast("long"))
    )
    out_cols = ([grp] if group_col is not None else []) + [
        id_col,
        "weight",
        "n_hits",
    ]
    return scored.filter(F.col("n_hits") >= 1).select(*out_cols)


def weighted_sample_oracle_sql(
    table_sql: str,
    weight_sql: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 1,
    group_col: str | None = None,
) -> str:
    """DuckDB replay of ``weighted_sample``: the engine's bucketed
    two-phase cumsum collapses to ONE window here because the bucket is
    the scramble's high bits — ordering by (bucket, scramble, id) IS
    ordering by (scramble, id) — and (scr, id) is unique, so the RANGE
    default frame equals the engine's ROWS cumsum. Same integer
    step/u/f(x) arithmetic; ``weight_sql`` must produce a non-negative
    BIGINT (coalesce/greatest applied here, mirroring the engine)."""
    u_num = (seed * _KNUTH) % (1 << 62)
    f_hi = f"least({k}, (hi - u + step - 1) // step)"
    f_lo = f"least({k}, (lo - u + step - 1) // step)"
    gsel = f"{group_col}, " if group_col else ""
    gpart = f"PARTITION BY {group_col}" if group_col else ""
    return f"""
WITH wrows AS MATERIALIZED (
  SELECT {gsel}{id_col} AS id,
         greatest(coalesce({weight_sql}, 0), 0) AS weight,
         {scramble_sql("id")} AS scr
  FROM {table_sql}
),
cum AS MATERIALIZED (
  SELECT {gsel}id, weight,
         sum(weight) OVER ({gpart} ORDER BY scr, id) AS hi,
         sum(weight) OVER ({gpart}) AS total
  FROM wrows
),
thr AS MATERIALIZED (
  SELECT {gsel}id, weight, hi, hi - weight AS lo,
         total // {k} AS step,
         CAST({u_num} AS BIGINT) % (total // {k}) AS u
  FROM cum WHERE total // {k} > 0
)
SELECT {gsel}CAST(id AS BIGINT) AS {id_col},
       CAST(weight AS BIGINT) AS weight,
       CAST({f_hi} - {f_lo} AS BIGINT) AS n_hits
FROM thr
WHERE {f_hi} - {f_lo} >= 1
"""
