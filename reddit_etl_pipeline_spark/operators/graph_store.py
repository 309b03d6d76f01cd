"""Persisted co-purchase graph store: per-ingest-batch distinct-edge
partials (plus degree partials) written once, read by every graph
query — never re-deriving the edge set from the fact table per query.

Why this store exists (the round-9 measured scale-killer): the part
co-purchase graph is built by a lineitem self-join on l_orderkey +
a global edge distinct. At 100× (~120 M edges) that build is a ~900 s
floor re-paid inside EVERY graph query — triangles, k-core, clustering
coefficients, LPA, BFS, modularity, link prediction, CC — which is why
halving the DOULION sampling rate only moved link prediction 1240→933 s
(the sampling lever saturates against the shared build). The fix is the
same discipline the sketch store and ANN store already prove: pay the
derivation ONCE at ingest as idempotent per-batch partials, and let
queries read a corpus-cardinality relation instead.

THE DEDUP-ACROSS-BATCHES LAW (this store's merge law, like register
MAX / counter SUM / per-row assignment): ingest batches are keyed by
``l_orderkey % N_BATCHES`` (``sources/lake``'s batch key — each
order's whole co-purchase clique lands in one batch, the same slicing
the streaming CC fold uses), so every co-purchase edge instance belongs
to exactly one order and hence one batch — but the same (lo, hi) PAIR
can arise from orders in several batches, and an edge seen in two
batches must count once. Ownership is by FIRST WRITER: ``append_batch``
anti-joins the batch's candidate edges against every OTHER batch's
stored partial (the chunk-store ledger pattern) and writes only the
genuinely new edges under its own ``batch_id`` partition. Consequences,
each pinned in tests/test_graph_store.py:

- **union == rebuild**: the union of owned partials is exactly the
  distinct (lo, hi) edge set of the full fact table — every edge
  appears (its first batch wrote it) and appears once (later batches
  anti-joined it away). Queries over ``store_edges`` are therefore
  bit-identical to the rebuild twins and share their DuckDB oracles
  verbatim.
- **append order only moves ownership, never membership**: appending
  in batch-id order makes ownership equal the one-pass build's
  ``min(batch_id)`` rule; any other arrival order yields different
  partition placement but the identical merged edge set — and every
  query reads only the merged set.
- **idempotent re-append**: re-running batch b anti-joins against
  partitions ≠ b, so it recomputes exactly b's owned edges and the
  dynamic partition overwrite replaces only b's files (the
  retry/backfill case).
- **degrees are additive over owned partials**: because each edge is
  stored exactly once, per-batch degree partials (node, deg over the
  batch's OWNED edges) SUM to the degree of the merged simple graph —
  no global re-aggregation of edges needed at query time.

100 TB shape: an ingest batch's append touches only that batch's
lineitem slice (self-join within the slice — orders never span batches,
so no cross-batch wedges are missed) plus one anti-join against the
store's edge relation, both key equi-joins. Queries read parquet edge
partials with partition pruning available on batch_id; the store is
edge-cardinality, written once, amortized over every downstream graph
operator.

Reference parity: the reference (pandas/Redshift, 865 LoC) has no graph
surface; this is part of the beyond-reference large-scale family
(SURVEY §2 extensions), the third instance of the persisted-partials
discipline after operators/sketch_store.py and operators/ann_store.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.lake import N_BATCHES, read_index_or_none, with_batch_id, write_table

__all__ = [
    "N_BATCHES",
    "slice_edges",
    "build_graph_store",
    "append_batch",
    "store_edges",
    "store_degrees",
]

#: partial layouts, pinned on read: a store whose every partial was
#: empty (an edgeless slice) holds no file to infer a schema from
EDGE_SCHEMA = "lo bigint, hi bigint, batch_id int"
DEGREE_SCHEMA = "node bigint, deg bigint, batch_id int"


def slice_edges(
    lineitem: DataFrame,
    orderkey: str = "l_orderkey",
    partkey: str = "l_partkey",
) -> DataFrame:
    """The distinct normalized (lo, hi) co-purchase edges derivable from
    ONE lineitem slice — identical to the rebuild path's derivation
    restricted to the slice."""
    return _order_pairs(lineitem, orderkey, partkey).distinct()


def _order_pairs(
    lineitem: DataFrame, orderkey: str, partkey: str, with_batch: bool = False
) -> DataFrame:
    """(lo, hi) per order: parts co-occurring in an order are adjacent.
    Self-join on the order key with lo < hi (no self-loops, each
    unordered pair once); ``with_batch`` adds the order's batch ``b``."""
    li = lineitem.select(orderkey, partkey).distinct()
    a, b = li.alias("a"), li.alias("b")
    batch = [(F.col(f"a.{orderkey}") % N_BATCHES).alias("b")] if with_batch else []
    return a.join(
        b,
        (F.col(f"a.{orderkey}") == F.col(f"b.{orderkey}"))
        & (F.col(f"a.{partkey}") < F.col(f"b.{partkey}")),
    ).select(
        F.col(f"a.{partkey}").alias("lo"), F.col(f"b.{partkey}").alias("hi"), *batch
    )


def _write_edge_partial(owned: DataFrame, store_dir: str) -> None:
    """One owned-edge partition + its degree partial, each as one file
    per batch (edge partials are two-BIGINT rows; a 32-task write would
    scatter each batch into KB files — the sketch-store lesson)."""
    owned = owned.localCheckpoint(eager=True)
    write_table(
        owned.repartition("batch_id"),
        f"{store_dir}/edges",
        mode="overwrite",
        partition_by=["batch_id"],
    )
    deg = (
        owned.select("batch_id", F.explode(F.array("lo", "hi")).alias("node"))
        .groupBy("batch_id", "node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    write_table(
        deg.repartition("batch_id"),
        f"{store_dir}/degrees",
        mode="overwrite",
        partition_by=["batch_id"],
    )


def build_graph_store(
    lineitem: DataFrame,
    store_dir: str,
    orderkey: str = "l_orderkey",
    partkey: str = "l_partkey",
) -> None:
    """Full build in one scan: derive every batch's candidate edges at
    once and assign each distinct (lo, hi) to its MIN batch — equal, by
    the first-writer law, to appending batches in batch-id order
    (pinned in tests/test_graph_store.py)."""
    owned = (
        _order_pairs(lineitem, orderkey, partkey, with_batch=True)
        .groupBy("lo", "hi")
        .agg(F.min("b").alias("batch_id"))
    )
    _write_edge_partial(owned, store_dir)


def append_batch(
    lineitem_batch: DataFrame,
    store_dir: str,
    batch_id: int,
    orderkey: str = "l_orderkey",
    partkey: str = "l_partkey",
) -> None:
    """Incremental ingest: derive ONE batch's candidate edges, claim
    only those no OTHER batch already owns (the ledger anti-join), and
    write the owned partition + degree partial idempotently (dynamic
    overwrite replaces only this batch's files; no raw history is
    re-read)."""
    spark = lineitem_batch.sparkSession
    cand = slice_edges(lineitem_batch, orderkey, partkey)
    others = read_index_or_none(spark, f"{store_dir}/edges")
    if others is not None:  # None: first append, nothing owned yet
        cand = cand.join(
            others.filter(F.col("batch_id") != batch_id).select("lo", "hi"),
            ["lo", "hi"],
            "left_anti",
        )
    owned = with_batch_id(cand, batch_id)
    _write_edge_partial(owned, store_dir)


def store_edges(
    spark: SparkSession, store_dir: str, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """The merged edge relation (src=lo, dst=hi) — ALREADY the distinct
    normalized simple-graph edge set by the ledger law, so graph
    consumers may take their ``assume_normalized`` fast path (no
    re-distinct shuffle, no re-materialization: the parquet files ARE
    the materialization). Partition pruning on batch_id remains
    available for audits/selective rebuilds."""
    return spark.read.schema(EDGE_SCHEMA).parquet(f"{store_dir}/edges").select(
        F.col("lo").alias(src), F.col("hi").alias(dst)
    )


def store_degrees(spark: SparkSession, store_dir: str) -> DataFrame:
    """(node, deg) of the merged simple graph by SUMMING per-batch
    degree partials — valid because each edge is owned exactly once
    (the additive-degrees consequence of the ledger law). One
    map-side-combinable aggregate over node-cardinality partials; the
    edge relation is never touched."""
    return (
        spark.read.schema(DEGREE_SCHEMA)
        .parquet(f"{store_dir}/degrees")
        .groupBy("node")
        .agg(F.sum("deg").alias("deg"))
    )
