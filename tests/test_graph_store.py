"""Persisted co-purchase graph store (operators/graph_store.py): the
ledger (first-writer-owns) dedup-across-batches law and its
consequences — merged partials == rebuilt distinct edge set, in-order
incremental appends == the one-pass min-batch build, re-appends are
idempotent, degrees are additive over owned partials, and graph queries
answered off the store match their rebuild twins bit for bit (which is
what lets the re-pointed part_* queries keep their oracles verbatim)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from reddit_etl_pipeline_spark.operators import graph_store as G  # noqa: E402
from reddit_etl_pipeline_spark.streaming.bounded import scratch_dir  # noqa: E402


import pytest

def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _rebuild_edges(lineitem):
    """The rebuild twin's derivation (the __spark_entry__
    _copurchase_edges shape)."""
    li = lineitem.select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("lo"), F.col("b.l_partkey").alias("hi")
        )
        .distinct()
    )


def test_store_union_equals_rebuild(spark, lineitem):
    """Union of owned partials == the distinct (lo, hi) edge set of the
    full fact table — every edge once, no edge twice."""
    store = scratch_dir("gstore_")
    G.build_graph_store(lineitem, store)
    got = _rows(G.store_edges(spark, store, src="lo", dst="hi"))
    want = _rows(_rebuild_edges(lineitem))
    assert got == want and len(got) > 0
    # no edge twice even before the law-level compare collapses dups
    merged = spark.read.parquet(f"{store}/edges")
    assert merged.count() == merged.select("lo", "hi").distinct().count()


def test_inorder_appends_equal_onepass_build(spark, lineitem):
    """Appending batches in batch-id order reproduces the one-pass
    build's min-batch ownership EXACTLY — same (lo, hi, batch_id)
    rows, not just the same merged set."""
    full = scratch_dir("gstore_full_")
    inc = scratch_dir("gstore_inc_")
    G.build_graph_store(lineitem, full)
    for b in range(G.N_BATCHES):
        G.append_batch(
            lineitem.filter(F.col("l_orderkey") % G.N_BATCHES == b), inc, b
        )
    cols = ["lo", "hi", "batch_id"]
    assert _rows(spark.read.parquet(f"{inc}/edges").select(cols)) == _rows(
        spark.read.parquet(f"{full}/edges").select(cols)
    )
    assert _rows(spark.read.parquet(f"{inc}/degrees")) == _rows(
        spark.read.parquet(f"{full}/degrees")
    )


@pytest.mark.slow
def test_out_of_order_append_same_membership(spark, lineitem):
    """Reversed arrival order moves OWNERSHIP (partition placement) but
    never MEMBERSHIP: the merged edge set and summed degrees are
    identical — and queries only ever read the merged set."""
    fwd = scratch_dir("gstore_fwd_")
    rev = scratch_dir("gstore_rev_")
    for b in range(G.N_BATCHES):
        G.append_batch(
            lineitem.filter(F.col("l_orderkey") % G.N_BATCHES == b), fwd, b
        )
    for b in reversed(range(G.N_BATCHES)):
        G.append_batch(
            lineitem.filter(F.col("l_orderkey") % G.N_BATCHES == b), rev, b
        )
    assert _rows(G.store_edges(spark, fwd)) == _rows(G.store_edges(spark, rev))
    assert _rows(G.store_degrees(spark, fwd)) == _rows(
        G.store_degrees(spark, rev)
    )


def test_reappend_is_idempotent(spark, lineitem):
    """Re-running one batch's append (retry/backfill) replaces only its
    own partition: edge and degree relations unchanged."""
    store = scratch_dir("gstore_idem_")
    G.build_graph_store(lineitem, store)
    before_e = _rows(spark.read.parquet(f"{store}/edges"))
    before_d = _rows(spark.read.parquet(f"{store}/degrees"))
    G.append_batch(
        lineitem.filter(F.col("l_orderkey") % G.N_BATCHES == 3), store, 3
    )
    assert _rows(spark.read.parquet(f"{store}/edges")) == before_e
    assert _rows(spark.read.parquet(f"{store}/degrees")) == before_d


def test_append_raises_on_foreign_partial(spark, lineitem):
    """A foreign partial in the edge ledger must RAISE, never be read as
    'nothing owned yet': that would write this batch as the owner of
    every one of its edges, silently duplicating any the store holds.
    Only a missing or still-empty ledger is the first append."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    store = scratch_dir("gstore_foreign_")
    os.makedirs(f"{store}/edges/batch_id=0")
    pq.write_table(
        pa.table({"a": [1, 2], "b": [3, 4]}),
        f"{store}/edges/batch_id=0/part-0.parquet",
    )
    with pytest.raises(AnalysisException):
        G.append_batch(
            lineitem.filter(F.col("l_orderkey") % G.N_BATCHES == 1), store, 1
        )
    assert not os.path.exists(f"{store}/edges/batch_id=1")


def test_store_degrees_equal_direct(spark, lineitem):
    """Summed per-batch degree partials == degrees computed directly
    over the distinct merged graph (the additive-degrees law)."""
    store = scratch_dir("gstore_deg_")
    G.build_graph_store(lineitem, store)
    direct = (
        _rebuild_edges(lineitem)
        .select(F.explode(F.array("lo", "hi")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    assert _rows(G.store_degrees(spark, store)) == _rows(direct)


def test_graph_queries_off_store_match_rebuild(spark, lineitem):
    """The oracle-sharing equality: k-core and triangle counts answered
    from the store (assume_normalized fast path, store degrees) ==
    the rebuild twins over raw edges."""
    from reddit_etl_pipeline_spark.operators.graph import (
        kcore_members,
        triangle_counts,
    )

    store = scratch_dir("gstore_q_")
    G.build_graph_store(lineitem, store)
    se = G.store_edges(spark, store)
    raw = _rebuild_edges(lineitem)
    got_k = _rows(kcore_members(se, k=12, assume_normalized=True))
    want_k = _rows(kcore_members(raw, src="lo", dst="hi", k=12))
    assert got_k == want_k and len(got_k) > 0
    got_t = _rows(
        triangle_counts(
            se,
            assume_normalized=True,
            degrees=G.store_degrees(spark, store),
        )
    )
    want_t = _rows(triangle_counts(raw, src="lo", dst="hi"))
    assert got_t == want_t and len(got_t) > 0
