"""connected_components (operators/dedup.py) convergence behavior."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reddit_etl_pipeline_spark.operators.dedup import connected_components  # noqa: E402


def _path_graph(spark, n):
    # 0-1-2-...-n: diameter n, needs ~n/2 min-label rounds
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a bigint, doc_b bigint"
    )


def test_cc_converges_on_path_graph(spark):
    comp = connected_components(_path_graph(spark, 6)).collect()
    assert all(r.component == 0 for r in comp)
    assert len(comp) == 7


def test_cc_raises_instead_of_returning_partial_labels(spark):
    # diameter 12 cannot converge in 2 propagation steps (one fused
    # round); silent partial labels would split one component into
    # several — must raise, reporting the steps actually executed
    with pytest.raises(
        RuntimeError, match=r"did not converge after 2 propagation steps \(1 rounds of 2;"
    ):
        connected_components(_path_graph(spark, 12), max_iter=2)


def test_cc_two_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_queries_leave_no_cached_tables(spark, documents):
    """Cache hygiene: jaccard_pairs / minhash pipelines must not leave
    entries in the session CacheManager after executing (long-lived
    sessions looping over corpora would accrete them)."""
    from reddit_etl_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        minhash_neardup_pairs,
    )

    spark.catalog.clearCache()
    jaccard_pairs(documents, threshold=0.9).count()
    minhash_neardup_pairs(documents, threshold=0.9).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
