"""connected_components (operators/dedup.py) convergence behavior, on
both paths: the one-task numpy steps below ``CC_ONE_TASK_BYTES`` and
the distributed ``fixpoint.iterate`` loop (forced by patching the bound
to 0). Both must return identical rows and raise identically."""

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reddit_etl_pipeline_spark.operators import dedup  # noqa: E402
from reddit_etl_pipeline_spark.operators.dedup import connected_components  # noqa: E402


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")


def _path_graph(spark, n):
    # 0-1-2-...-n: diameter n, needs n min-label steps
    return _pairs(spark, [(i, i + 1) for i in range(n)])


def _on_path(monkeypatch, one_task, run):
    """``run()`` on the chosen path, asserting that path was taken."""
    calls = []
    real = dedup._cc_one_task

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    with monkeypatch.context() as m:
        m.setattr(dedup, "_cc_one_task", spy)
        if not one_task:
            m.setattr(dedup, "CC_ONE_TASK_BYTES", 0)
        out = run()
    assert len(calls) == (1 if one_task else 0)
    return out


def _both_paths(monkeypatch, run):
    """Sorted (node, component) rows of ``run()`` on both paths, which
    must be identical."""
    rows = [
        sorted(tuple(r) for r in _on_path(monkeypatch, one, run).collect())
        for one in (True, False)
    ]
    assert rows[0] == rows[1]
    return rows[0]


def test_cc_converges_on_path_graph(spark, monkeypatch):
    got = _both_paths(monkeypatch, lambda: connected_components(_path_graph(spark, 6)))
    assert got == [(i, 0) for i in range(7)]


def test_cc_raises_instead_of_returning_partial_labels(spark, monkeypatch):
    # diameter 12 cannot converge in 2 propagation steps; silent partial
    # labels would split one component into several — must raise,
    # reporting the steps actually executed, identically on both paths
    for one_task in (True, False):
        with pytest.raises(
            RuntimeError, match=r"did not converge after 2 propagation steps"
        ) as e:
            _on_path(
                monkeypatch,
                one_task,
                lambda: connected_components(_path_graph(spark, 12), max_iter=2),
            )
        assert str(e.value) == (
            "connected_components did not converge after 2 propagation "
            "steps (11 labels still changing); raise max_iter"
        )


def test_cc_two_components(spark, monkeypatch):
    pairs = _pairs(spark, [(1, 2), (2, 3), (10, 11)])
    got = _both_paths(monkeypatch, lambda: connected_components(pairs))
    assert got == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]


def test_cc_empty_edge_set(spark, monkeypatch):
    pairs = _pairs(spark, [])
    assert _both_paths(monkeypatch, lambda: connected_components(pairs)) == []


def test_cc_single_edge(spark, monkeypatch):
    pairs = _pairs(spark, [(5, 3)])
    got = _both_paths(monkeypatch, lambda: connected_components(pairs))
    assert got == [(3, 3), (5, 3)]


def test_cc_duplicate_and_reversed_pairs(spark, monkeypatch):
    # without assume_distinct the symmetrized union is de-duplicated
    pairs = _pairs(spark, [(1, 2), (2, 1), (1, 2), (4, 3), (3, 4), (2, 2)])
    got = _both_paths(monkeypatch, lambda: connected_components(pairs))
    assert got == [(1, 1), (2, 1), (3, 3), (4, 3)]


def _union_find(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent)


def test_cc_random_multi_component_graph(spark, monkeypatch):
    rng = random.Random(7)
    # 6 groups of 20 ids; random intra-group edges leave some groups
    # split, so the components are a mix of sizes
    edges = {
        (g * 100 + rng.randrange(20), g * 100 + rng.randrange(20))
        for g in range(6)
        for _ in range(18)
    }
    edges = [(a, b) for a, b in edges if a != b]
    pairs = _pairs(spark, edges)
    got = _both_paths(monkeypatch, lambda: connected_components(pairs))
    assert got == _union_find(edges)
    assert len({c for _, c in got}) > 6


def test_cc_pre_normalized_store_read(spark, monkeypatch, tmp_path):
    """A parquet-backed distinct lo<hi edge set (no distinct, no
    checkpoint before the path decision): both paths agree."""
    edges = [(0, 1), (1, 2), (7, 9), (2, 3)]
    _pairs(spark, edges).repartition(2).write.parquet(str(tmp_path / "e"))
    pairs = spark.read.parquet(str(tmp_path / "e"))
    got = _both_paths(
        monkeypatch, lambda: connected_components(pairs, pre_normalized=True)
    )
    assert got == [(0, 0), (1, 0), (2, 0), (3, 0), (7, 7), (9, 7)]


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
