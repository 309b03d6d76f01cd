"""operators/fixpoint.py: the shared checkpointing loop of the iterative
graph operators, and those operators on an empty edge set."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from reddit_etl_pipeline_spark.operators import dedup, graph  # noqa: E402
from reddit_etl_pipeline_spark.operators.fixpoint import iterate  # noqa: E402


def _counting(step):
    calls = []

    def wrapped(state, r):
        calls.append(r)
        return step(state, r)

    return wrapped, calls


def _climb(state, _r):
    """x <- min(x + 1, 3), carrying the round-start value as x0."""
    return state.select(F.least(F.col("x") + 1, F.lit(3)).alias("x"), F.col("x").alias("x0"))


def _n_changed(state):
    return state.filter(F.col("x") != F.col("x0")).count()


def _rdd_id(df):
    return df._jdf.queryExecution().analyzed().rdd().id()


def _persisted(spark):
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_stops_at_first_zero_change_round(spark):
    step, calls = _counting(_climb)
    start = spark.createDataFrame([(0,), (1,)], "x int")
    out = iterate(start, step, 10, changed=_n_changed, stuck=AssertionError)
    # rounds 1-3 raise x to 3; round 4 changes nothing and ends the loop
    assert calls == [1, 2, 3, 4]
    assert sorted(r.x for r in out.collect()) == [3, 3]


def test_stuck_receives_rounds_run_and_last_change(spark):
    seen = []

    def stuck(rounds_run, last_changed):
        seen.append((rounds_run, last_changed))
        return RuntimeError("no fixpoint")

    step, calls = _counting(_climb)
    start = spark.createDataFrame([(0,), (2,)], "x int")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        iterate(start, step, 2, changed=_n_changed, stuck=stuck)
    # round 2 still moved the row that started at 0 (1 -> 2)
    assert calls == [1, 2]
    assert seen == [(2, 1)]


def test_fixed_rounds_run_exactly(spark):
    step, calls = _counting(lambda s, _r: s.select((F.col("id") + 1).alias("id")))
    out = iterate(spark.range(3), step, 5)
    assert calls == [1, 2, 3, 4, 5]
    assert sorted(r.id for r in out.collect()) == [5, 6, 7]


def test_only_final_checkpoint_stays_pinned(spark):
    before = _persisted(spark)
    start = spark.range(4).localCheckpoint(eager=True)
    out = iterate(start, lambda s, _r: s.select((F.col("id") * 2).alias("id")), 4)
    # the three superseded rounds are freed; the caller's input is not
    assert _persisted(spark) - before == {_rdd_id(start), _rdd_id(out)}
    assert sorted(r.id for r in start.collect()) == [0, 1, 2, 3]
    assert sorted(r.id for r in out.collect()) == [0, 16, 32, 48]


def _no_edges(spark, cols):
    return spark.createDataFrame([], f"{cols[0]} long, {cols[1]} long")


@pytest.mark.parametrize(
    "run, columns, expected",
    [
        (
            lambda s: dedup.connected_components(_no_edges(s, ("doc_a", "doc_b"))),
            ["node", "component"],
            [],
        ),
        (
            lambda s: graph.kcore_members(_no_edges(s, ("src", "dst")), k=1),
            ["node", "core_deg"],
            [],
        ),
        (
            lambda s: graph.label_propagation(_no_edges(s, ("src", "dst"))),
            ["node", "community"],
            [],
        ),
        (
            lambda s: graph.seed_distances(
                _no_edges(s, ("src", "dst")), s.createDataFrame([(7,)], "node long")
            ),
            ["node", "dist"],
            [(7, 0)],
        ),
        (
            lambda s: graph.pagerank(_no_edges(s, ("src", "dst"))),
            ["node", "rank"],
            [],
        ),
    ],
    ids=["connected_components", "kcore", "label_propagation", "bfs", "pagerank"],
)
def test_empty_edge_set(spark, run, columns, expected):
    out = run(spark)
    assert out.columns == columns
    assert [tuple(r) for r in out.collect()] == expected
