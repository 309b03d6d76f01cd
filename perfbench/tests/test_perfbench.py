"""Unit tests of the benchmark's own rules; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


# ------------------------------------------------------------ attribution


def _job(i, *layer_names, other=()):
    return layers.Job(i, [layers.TAG_PREFIX + n for n in layer_names] + list(other), [])


def test_job_counts_toward_its_layer_tag():
    jobs = [_job(1, "sources.lake"), _job(2, "operators.upsert"), _job(3, "sources.lake")]
    got = layers.attribute(jobs, fallback="plans.pipeline")
    assert got == {"sources.lake": [1, 3], "operators.upsert": [2]}


def test_untagged_job_counts_toward_fallback():
    # a stream thread's own job carries only foreign tags (or none)
    jobs = [_job(5, other=["spark-stream-run"]), _job(6), _job(7, "operators.dedup")]
    got = layers.attribute(jobs, fallback="streaming.stream")
    assert got == {"streaming.stream": [5, 6], "operators.dedup": [7]}


def test_doubly_tagged_job_breaks_the_sum_check():
    jobs = [_job(1, "functions.text", "functions.pii"), _job(2, "functions.pii")]
    got = layers.attribute(jobs, fallback="plans.curation")
    assert sum(len(v) for v in got.values()) == 3 != len(jobs)


def test_most_recently_entered_layer_owns_later_jobs():
    """A lazy builder returns before its plan runs: the caller's next
    action is tagged with the builder's layer, because entry is never
    undone on exit."""

    class FakeSC:
        def __init__(self):
            self.tags = set()

        def clearJobTags(self):
            self.tags = set()

        def addJobTag(self, t):
            self.tags.add(t)

    tracer = layers.Tracer.__new__(layers.Tracer)
    tracer.sc = FakeSC()
    tracer._lock = __import__("threading").Lock()
    tracer.op = layers.OpTrace()
    tracer._current = None
    lazy = tracer._wrap("operators.upsert", lambda df: df)
    tracer.enter("plans.pipeline")
    lazy("plan")
    assert tracer.sc.tags == {layers.TAG_PREFIX + "operators.upsert"}
    assert tracer.op.calls == {"plans.pipeline": 1, "operators.upsert": 1}
    assert tracer._current == "operators.upsert"


def test_summary_reports_every_layer_metric():
    op = layers.OpTrace()
    op.calls["operators.dedup"] = 2
    op.jobs["operators.dedup"] = 9
    op.wall_s["operators.dedup"] = 3.0
    op.task_s["operators.dedup"] = 4.0
    out = layers.summarize([op], cores=4, session_s=5.0)
    for layer in layers.LAYERS:
        for suffix in layers.SUFFIXES:
            assert f"{layer}.{suffix}" in out
    assert out["operators.dedup.jobs_per_call"] == 4.5
    assert out["operators.dedup.driver_gap_s"] == pytest.approx(2.0)
    assert out["session.wall_s"] == 5.0


# ------------------------------------------------------------- percentile


def test_percentile_interpolates_inclusively():
    vals = [4.0, 1.0, 3.0, 2.0]
    assert run.percentile(vals, 0.0) == 1.0
    assert run.percentile(vals, 1.0) == 4.0
    assert run.percentile(vals, 0.5) == 2.5
    assert run.percentile(vals, 0.75) == pytest.approx(3.25)
    assert run.percentile([7.0], 0.75) == 7.0


def test_tail_rule_keeps_ten_ops_beyond():
    assert run.ops_needed(0.75) == 40
    assert run.ops_needed(0.9) == 100
    assert run.tail_rule_percentile(40) == pytest.approx(0.75)
    assert run.tail_rule_percentile(10) is None
    n = 57
    q = run.tail_rule_percentile(n)
    assert sum(1 for k in range(n) if k > q * (n - 1)) >= 10


def test_timed_op_count_depends_on_arguments_only():
    assert run.timed_ops(7, 3.3, 1, traced=False) == 2
    assert run.timed_ops(7, 3.9, 2, traced=False) == 2  # one whole cycle
    assert run.timed_ops(7, 3.9, 2, traced=True) == 4  # a traced and an untraced cycle
    assert run.timed_ops(20, 4.0, 1, traced=False) == 5
    assert run.timed_ops(20, 2.0, 3, traced=False) == 12  # 10 ops, rounded up to whole cycles
    assert run.timed_ops(1, 4.0, 1, traced=False) == 2  # never fewer than two ops


def test_traced_cycles_pair_up_and_alternate_order():
    even = [run.traced_cycle(k, seed=2) for k in range(8)]
    odd = [run.traced_cycle(k, seed=3) for k in range(8)]
    assert even == [True, False, False, True] * 2
    assert odd == [False, True, True, False] * 2
    for pattern in (even, odd):
        assert pattern[:2].count(True) == 1  # two cycles: one of each


# ------------------------------------------------------------- generators


@pytest.mark.parametrize("seed", [1, 2])
def test_same_seed_gives_byte_identical_inputs(seed):
    small_daily = gen.DailySpec(warehouse_rows=500, day_posts=50)
    a, b = gen.DailyGen(seed, small_daily), gen.DailyGen(seed, small_daily)
    assert gen.input_digest(a.preseed()) == gen.input_digest(b.preseed())
    assert gen.input_digest(a.day(3)) == gen.input_digest(b.day(3))
    spec = gen.ShardSpec(docs=200, chains=4, chain_depth=8)
    assert gen.input_digest(gen.ShardGen(seed, spec).table()) == gen.input_digest(
        gen.ShardGen(seed, spec).table()
    )
    sspec = gen.StreamSpec(events=500)
    assert gen.input_digest(gen.StreamGen(seed, sspec).events()) == gen.input_digest(
        gen.StreamGen(seed, sspec).events()
    )


def test_different_seeds_differ():
    spec = gen.DailySpec(warehouse_rows=500, day_posts=50)
    assert gen.input_digest(gen.DailyGen(1, spec).day(1)) != gen.input_digest(
        gen.DailyGen(2, spec).day(1)
    )


def test_daily_ids_repeat_share_and_distinct_count():
    spec = gen.DailySpec(warehouse_rows=1_000, day_posts=200, repeat_share=0.3)
    g = gen.DailyGen(7, spec)
    seen = set(g.preseed()["id"].to_pylist())
    for k in (1, 2, 3):
        ids = [p["id"] for p in g.day(k)]
        assert len(set(ids)) == len(ids)  # no duplicate within a day
        assert sum(i in seen for i in ids) == 60
        seen.update(ids)
        assert len(seen) == g.distinct_ids_after(k)


def test_shard_ground_truth():
    spec = gen.ShardSpec(docs=300, chains=5, chain_depth=9, doc_tokens=60)
    g = gen.ShardGen(3, spec)
    assert len(g.texts) == 300
    assert g.expected_exact == len({gen.normalize_text(t) for t in g.texts})
    assert g.expected_neardup == g.expected_exact - 5 * 8
    assert g.properties()["exact_dup_share"] == pytest.approx(0.15, abs=0.01)


def test_posts_follow_fixture_column_constraints():
    """FIXTURES.md: titles 5-120 chars, selftext 0-5,000 chars with
    embedded newlines, about ten subreddits skewed toward one, 7-char
    base-36 ids."""
    g = gen.DailyGen(5, gen.DailySpec(warehouse_rows=3_000, day_posts=100))
    t = g.preseed()
    titles = t["title"].to_pylist()
    bodies = [b or "" for b in t["selftext"].to_pylist()]
    assert 5 <= min(map(len, titles)) and max(map(len, titles)) <= 120
    assert max(map(len, bodies)) <= 5_000 and sum(len(b) > 2_000 for b in bodies) > 0
    assert "" in bodies and any("\n" in b for b in bodies)
    assert any("\u2019" in s or "\U0001F680" in s or '"' in s for s in titles)
    ids = t["id"].to_pylist()
    assert len(set(ids)) == len(ids) and all(len(i) == 7 and i.isalnum() for i in ids)
    p = g.properties(t)
    assert p["subreddits"] == 10 and p["top_subreddit"] == "stocks"
    assert 0.4 < p["top_subreddit_share"] < 0.6


def test_repeated_id_keeps_its_post_with_new_counts():
    g = gen.DailyGen(5, gen.DailySpec(warehouse_rows=1_000, day_posts=200))
    first = {r["id"]: r for r in g.preseed().to_pylist()}
    again = [r for r in g.day(1) if r["id"] in first]
    assert len(again) == 60
    for r in again:
        for col in ("title", "selftext", "author", "subreddit", "created_utc", "url"):
            assert r[col] == first[r["id"]][col]
    assert sum(r["score"] != first[r["id"]]["score"] for r in again) > 30


def test_chain_neighbours_clear_the_threshold_and_ends_do_not():
    t = gen.ShardSpec().doc_tokens
    jac = [(t - k) / (t + k) for k in range(1, 6)]
    assert jac[2] >= 0.9 > jac[3]  # members up to 3 apart are linked
