"""The two perfbench workloads. Each drives the engine's public API from
one closed-loop client and checks every op's output against ground truth
its generator states.

A workload has ``cycle`` (ops that visit every input once), a warm-up of
``warmup_ops`` ops (whole cycles), ``nominal_op_s`` (its steady mean op
time on a 4-core host, which fixes how many ops a run times),
``generate`` (seeded inputs, no Spark) and ``setup`` (inputs on disk and
pre-seeding), ``prepare(i)`` (untimed per-op input), ``op(i)`` (the timed
call, which consumes its result), ``layer(i)`` (the layer that owns an
op's untagged jobs in a traced run), ``check(i, result)`` (untimed;
returns an error string or None), ``items(i)`` (input items the op
processes) and ``stored()`` (what it leaves on disk, and how many input
items that holds).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

from gen import BASE_EPOCH, DailyGen, ShardGen, StreamGen, input_digest, write_parquet


def _date(day: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(BASE_EPOCH + day * 86400, dt.timezone.utc)


def rows_digest(rows) -> str:
    """Order-independent digest of collected Rows; floats rounded to 6
    places so summation order cannot change it."""

    def norm(v):
        return round(v, 6) if isinstance(v, float) else v

    keys = sorted(repr(tuple(norm(v) for v in r)) for r in rows)
    return hashlib.sha256("\n".join(keys).encode()).hexdigest()


class DailyCycle:
    name = "daily_cycle"
    cycle = 1  # ops per input cycle: each op is a new day
    warmup_ops = 3
    nominal_op_s = 3.3  # steady op time on a 4-core host; sets the timed op count

    def __init__(self, spark, seed: int, root: str):
        self.spark, self.seed, self.root = spark, seed, root
        self.gen = DailyGen(seed)
        self.lake, self.wh = f"{root}/lake", f"{root}/warehouse"
        self._preseed = None
        self._posts: list[dict] = []

    def generate(self) -> str:
        self._preseed = self.gen.preseed()
        return input_digest([self._preseed, self.gen.day(1)])

    def setup(self) -> None:
        from reddit_etl_pipeline_spark.functions.transforms import transform_posts

        raw_path = f"{self.root}/preseed_raw.parquet"
        write_parquet(self._preseed, raw_path)
        raw = self.spark.read.parquet(raw_path)
        staged = transform_posts(raw, extraction_at=_date(0).strftime("%Y-%m-%d 09:00:00"))
        staged.write.mode("overwrite").parquet(self.wh)

    def prepare(self, i: int) -> None:
        self._posts = self.gen.day(i + 1)

    def layer(self, i: int) -> str:
        return "plans.pipeline"

    def op(self, i: int):
        from reddit_etl_pipeline_spark.plans.pipeline import run_daily_batch

        day = _date(i + 1)
        posts = self._posts
        audits = run_daily_batch(
            self.spark,
            lambda: posts,
            self.lake,
            self.wh,
            batch_date=day.strftime("%Y%m%d"),
            extraction_at=day.strftime("%Y-%m-%d 09:00:00"),
        )
        return audits, self.spark.table("reddit_summary").collect()

    def check(self, i: int, result) -> str | None:
        audits, summary = result
        want = self.gen.distinct_ids_after(i + 1)
        got = audits.get("warehouse_rows")
        summed = sum(r["post_count"] for r in summary)
        if got != want or summed != want:
            return f"day {i + 1}: warehouse_rows={got} summary_sum={summed} want={want}"
        if audits.get("batch_rows") != self.gen.spec.day_posts:
            return f"day {i + 1}: batch_rows={audits.get('batch_rows')}"
        return None

    def items(self, i: int) -> int:
        return self.gen.spec.day_posts

    def stored(self) -> tuple[list[str], int]:
        """Paths left on disk and the input items they hold."""
        n = self.gen.spec.warehouse_rows + self.warmup_ops * self.gen.spec.day_posts
        return [self.lake, self.wh], n

    def properties(self) -> dict:
        return self.gen.properties(self._preseed)


class CurateStream:
    """Corpus curation and the streaming twin of an hourly rollup, in one
    closed loop. Even ops curate the same seeded shard with
    ``curate_corpus`` and the ``curate`` CLI defaults (text functions, PII
    scrub, the ``operators.dedup`` connected-components loop); odd ops
    replay the seeded events through ``streamed_hourly_counts`` (the
    bounded-stream stager and the trigger loop, nearly all trigger
    floor). Every visit does the same work, so a shard's report and the
    twin's rows must not change between visits."""

    name = "curate_stream"
    cycle = 2
    warmup_ops = 4  # curation op time still falls on the second visit (NOTES.md)
    nominal_op_s = 3.9

    def __init__(self, spark, seed: int, root: str):
        self.spark, self.seed, self.root = spark, seed, root
        self.path, self.out = f"{root}/shard.parquet", f"{root}/curated"
        self.sf = f"{root}/sf"
        self.shard: ShardGen | None = None
        self.stream = StreamGen(seed)
        self.events = None
        self.report: dict | None = None
        self.digest: str | None = None

    def generate(self) -> str:
        self.shard = ShardGen(self.seed)
        self.events = self.stream.events()
        return input_digest([self.shard.table(), self.events])

    def setup(self) -> None:
        write_parquet(self.shard.table(), self.path)
        os.makedirs(self.sf)
        write_parquet(self.events, f"{self.sf}/events.parquet")

    def prepare(self, i: int) -> None:
        pass

    def layer(self, i: int) -> str:
        return "plans.curation" if i % 2 == 0 else "streaming.stream"

    def op(self, i: int):
        if i % 2 == 0:
            from reddit_etl_pipeline_spark.plans.curation import curate_corpus

            return curate_corpus(self.spark, self.path, self.out)
        from reddit_etl_pipeline_spark.streaming.stream import streamed_hourly_counts

        return streamed_hourly_counts(self.spark, self.sf).collect()

    def check(self, i: int, result) -> str | None:
        if i % 2:
            d = rows_digest(result)
            self.digest = self.digest or d
            if d != self.digest:
                return f"hourly counts: digest {d[:12]} differs from warm-up {self.digest[:12]}"
            return None
        g = self.shard
        if result.get("after_exact_dedup") != g.expected_exact:
            return f"after_exact_dedup={result.get('after_exact_dedup')} want={g.expected_exact}"
        if result.get("after_neardup") != g.expected_neardup:
            return f"after_neardup={result.get('after_neardup')} want={g.expected_neardup}"
        self.report = self.report or result
        if result != self.report:
            return f"report {result} differs from first visit {self.report}"
        return None

    def check_batch(self) -> list[str]:
        """The twin's warm-up digest against the same rollup run as a batch
        query over the events table (untimed, once per run)."""
        from reddit_etl_pipeline_spark.plans.star import load
        from reddit_etl_pipeline_spark.streaming.stream import windowed_event_counts

        d = rows_digest(windowed_event_counts(load(self.spark, self.sf, "events")).collect())
        return [] if d == self.digest else ["hourly counts: warm-up digest differs from batch windowed_event_counts"]

    def items(self, i: int) -> int:
        return len(self.shard.texts) if i % 2 == 0 else self.events.num_rows

    def stored(self) -> tuple[list[str], int]:
        from reddit_etl_pipeline_spark.streaming import bounded

        return [self.out, bounded._SCRATCH_ROOT], self.items(0) + self.items(1)

    def properties(self) -> dict:
        return {**self.shard.properties(), **self.stream.properties(self.events)}


WORKLOADS = {w.name: w for w in (DailyCycle, CurateStream)}
