"""Per-layer attribution of Spark jobs and wall time, from outside the engine.

The traced run wraps the public functions that ``plans.pipeline``,
``plans.curation`` and ``streaming.stream`` call, at the names those
modules look them up by. Entering a wrapped function makes its layer the
*current* one:

- Wall time is partitioned by the current layer: each segment runs from
  one layer entry to the next (or to the end of the op).
- Spark jobs are tagged with the current layer of the thread that submits
  them (``SparkContext.addJobTag``; a thread started by a stream inherits
  the tags of the thread that started it). Nothing is restored on exit: a
  lazy builder's plan runs at its caller's next action, so a job counts
  toward the most recently entered layer. A job with no layer tag counts
  toward the op's fallback layer (``streaming.stream`` inside a twin).

After each op the job range the op created is read back from the live
status store (``sc._jsc.sc().statusStore()``, which works with the UI
off): per-stage ``executorRunTime``, shuffle read + write bytes and output
bytes, each stage counted once, at the first job that lists it.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

TAG_PREFIX = "perfbench."

LAYERS = [
    "session",
    "sources.reddit_api",
    "sources.lake",
    "operators.quality",
    "operators.upsert",
    "plans.pipeline",
    "plans.models",
    "plans.curation",
    "operators.dedup",
    "functions.text",
    "functions.pii",
    "streaming.bounded",
    "streaming.stream",
]
SUFFIXES = ["calls", "wall_s", "jobs", "task_s", "shuffle_bytes", "driver_gap_s"]
UNITS = {"calls": "count", "jobs": "count", "jobs_per_call": "count", "shuffle_bytes": "B", "output_bytes": "B"}
OUTPUT_BYTES_LAYERS = ["sources.lake", "operators.upsert", "streaming.bounded"]

# layer -> (module, attribute) pairs to wrap; modules are named relative to
# the engine package and resolved at install time
PATCH_POINTS: dict[str, list[tuple[str, str]]] = {
    "sources.reddit_api": [("plans.pipeline", "fetch_posts_df")],
    "sources.lake": [
        ("plans.pipeline", "write_table"),
        ("plans.pipeline", "read_table"),
        ("plans.pipeline", "with_batch_date"),
    ],
    "operators.quality": [
        ("plans.pipeline", n)
        for n in ("assert_not_null", "assert_unique", "summary_stats", "total_nulls")
    ],
    "operators.upsert": [("plans.pipeline", "upsert_anti_join")],
    "plans.pipeline": [("plans.pipeline", "run_daily_batch")],
    "plans.models": [("plans.models", "run_models")],
    "plans.curation": [("plans.curation", "curate_corpus")],
    "operators.dedup": [
        ("operators.dedup", n)
        for n in ("dedup_exact", "neardup_clusters", "neardup_canonical", "connected_components")
    ],
    "functions.text": [
        ("plans.curation", "quality_score"),
        ("plans.curation", "detect_language_df"),
    ],
    "functions.pii": [("plans.curation", "scrub_pii")],
    "streaming.bounded": [
        ("streaming.stream", n)
        for n in ("stage_sliced_stream", "stage_bounded_stream", "run_stream_to_batch")
    ],
    "streaming.stream": [
        ("streaming.stream", n)
        for n in ("streamed_hourly_counts",)
    ],
}


@dataclass
class Job:
    job_id: int
    tags: list[str]
    stage_ids: list[int]


def attribute(jobs: list[Job], fallback: str) -> dict[str, list[int]]:
    """layer -> ids of the jobs it is charged with. A job counts toward
    every layer tag it carries (so a doubly tagged job shows up as a
    double count in the sum check) and toward ``fallback`` when it carries
    none."""
    out: dict[str, list[int]] = defaultdict(list)
    for j in jobs:
        layers = [t[len(TAG_PREFIX):] for t in j.tags if t.startswith(TAG_PREFIX)]
        for layer in layers or [fallback]:
            out[layer].append(j.job_id)
    return dict(out)


@dataclass
class OpTrace:
    """What one traced op did, per layer."""

    calls: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    wall_s: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    jobs: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    task_s: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    shuffle_bytes: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    output_bytes: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    jobs_seen: int = 0


class Tracer:
    def __init__(self, spark, package):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.package = package
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self._counted_stages: set[int] = set()
        self._last_job = -1
        self.op: OpTrace | None = None
        self._current: str | None = None
        self._t_seg = 0.0

    # ------------------------------------------------------------ install
    def install(self) -> None:
        import importlib

        for layer, points in PATCH_POINTS.items():
            for mod_name, attr in points:
                mod = importlib.import_module(f"{self.package}.{mod_name}")
                orig = getattr(mod, attr)
                self._saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(layer, orig))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, orig = self._saved.pop()
            setattr(mod, attr, orig)

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.enter(layer)
            return fn(*args, **kwargs)

        return wrapper

    def enter(self, layer: str) -> None:
        now = time.perf_counter()
        with self._lock:
            op = self.op
            if op is not None:
                op.calls[layer] += 1
                if self._current is not None:
                    op.wall_s[self._current] += now - self._t_seg
                self._current, self._t_seg = layer, now
        self.sc.clearJobTags()
        self.sc.addJobTag(TAG_PREFIX + layer)

    # ---------------------------------------------------------------- ops
    def begin(self) -> None:
        """Start accounting one op. The op's own entry call (a wrapped
        public function) is what opens its first wall segment."""
        self.op = OpTrace()
        self._current = None
        self.sc.clearJobTags()
        self._last_job = self._max_job_id()  # untraced ops in between

    def end(self, fallback: str) -> OpTrace:
        now = time.perf_counter()
        with self._lock:
            op = self.op
            if self._current is not None:
                op.wall_s[self._current] += now - self._t_seg
            self.op, self._current = None, None
        self.sc.clearJobTags()
        self.jsc.listenerBus().waitUntilEmpty()
        first = self._last_job + 1
        self._last_job = self._max_job_id()
        jobs = [j for j in map(self._job, range(first, self._last_job + 1)) if j]
        op.jobs_seen = self._last_job + 1 - first
        for j in jobs:  # in id order, so a reused stage is charged where it ran
            layers = list(attribute([j], fallback))
            for layer in layers:
                op.jobs[layer] += 1
            for sid in j.stage_ids:
                if sid in self._counted_stages:
                    continue
                self._counted_stages.add(sid)
                st = self._stage(sid)
                if st is None:
                    continue
                op.task_s[layers[0]] += st.executorRunTime() / 1000.0
                op.shuffle_bytes[layers[0]] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                op.output_bytes[layers[0]] += st.outputBytes()
        return op

    # ------------------------------------------------------ status store
    def _max_job_id(self) -> int:
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = self.jsc.statusStore().jobsList(None)  # newest first
        n = jobs.size()
        return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId()) if n else -1

    def _job(self, job_id: int) -> Job | None:
        try:
            jd = self.jsc.statusStore().job(job_id)
        except Exception:  # noqa: BLE001 - evicted or never posted
            return None
        tags = jd.jobTags()
        stages = jd.stageIds()
        return Job(
            job_id,
            [tags.apply(i) for i in range(tags.size())],
            [stages.apply(i) for i in range(stages.size())],
        )

    def _stage(self, stage_id: int):
        try:
            return self.jsc.statusStore().lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - a stage the store never saw
            return None


def unit(metric: str) -> str:
    """Unit of a per-layer metric, from its suffix (times are seconds)."""
    return UNITS.get(metric.rsplit(".", 1)[1], "s")


def summarize(ops: list[OpTrace], cores: int, session_s: float) -> dict:
    """Per-op means of every layer metric over the traced ops."""
    n = max(len(ops), 1)
    out: dict[str, float] = {}
    for layer in LAYERS:
        calls = sum(o.calls.get(layer, 0) for o in ops) / n
        wall = sum(o.wall_s.get(layer, 0.0) for o in ops) / n
        jobs = sum(o.jobs.get(layer, 0) for o in ops) / n
        task = sum(o.task_s.get(layer, 0.0) for o in ops) / n
        shuffle = sum(o.shuffle_bytes.get(layer, 0) for o in ops) / n
        if layer == "session":
            calls, wall = 1.0, session_s
        out[f"{layer}.calls"] = calls
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.jobs"] = jobs
        out[f"{layer}.task_s"] = task
        out[f"{layer}.shuffle_bytes"] = shuffle
        out[f"{layer}.driver_gap_s"] = wall - task / cores
    for layer in OUTPUT_BYTES_LAYERS:
        out[f"{layer}.output_bytes"] = sum(o.output_bytes.get(layer, 0) for o in ops) / n
    dedup_calls = sum(o.calls.get("operators.dedup", 0) for o in ops)
    dedup_jobs = sum(o.jobs.get("operators.dedup", 0) for o in ops)
    out["operators.dedup.jobs_per_call"] = dedup_jobs / dedup_calls if dedup_calls else 0.0
    return out
