#!/usr/bin/env python
"""Probe-bracketed isolated timing for a subset of declared queries —
the per-change A/B harness of the optimization rounds (bench.py
methodology: warm-up, noop sink, best-of-2, clearCache isolation,
calibration probes before/after so a steal window can't masquerade as
a regression or a win).

Each query also reports its Spark job count (one number when every rep
agrees, else the per-rep list): the jobs carrying a job tag set for the
rep (``SparkContext.addJobTag``), read back from the status store. A
stream started inside the rep inherits the tag, so a stream twin's
micro-batch jobs are in its count (they run under the stream's own job
group, which a per-group count misses). Unlike wall time the count is
noise-free: equal counts before and after a refactor are the check that
it kept the query's plans.

Each query also reports a sorted-row digest (``"digests"``): the
order-independent value hash of ``tools/check_correctness.normalize``
over its result, computed once after the timed reps (outside the
timing and the job count). Equal digests on two trees are the
"same results" check at scales where no oracle runs.

Usage: python tools/measure_subset.py q1,q2,... [reps]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from tools.check_correctness import normalize  # noqa: E402


def main() -> None:
    names = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from reddit_etl_pipeline_spark.session import get_spark
    import __spark_entry__ as entrymod

    from reddit_etl_pipeline_spark.plans import star

    spark = get_spark(app_name="measure_subset")
    # warm via the blessed loader so the A/B harness inherits exactly the
    # session/loader configuration bench.py and the driver gate use
    # (nanosAsLong, UTC) rather than re-pinning confs by hand
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        star.load(spark, bench.SF_DIR, t).limit(1).collect()

    def _warm_workers(batches):
        import numpy  # noqa: F401

        yield from batches

    n_workers = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(1000, numPartitions=n_workers).mapInPandas(
        _warm_workers, "id long"
    ).count()

    queries = entrymod.queries()
    jsc = spark.sparkContext._jsc.sc()

    def tagged_jobs(tag: str) -> int:
        jsc.listenerBus().waitUntilEmpty()  # job events are async
        jl, n = jsc.statusStore().jobsList(None), 0
        for i in range(jl.size()):
            tags = jl.apply(i).jobTags()
            n += any(tags.apply(k) == tag for k in range(tags.size()))
        return n

    bench.warm_probe(spark)
    pb = bench.calibration_probe(spark)
    sc = spark.sparkContext
    timings, jobs, digests = {}, {}, {}
    for name in names:
        best, counts = float("inf"), []
        for rep in range(reps):
            tag = f"measure_subset:{name}:{rep}"
            sc.addJobTag(tag)
            try:
                best = min(best, bench._time_queries(spark, queries, [name], 1)[name])
            finally:
                sc.removeJobTag(tag)
            counts.append(tagged_jobs(tag))
        timings[name] = best
        jobs[name] = counts[0] if len(set(counts)) == 1 else counts
        digests[name] = normalize(queries[name](spark, bench.SF_DIR).toPandas())[1]
    pa = bench.calibration_probe(spark)
    print(json.dumps({
        "probes": [pb, pa],
        "floor": bench.PROBE_FLOOR_S,
        "clean": max(pb, pa) <= 2 * bench.PROBE_FLOOR_S,
        "queries": timings,
        "jobs": jobs,
        "digests": digests,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
