#!/usr/bin/env python
"""Dump the formatted physical plan of declared queries — the review
artifact for plan-quality iteration (pushdown, pruning, join strategies,
codegen spans) and for before/after plan diffs.

Usage: python tools/dump_plans.py <out_dir> <suffix> [q1,q2,...]

Writes <out_dir>/<query>_<suffix>.txt for each query (default: all
queries()) over ``SPARK_GRAFT_SF_DIR`` (default sf0.1). ``stream_*``
queries are skipped: the returned DataFrame is the post-run file-sink
read-back, so its "plan" is just a parquet scan. Plan generation is
driver-side; store-backed queries build their store on first touch, so
this is not free for those — run it serialized with other Spark work
like any measurement.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SKIP_PREFIX = "stream_"


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

    from reddit_etl_pipeline_spark.session import get_spark
    import __spark_entry__ as entrymod

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump_plans")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name, fn in entrymod.queries().items():
        if name.startswith(SKIP_PREFIX) or (only is not None and name not in only):
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
