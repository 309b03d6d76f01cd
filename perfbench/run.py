#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the engine's public API.

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 7 --trace 0

Run from the repository root. One process, one closed-loop client, Spark
on ``local[nproc]``. The run starts a session, generates its inputs from
``--seed`` (no Spark) and pre-seeds ``SETUP_REPS`` times (set-up time is
the median; every repetition must produce the same input digest), runs
discarded warm-up ops, then times a fixed number of ops (``--seconds``
over the workload's nominal op time, so every host times the same ops)
and checks every op's output.
With ``--trace 0`` it reports the end-to-end metrics; with ``--trace 1``
it interleaves traced and untraced input cycles and reports the per-layer
metrics (see ``layers.py``). Human-readable detail goes to lines
starting with ``#``; the last line of stdout is the JSON result.

Everything the run writes lives under ``.perfbench_run/`` in the checkout
and is removed before exit. See ``NOTES.md`` for why the ops are small and
the warm-up is discarded.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "reddit_etl_pipeline_spark"
TAIL_Q = 0.75  # op_s_tail is the interpolated 75th percentile
HARD_LIMIT_S = 150.0  # stop timing ops this long after process start
SETUP_REPS = 3  # input generation + pre-seeding, repeated; setup_s takes the median


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile, ``q`` in [0, 1] (the inclusive
    method: the minimum at 0, the maximum at 1, never extrapolated)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_rule_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile with at least ``beyond`` of ``n`` timed ops
    above it, or None when ``n <= beyond``."""
    return 1 - beyond / n if n > beyond else None


def ops_needed(q: float, beyond: int = 10) -> int:
    """Timed ops needed so that ``beyond`` of them lie above percentile q."""
    return math.ceil(beyond / (1 - q) - 1e-9)


def timed_ops(seconds: float, nominal_op_s: float, cycle: int, traced: bool) -> int:
    """Ops to time: ``seconds`` of ops at the workload's nominal op time,
    rounded up to whole input cycles, and at least two ops and one cycle;
    a traced run times at least two cycles, one traced and one untraced.
    It depends on the arguments only, so a slow and a fast host time the
    same ops."""
    n = max(2, (2 if traced else 1) * cycle, round(seconds / nominal_op_s))
    return cycle * math.ceil(n / cycle)


def traced_cycle(k: int, seed: int) -> bool:
    """Whether input cycle ``k`` of a traced run is traced. The pattern
    traced, untraced, untraced, traced (repeated) pairs every traced cycle
    with an untraced one on the same inputs and cancels a linear drift of
    op time between them; odd seeds start half-way through it, so in a run
    of two cycles the untraced one goes first on every other seed."""
    return (k + 2 * (seed % 2)) % 4 in (0, 3)


def disk_bytes(paths: list[str]) -> int:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(os.lstat(os.path.join(d, f)).st_size for f in files)
    return total


def pin_environment(run_dir: str) -> dict:
    """Cores, driver memory, worker import path and every scratch location,
    set before the JVM starts."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    for var in ("SPARK_MASTER", "SPARK_GRAFT_STATE_STORE", "SPARK_GRAFT_STREAM_SLICES"):
        os.environ.pop(var, None)  # engine defaults: local master, state store, micro-batches
    tempfile.tempdir = tmp
    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.TimeoutExpired):
        java = "unknown"
    import pyspark

    return {
        "nproc": nproc,
        "driver_memory": f"{driver_gb}g",
        "spark": pyspark.__version__,
        "java": java,
        "python": sys.version.split()[0],
    }


def start_spark(run_dir: str):
    from reddit_etl_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.tempdir}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_workload(a, spark, env: dict, run_dir: str, session_s: float, t_process: float):
    """Set up, warm up, time and check one workload. Returns the result
    object and the detail dict."""
    from workloads import WORKLOADS

    errors: list[str] = []
    gen_s, preseed_s, digests = [], [], []
    for r in range(SETUP_REPS):
        if r:
            shutil.rmtree(w.root)  # only the last repetition's data stays
        w = WORKLOADS[a.workload](spark, a.seed, os.path.join(run_dir, f"data{r}"))
        os.makedirs(w.root)
        t = time.perf_counter()
        digests.append(w.generate())
        gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.setup()
        preseed_s.append(time.perf_counter() - t)
    if len(set(digests)) != 1:
        errors.append(f"same seed, different inputs: {digests}")
    input_digest = digests[0]

    def run_op(i: int) -> tuple[float, str | None]:
        w.prepare(i)
        t = time.perf_counter()
        try:
            result, err = w.op(i), None
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            result, err = None, traceback.format_exc(limit=3)
        dt = time.perf_counter() - t
        return dt, err if err is not None else w.check(i, result)

    # A fixed warm-up: every run times the same op indices of the falling
    # warm-up tail, whatever the host's speed (NOTES.md).
    cycle = w.cycle
    warm: list[float] = []
    for i in range(w.warmup_ops):
        dt, err = run_op(i)
        warm.append(dt)
        if err:
            errors.append(f"warm-up op {i}: {err}")
    paths, stored_items = w.stored()
    stored_bytes = disk_bytes(paths)
    setup_s = session_s + statistics.median(g + p for g, p in zip(gen_s, preseed_s)) + sum(warm)

    tracer = None
    probes = []
    if a.trace:
        import bench
        from layers import Tracer

        probes.append(bench.calibration_probe(spark))
        tracer = Tracer(spark, PACKAGE)
    n_timed = timed_ops(a.seconds, w.nominal_op_s, cycle, bool(a.trace))
    times, traced_times, plain_times, op_traces = [], [], [], []
    items = failed = 0
    i = w.warmup_ops
    t0 = time.perf_counter()
    for k in range(n_timed):
        if k % cycle == 0 and k >= 2 * cycle and time.perf_counter() - t_process > HARD_LIMIT_S:
            break
        traced = tracer is not None and traced_cycle(k // cycle, a.seed)
        if traced:
            tracer.install()
            tracer.begin()
        dt, err = run_op(i)
        if traced:
            tracer.uninstall()
            op = tracer.end(w.layer(i))
            op_traces.append(op)
            if sum(op.jobs.values()) != op.jobs_seen:
                errors.append(
                    f"op {i}: layer jobs {sum(op.jobs.values())} != status store jobs {op.jobs_seen}"
                )
        (traced_times if traced else plain_times).append(dt)
        times.append(dt)
        if err:
            failed += 1
            errors.append(f"op {i}: {err}")
        items += w.items(i)
        i += 1
    timed_wall = time.perf_counter() - t0
    t = time.perf_counter()
    if hasattr(w, "check_batch"):
        errors.extend(w.check_batch())
    check_batch_s = time.perf_counter() - t
    if tracer is not None:
        import bench

        probes.append(bench.calibration_probe(spark))

    detail = dict(
        workload=a.workload,
        seed=a.seed,
        env=env,
        input_digest=input_digest,
        properties=w.properties(),
        warmup_op_s=[round(x, 4) for x in warm],
        op_s=[round(x, 4) for x in times],
        samples=len(times),
        tail_percentile=TAIL_Q,
        ops_for_ten_beyond_tail=ops_needed(TAIL_Q),
        tail_rule_percentile=tail_rule_percentile(len(times)),
        timed_wall_s=round(timed_wall, 3),
        check_batch_s=round(check_batch_s, 3),
        setup_parts_s={
            "session": round(session_s, 3),
            "generate": [round(x, 3) for x in gen_s],
            "preseed": [round(x, 3) for x in preseed_s],
            "warmup": round(sum(warm), 3),
        },
        stored_bytes=stored_bytes,
        stored_items=stored_items,
        failed_op_share=failed / len(times),
        errors=errors[:10],
    )
    attempted = len(times)
    if a.trace:
        from layers import summarize, unit

        metrics = {
            k: {"value": v, "unit": unit(k)}
            for k, v in summarize(op_traces, env["nproc"], session_s).items()
        }
        metrics["host.probe_s"] = {"value": statistics.mean(probes), "unit": "s"}
        metrics["trace.overhead_ratio"] = {
            "value": statistics.mean(traced_times) / statistics.mean(plain_times),
            "unit": "ratio",
        }
        detail["probes_s"] = probes
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s_p50": (statistics.median(times), "s"),
            "op_s_tail": (percentile(times, TAIL_Q), "s"),
            "items_per_s": (items / sum(times), "1/s"),
            "stored_bytes_per_item": (stored_bytes / stored_items, "B/item"),
            "ok_op_share": (1 - failed / attempted, "share"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    t_process = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["daily_cycle", "curate_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    # SIGTERM unwinds through the finally below: stop the JVM, remove the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found in {ROOT}", file=sys.stderr)
        return 2
    for path in (HERE, ROOT):
        if path not in sys.path:
            sys.path.insert(0, path)

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        env = pin_environment(run_dir)
        t = time.perf_counter()
        spark = start_spark(run_dir)
        session_s = time.perf_counter() - t
        out, detail = run_workload(args, spark, env, run_dir, session_s, t_process)
        print("# perfbench " + json.dumps(detail, default=str), flush=True)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            parent = os.path.dirname(run_dir)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
