"""pitfeat benchmark: one seeded workload, one process, one closed loop.

    python3 pitbench/run.py --workload pit_hotkey --seed 1 --seconds 5 --trace 0

Run from the repository root. The session is ``get_spark`` on
``local[<cores>]``; jobs run one at a time, each starting after the previous
one committed. A run:

1. starts the session, generates the seeded inputs to parquet three times
   (the last copy is used), warms the Python worker pool and runs one
   untimed warm-up iteration, whose output becomes the reference;
2. runs timed iterations for ``--seconds`` (at least the workload's
   ``MIN_TIMED``), each followed by an untimed check of its output against
   the reference;
3. validates the reference against independent oracles (untimed);
4. prints a run record line, then the result line.

A job's time is its CPU seconds (``cpu_s``: driver, JVM and Python workers,
from /proc), not its wall time: on a small virtual machine the hypervisor
steals a varying share of CPU, which moves wall time between runs of the
same code far more than it moves CPU time. Wall times stay in the run record
and in the traced run's ``job.wall_s``.

With ``--trace 0`` the result holds the end-to-end metrics; with
``--trace 1`` the session writes Spark's event log, plain iterations
alternate with traced ones (see workloads.py), and the result holds the
per-layer metrics of the traced iteration with the median job wall.
Everything the run writes stays under ``.pitbench_work/`` and is removed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    # run as a script: import this directory as the ``pitbench`` package, so
    # its modules never shadow standard-library ones (trace)
    sys.path[0] = ROOT

from pitbench import host  # noqa: E402
from pitbench.trace import Tracer, read_event_log  # noqa: E402
from pitbench.workloads import WORKLOADS, CheckFailed  # noqa: E402

# the program under test; without it the benchmark refuses to run
REQUIRED = ("pitfeat/__init__.py", "jobs/build_features.py", "bench.py", "tests/oracle_pandas.py")
SETUP_REPS = 3

E2E_METRICS = {
    "cpu_s": "s",
    "setup_s": "s",
    "recall": "ratio",
}
LAYER_METRICS = {
    "job.wall_s": "s",
    "job.rows_per_s": "rows/s",
    "session.start_s": "s",
    "peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "io.scan_s": "s",
    "io.rows_in": "count",
    "io.input_mb": "MB",
    "asof.self_s": "s",
    "asof.shuffle_write_mb": "MB",
    "asof.fetch_wait_s": "s",
    "asof.spill_mb": "MB",
    "asof.task_skew": "ratio",
    "windows.self_s": "s",
    "windows.shuffle_write_mb": "MB",
    "windows.spill_mb": "MB",
    "windows.task_skew": "ratio",
    "normalize.self_s": "s",
    "normalize.jobs": "count",
    "vectors.self_s": "s",
    "checkpoint.self_s": "s",
    "checkpoint.jobs": "count",
    "checkpoint.python_s": "s",
    "checkpoint.write_mb": "MB",
    "pipeline.jobs": "count",
    "pipeline.input_scans": "count",
    "similarity.self_s": "s",
    "similarity.python_s": "s",
    "similarity.to_python_mb": "MB",
    "similarity.from_python_mb": "MB",
    "similarity.shuffle_write_mb": "MB",
    "similarity.task_skew": "ratio",
    "similarity.train_s": "s",
    "similarity.recall": "ratio",
    "text.self_s": "s",
    "text.python_s": "s",
    "dedup.self_s": "s",
    "dedup.python_s": "s",
    "dedup.shuffle_write_mb": "MB",
    "dedup.pairs_out": "count",
    "dedup.recall": "ratio",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}


def _env(work: str) -> None:
    """Point every scratch path of Python, the JVM and Spark into ``work``
    and let Python workers import the program. Must run before the JVM."""
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _warm_pool(spark, cores: int) -> None:
    """Start the Python worker pool before anything is timed."""
    from pyspark.sql.functions import pandas_udf

    warm = pandas_udf(lambda s: s, "long")
    spark.range(cores).select(warm("id")).collect()


def run(args, work: str, run_id: str) -> tuple[dict, dict]:
    import bench
    from pitfeat.session import get_spark

    cores = len(os.sched_getaffinity(0))
    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(f"pitbench-{args.workload}", master=f"local[{cores}]", extra_conf=extra)
    start_s = time.perf_counter() - t0
    record: dict = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    try:
        tracer = Tracer(run_id)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        reps = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.make_inputs(os.path.join(work, f"inputs{r}"))
            reps.append(time.perf_counter() - t0)
            if r:
                shutil.rmtree(os.path.join(work, f"inputs{r - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        _warm_pool(spark, cores)
        wl.warmup()
        warm_s = time.perf_counter() - t0
        setup_s = start_s + statistics.median(reps) + warm_s
        record["setup"] = {"session_start_s": start_s, "inputs_s": reps, "warmup_s": warm_s}
        probe_before = bench.host_probe(spark)

        rss = [host.peak_rss_mb()]
        walls, cpus, traced = [], [], []
        attempted = failed = 0
        # a traced run alternates plain and traced iterations, plain first
        min_iters = 2 if args.trace else wl.MIN_TIMED
        t_loop = time.perf_counter()
        while attempted < min_iters or time.perf_counter() - t_loop < args.seconds:
            i = attempted
            attempted += 1
            try:
                if args.trace and i % 2:
                    with tracer.tracing(spark.sparkContext, f"it{i}/"):
                        wl.traced_iteration(i)
                    traced.append(i)
                else:
                    c0, t0 = host.cpu_s(), time.perf_counter()
                    wl.iteration(i)
                    wall, cpu = time.perf_counter() - t0, host.cpu_s() - c0
                    wl.check(i)
                    walls.append(wall)
                    cpus.append(cpu)
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
            rss.append(host.peak_rss_mb())

        # the reference's oracle check collects whole tables to the driver;
        # it runs after the timed loop so its garbage never lands in it
        try:
            recall, valid = wl.validate(), True
        except CheckFailed as e:
            print(f"pitbench: reference check failed: {e}", file=sys.stderr)
            recall, valid = 0.0, False
        record["host_probe"] = {"before": probe_before, "after": bench.host_probe(spark)}
        record["host"] = host.facts(spark)
        app_id = spark.sparkContext.applicationId
    finally:
        _stop(spark)

    wall_s = statistics.median(walls) if walls else 0.0
    record["checksums"] = wl.ref
    record["iterations"] = {"walls_s": walls, "cpu_s": cpus, "attempted": attempted,
                            "failed": failed, "error_rate": failed / attempted}
    record["recall"] = recall
    if args.trace:
        values = _layers(wl, tracer, read_event_log(os.path.join(work, "eventlog", app_id)),
                         traced, wall_s, record)
        values["job.wall_s"] = wall_s
        values["job.rows_per_s"] = wl.rows_in / wall_s if wall_s else 0.0
        values["session.start_s"] = start_s
        values["peak_rss_mb"] = max(rss)
        units = LAYER_METRICS
    else:
        values = {
            "cpu_s": statistics.median(cpus) if cpus else 0.0,
            "setup_s": setup_s,
            "recall": recall,
        }
        units = E2E_METRICS
    result = {
        "correct": valid and failed == 0 and bool(walls),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    return result, record


def _layers(wl, tracer, groups: dict, traced: list, wall_s: float, record: dict) -> dict:
    """Per-layer metrics of the traced iteration with the median job wall,
    reconciled: self times plus ``trace.unattributed_s`` equal that wall."""
    if not traced:
        return {}
    runs = []
    for i in traced:
        prefix = f"it{i}/"
        t = tracer.times(prefix)
        g = {k[len(prefix):]: v for k, v in groups.items() if k.startswith(prefix)}
        m = wl.layers(t, g)
        self_s = sum(m[k] for k in wl.SELF_TIMES)
        m["trace.unattributed_s"] = t["job"] - self_s
        m["trace.overhead_s"] = t["job"] - wall_s
        runs.append((t["job"], self_s, m))
    runs.sort(key=lambda r: r[0])
    job_s, self_s, m = runs[(len(runs) - 1) // 2]
    record["spans"] = tracer.spans
    record["reconcile"] = {"traced_wall_s": job_s, "self_s": self_s,
                           "unattributed_s": m["trace.unattributed_s"], "untraced_wall_s": wall_s}
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"pitbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".pitbench_work", run_id)
    _env(work)
    try:
        result, record = run(args, work, run_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"run_record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
