#!/usr/bin/env python3
"""Benchmark of the PySpark entity-resolution engine.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Runs one workload (er_batch or near_dup) at local[nproc] in
this process: starts a Spark session, makes the inputs from the seed,
warms up, then runs a closed loop with one client for ``--seconds``.
Every output is checked against truth the benchmark holds. The last
stdout line is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics from one extra traced iteration with ``--trace 1``.
Lines before it print each metric with its unit and sample count.
Exit codes: 0 ok, 1 an output check failed, 2 the program is missing.

Everything the run writes lives under perfbench/_work, wiped first.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PROGRAM = "entity_resolution_pipeline_v1_spark"
DRIVER_MEMORY = "2g"  # fixed, well under the host's RAM
SETUP_REPEATS = 3  # input generation is repeated; set-up reports the median
WATCHDOG_S = 175  # a run must end within 180 s


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["er_batch", "near_dup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _capture_output(log_path: str) -> None:
    """Send fds 1 and 2, which the JVM and the Python workers inherit,
    to the Spark log; this process keeps the original streams."""
    sys.stdout.flush()
    sys.stderr.flush()
    out_fd, err_fd = os.dup(1), os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    sys.stdout = os.fdopen(out_fd, "w", buffering=1)
    sys.stderr = os.fdopen(err_fd, "w", buffering=1)


def _stop_tree(spark) -> None:
    """Stop Spark, end the JVM it launched and wait for every
    descendant process to be gone."""
    from pyspark import SparkContext

    from perfbench import procstat

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    _kill_descendants(procstat)


def _kill_descendants(procstat) -> None:
    deadline = time.time() + 20
    while True:
        rest = [p for p in procstat.tree_pids() if p != os.getpid()]
        if not rest or time.time() > deadline:
            return
        for pid in rest:
            try:
                os.kill(pid, signal.SIGKILL if time.time() > deadline - 10 else signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _progress(msg: str) -> None:
    print(f"[{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr)


def _watchdog(signum, frame):
    from perfbench import procstat

    print(f"run exceeded {WATCHDOG_S}s; stopping", file=sys.stderr)
    for pid in procstat.tree_pids():
        if pid != os.getpid():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    os._exit(3)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PROGRAM, "__init__.py")):
        print(f"program package {PROGRAM}/ not found next to perfbench/", file=sys.stderr)
        return 2
    started = time.perf_counter()
    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(WATCHDOG_S)
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    os.environ.update({
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),  # overrides spark.local.dir
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    sys.path[:0] = [ROOT]
    log_path = os.path.join(WORK, "spark.log")
    _capture_output(log_path)

    from perfbench import report
    from perfbench.harness import Tracer, median, timed_loop
    from perfbench.procstat import PeakSampler
    from perfbench.workloads import WORKLOADS, Context

    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        t0 = time.perf_counter()
        from entity_resolution_pipeline_v1_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench", cpus=cores,
            extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            },
        )
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](Context(spark, WORK, args.seed, cores, started + WATCHDOG_S - 5))
        gen_s = []
        # set-up time is an end-to-end metric only: a traced run makes
        # its inputs once
        for _ in range(1 if args.trace else SETUP_REPEATS):
            t = time.perf_counter()
            wl.make_inputs()
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup = report.Setup(session_s, gen_s, warm_s)
        _progress(f"set-up done: session {session_s:.1f}s, inputs {gen_s[-1]:.1f}s, warm-up {warm_s:.1f}s")
        with PeakSampler(os.path.join(WORK, "spark-local")) as sampler:
            iterations = timed_loop(wl.iterate, args.seconds, sampler)
            _progress(f"timed loop done: {len(iterations)} iterations")
            layers = None
            if args.trace:
                untraced = median([it.wall_s for it in iterations if all(a.ok for a in it.attempts)])
                tracer = Tracer(spark, f"{args.workload}-{args.seed}", log_path, cores, sampler)
                layers = wl.trace(tracer, untraced)
                layers["failed_tasks"] = tracer.failed_tasks()
                tracer.write(os.path.join(WORK, "spans.jsonl"))
    finally:
        _stop_tree(spark)
    signal.alarm(0)
    return report.emit(wl, args, cores, setup, iterations, layers)


if __name__ == "__main__":
    sys.exit(main())
