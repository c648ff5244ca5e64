"""Benchmark command: one workload, one fresh Spark session, one JSON line.

    python3 perfbench/run.py --workload flight_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``perfbench/work/<workload>/``, starts the session,
runs a cold first pass, warm-up passes for ``WARMUP_S`` seconds, then
measured passes until ``--seconds`` have passed, checks the program's
outputs against DuckDB, stops every streaming query and the JVM, and
prints as its last stdout line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` Spark's event log is switched on and the metrics are the
per-layer ones, and the full per-operation record is written to
``perfbench/work/<workload>/trace.json``. See README.md.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
if __name__ == "__main__":
    # run as a script: resolve this package and the program under test
    # from the repository root, not from this directory
    sys.path[0] = ROOT

from perfbench import procs  # noqa: E402


# warm-up after the cold pass: pass times keep falling for 20-30 s while
# the JIT compiles Spark's planning and scheduling code; a short warm-up
# leaves more of the run's time to measured passes (see README.md)
WARMUP_S = 10.0
HEAP = "2g"
# The JVM's peak RSS is read after this many passes (the cold pass and
# two more; every run makes at least three): under a fixed heap it grows
# pass by pass until the heap is fully touched, so read at the end of
# the run it would count how many passes the host's speed allowed.
RSS_PASSES = 3
# A fixed-size heap under the throughput collector touches its young
# generation fully and early, so the JVM's peak RSS follows what the
# program retains, not how far the adaptive heap sizing got in this run.
# Compiler threads that live as long as the JVM keep their CPU time
# readable, so the JIT's warm-up CPU can be left out of warm_cpu_s.
JVM_OPTIONS = (
    f"-Xms{HEAP} -XX:+UseParallelGC -XX:-UseDynamicNumberOfCompilerThreads"
)


def _args(argv, workloads):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _session(work: str, trace: bool):
    from big_data_flight_analytics_spark.session import session_builder

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    builder = (
        session_builder(app_name="perfbench")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", JVM_OPTIONS)
    )
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + events)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark, jvm_pid: int) -> None:
    """Stop every streaming query, the session and the JVM, and wait
    until the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    pids = procs.tree(jvm_pid)
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    left = procs.wait_gone(pids, 30)
    for pid in left:
        os.kill(pid, 9)
    procs.wait_gone(left, 10)


def _median(values):
    return statistics.median(values) if values else 0.0


def run(argv) -> int:
    started = procs.start_time()
    # the program's modules (PySpark and the engine) load inside setup_s
    from perfbench.workloads import WORKLOADS

    args = _args(argv, WORKLOADS)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # bounded driver heap: inputs of some tens of MB need no more
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    # Python workers forked by the JVM hash strings the same way each run
    os.environ["PYTHONHASHSEED"] = "0"
    work = os.path.join(BENCH_DIR, "work", args.workload)
    os.makedirs(os.path.dirname(work), exist_ok=True)
    # two runs of one workload would delete each other's files
    lock = open(work + ".lock", "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print(f"another run is using {work}", file=sys.stderr)
        return 2

    # the benchmark's own work is left out of setup_s: clearing the last
    # run's files, loading its own modules and making the inputs
    t0 = time.time()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    from perfbench import checks, inputs, trace  # noqa: F401
    workload = WORKLOADS[args.workload](work, bool(args.trace))
    workload.make_inputs(args.seed)
    bench_s = time.time() - t0

    # keep every temporary file of Python and both JVMs (the launcher's
    # and the driver's) inside the work directory
    os.environ["TMPDIR"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    )

    t0 = time.time()
    spark = _session(work, bool(args.trace))
    session_s = time.time() - t0
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    try:
        workload.register(spark)
        setup_s = time.time() - started - bench_s
        print(f"inputs {bench_s:.2f} s, session {session_s:.2f} s, "
              f"setup {setup_s:.2f} s", file=sys.stderr)

        # pass 0 is the cold pass; warm-up passes follow until WARMUP_S
        # have passed, then passes are measured until --seconds have
        # passed (at least one of each)
        passes = []  # (wall s, cpu s, records)
        peak_rss = []

        def run_pass():
            c0, t0 = procs.cpu_seconds(jvm_pid), time.time()
            records = workload.run_pass()
            passes.append((time.time() - t0,
                           procs.cpu_seconds(jvm_pid) - c0, records))
            rss = procs.peak_rss_mb(jvm_pid)
            if len(passes) == RSS_PASSES:
                peak_rss.append(rss)
            print(f"pass {len(passes) - 1}: {passes[-1][0]:.2f} s, "
                  f"cpu {passes[-1][1]:.2f} s, peak rss {rss:.0f} MB",
                  file=sys.stderr)

        def run_for(seconds):
            deadline = time.time() + seconds
            run_pass()
            while time.time() < deadline:
                run_pass()

        run_pass()
        run_for(WARMUP_S)
        first_measured = len(passes)
        run_for(args.seconds)
        records = [r for _w, _c, recs in passes for r in recs]
        problems = workload.check(records)
    finally:
        _shutdown(spark, jvm_pid)

    failed = sum(1 for r in records if not r["ok"])
    warm = passes[first_measured:]
    e2e = {
        "setup_s": (setup_s, "s"),
        "warm_pass_s": (_median([w for w, _c, _r in warm]), "s"),
        "warm_cpu_s": (_median([c for _w, c, _r in warm]), "s"),
        "op_p50_s": (_median([r["end"] - r["start"] for _w, _c, recs in warm
                              for r in recs if r["ok"]]), "s"),
        "peak_rss_mb": (peak_rss[0], "MB"),
    }
    for p in problems:
        print("CHECK FAILED:", p, file=sys.stderr)

    if args.trace:
        layers, detail = trace.per_layer(
            work, passes, first_measured, session_s
        )
        with open(os.path.join(work, "trace.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "end_to_end": {k: v for k, (v, _u) in e2e.items()},
                       "per_layer": {k: v for k, (v, _u) in layers.items()},
                       **detail}, fh, indent=1, default=str)
        metrics = layers
    else:
        metrics = e2e
    print(json.dumps({
        "correct": not problems,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(run(sys.argv[1:]))
