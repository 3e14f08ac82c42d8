"""Benchmark entry point.

    python3 perfbench/run.py --workload flagship_rollup --seed 1 --seconds 10 --trace 0

Runs from the repository root. One run is a closed loop on a single
driver process at ``local[nproc]``: generate (or reuse) the seeded
input, set the program up SETUPS times in fresh JVMs (``setup_s`` is
their median), run a first pass in the last fresh JVM
(``first_pass_s``), warm up, then run passes back to back for
``--seconds`` (``turns_per_s`` from their median). Every pass's outputs
are checked against expected values computed without the program.
The last line of stdout is the JSON result. ``--trace 1`` prints the
per-layer metrics instead (see ``tracing.py``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# host-safe launch: a pinned driver heap (the session default pre-touches
# 16 GB), spill/shuffle files inside the checkout, cores from nproc
os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(
    os.environ.get("SPARK_LOCAL_DIRS", os.path.join(WORK, "spark-local"))
)
CORES = len(os.sched_getaffinity(0))
os.environ["SPARK_GRAFT_CPUS"] = str(CORES)

TURNS = 200_000
SETUPS = 2          # fresh-JVM set-ups per run; setup_s is their median
WARMUP_PASSES = 1   # untimed passes between the first pass and the timed window


def stop_session(spark) -> None:
    """Stop the session AND its JVM, so the next get_spark is a cold start."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def start_session(cores: int, extra_conf: dict | None = None):
    from axosyslog_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **(extra_conf or {})}
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def timed_setups(workload, n: int):
    """Set up ``n`` times, each in a fresh JVM; keep the last session."""
    times, spark = [], None
    for _ in range(n):
        if spark is not None:
            stop_session(spark)
        t0 = time.perf_counter()
        spark = start_session(CORES)
        workload.setup(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


def measure(workload, spark, seconds: float, tracer=None, after_first=None,
            warmup: int = WARMUP_PASSES):
    """First pass, warm-up, then passes for ``seconds``. Every pass is
    checked while its outputs exist; the first good one is also checked
    with a corrupted count, which the checker must flag.

    Returns (first pass s, timed pass s list, per-pass records, whether
    the checker flagged the corrupted copy)."""
    from workloads import no_span

    span = tracer.span if tracer else no_span
    passes = []  # {"s", "problems", "bytes", "outcome"}
    self_checked = []

    def one(i: int, timed: bool) -> float:
        t0 = time.perf_counter()
        outcome, nbytes = None, 0
        try:
            with span(f"pass.{workload.name}", pass_no=i, timed=timed):
                outcome = workload.run_pass(spark, i, span)
            dt = time.perf_counter() - t0
            problems = workload.check(outcome)
            if not problems and not self_checked:
                self_checked.append(bool(workload.check(workload.corrupt(outcome))))
            nbytes = workload.sink_bytes(outcome)
        except Exception as e:  # a pass that raises is a failed pass
            dt, problems = time.perf_counter() - t0, [repr(e)]
        passes.append({"s": dt, "problems": problems, "bytes": nbytes, "outcome": outcome})
        for p in problems:
            print(f"pass {i} FAILED: {p}", file=sys.stderr)
        return dt

    first = one(0, False)
    if after_first:
        after_first()
    for i in range(1, 1 + warmup):
        one(i, False)
    timed = []
    t_end = time.perf_counter() + seconds
    while not timed or time.perf_counter() < t_end:
        timed.append(one(len(passes), True))
    return first, timed, passes, self_checked == [True]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program must be importable from the checkout root; without it
    # there is nothing to measure and no result is printed
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import axosyslog_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not found ({e})", file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    # a run directory of its own, so runs never share pass outputs
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)  # left by a killed run
    os.makedirs(run_dir)
    try:
        return run_workload(args, WORKLOADS[args.workload], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_workload(args, workload_cls, run_dir: str) -> int:
    import gen

    input_dir, truth = gen.ensure_input(WORK, args.seed, TURNS, 2 * CORES)
    workload = workload_cls(input_dir, run_dir, truth, CORES)
    workload.prepare()
    print(json.dumps({"input": gen.public(truth)}))

    if args.trace:
        import tracing

        return tracing.main(args, workload, truth)

    spark, setups = timed_setups(workload, SETUPS)
    try:
        first, timed, passes, ok_checker = measure(workload, spark, args.seconds)
    finally:
        stop_session(spark)
    good = [p["bytes"] for p in passes if not p["problems"]]
    failed = sum(1 for p in passes if p["problems"])
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "first_pass_s": (first, "s"),
        "turns_per_s": (truth["turns"] / statistics.median(timed), "1/s"),
        "sink_bytes_per_turn": (statistics.median(good) / truth["turns"] if good else 0, "B"),
        "success_ratio": ((len(passes) - failed) / len(passes), "ratio"),
    }
    print(json.dumps({
        "setups_s": setups,
        "pass_s": [round(p["s"], 4) for p in passes],
        "self_check": ok_checker,
    }))
    print(json.dumps({
        "correct": failed == 0 and ok_checker,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
