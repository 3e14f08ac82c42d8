"""Traced run (``--trace 1``): the per-layer metrics.

Spans (name, start, end, parent, run id) are recorded from the
benchmark's own code around calls into the program's public functions
(``Tracer.span``), kept in memory and written to
``perfbench/.work/trace/<run>/spans.jsonl`` when the run ends. A run has
two phases, each in a fresh JVM, and both run the workload's first
pass and then passes for half of ``--seconds`` (no warm-up pass):

A. untraced — the base of ``trace.overhead_ratio``;
B. traced — the Spark event log on (uncompressed) and the JVM's stderr
   captured; after the workload's passes come the layer probes:
   - the jobs of the layers the workload does not run itself (a cold
     flagship pass, one checkpoint crash + resume, a config compile +
     optimize), so that every traced run reports every layer;
   - the prefix sweep: each pipeline prefix consumed by a ``noop`` sink,
     one warm-up round and PREFIX_ROUNDS timed rounds; a layer's self
     time is its prefix minus the prefix before it;
   - the scaling probe: a warm flagship pass on all CPUs, then one with
     the JVM pinned to one CPU.

The event log is reduced to ``spark.*`` metrics over the workload's
timed passes, ``CodegenMetrics`` give ``codegen.compiles`` and
``codegen.compile_s`` for the cold first pass, and the captured JVM log
gives ``codegen.fallbacks`` ("failed to compile" errors per pass).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import shutil
import statistics
import sys
import time

import run
import workloads

PREFIX_ROUNDS = 2


class Tracer:
    """In-memory spans: name, start, end, parent, run id (+ attributes)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def windows(self, name: str, timed_pass: bool = False,
                **match) -> list[tuple[float, float]]:
        """(start, end) of the finished spans called ``name`` whose
        attributes match; with ``timed_pass``, only those inside a pass
        marked ``timed`` (warm, on all CPUs)."""
        return [(s["start"], s["end"]) for s in self.spans
                if s["name"] == name and s["end"] is not None
                and all(s.get(k) == v for k, v in match.items())
                and (not timed_pass or (s["parent"] is not None
                                        and self.spans[s["parent"]].get("timed")))]

    def durations(self, name: str, timed_pass: bool = False, **match) -> list[float]:
        return [b - a for a, b in self.windows(name, timed_pass, **match)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------- engine

def read_tasks(event_dir: str) -> list[dict]:
    """TaskEnd events of the (single) application log in ``event_dir``."""
    tasks = []
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "launch": info["Launch Time"] / 1000.0,
                    "retry": info.get("Attempt", 0) > 0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "read_bytes": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "write_bytes": wr.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "peak_mem": m.get("Peak Execution Memory", 0),
                })
    return tasks


def in_windows(tasks: list[dict], windows) -> list[dict]:
    return [t for t in tasks if any(a <= t["launch"] <= b for a, b in windows)]


def engine_metrics(tasks: list[dict], windows, cores: int) -> dict:
    sel = in_windows(tasks, windows)
    n = max(len(windows), 1)
    wall = sum(b - a for a, b in windows)
    return {
        "spark.busy_ratio": (sum(t["run_s"] for t in sel) / (wall * cores), "ratio"),
        "spark.executor_cpu_s": (sum(t["cpu_s"] for t in sel) / n, "s"),
        "spark.gc_s": (sum(t["gc_s"] for t in sel) / n, "s"),
        "spark.spill_bytes": (sum(t["spill"] for t in sel) / n, "B"),
        "spark.peak_exec_mem_mb": (max((t["peak_mem"] for t in sel), default=0) / 2**20, "MB"),
        "spark.tasks": (len(sel) / n, "count"),
        "spark.task_retries": (sum(t["retry"] for t in sel), "count"),
    }


def codegen_counters(spark) -> tuple[int, float]:
    """(compiles, total compile seconds) from Spark's CodegenMetrics."""
    h = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    n = h.getCount()
    return n, n * h.getSnapshot().getMean() / 1000.0


FALLBACK = re.compile(r"ERROR.*failed to compile", re.IGNORECASE)


def count_fallbacks(log_path: str, start: int, end: int) -> int:
    with open(log_path, "rb") as f:
        f.seek(start)
        chunk = f.read(end - start).decode("utf-8", "replace")
    return sum(1 for line in chunk.splitlines() if FALLBACK.search(line))


# ---------------------------------------------------------------- probes

def prefix_frames(spark, input_dir: str, config_path: str):
    """Pipeline prefixes built from the layers' public functions, in the
    order ``run_pipeline`` chains them (parse → enrich → route) and
    ``PipelineSpec.compile`` chains them (parse → patterndb → templates
    + filterx; the benchmark config's templates and filterx read no
    lookup column, so its enrich step is left out of this chain)."""
    from axosyslog_spark.functions.filterx_lang import filterx
    from axosyslog_spark.functions.template_compiler import (
        compile_template,
        parsed_template_context,
    )
    from axosyslog_spark.operators.enrich import enrich_tools
    from axosyslog_spark.operators.parse import parse_stage
    from axosyslog_spark.operators.patterndb import PatternDB
    from axosyslog_spark.operators.route import flagship_route_spec, route_explode
    from axosyslog_spark.plans.config import build_spec

    spec, _ = build_spec(config_path)
    scan = spark.read.parquet(input_dir)
    parsed = parse_stage(scan)
    enriched = enrich_tools(parsed, spark)
    pdb = PatternDB(spec.patterns).apply(
        parsed, text_col=spec.pattern_source_col,
        with_class=any(r.rule_class for r in spec.patterns),
        with_tags=any(r.tags for r in spec.patterns),
    )
    ctx = parsed_template_context(field_fallback=True)
    templated = pdb.withColumns(
        {name: compile_template(t, ctx) for name, t in spec.templates.items()}
    )
    return {
        "sources": scan,
        "parse": parsed,
        "enrich": enriched,
        "route": route_explode(enriched, flagship_route_spec()),
        "patterndb": pdb,
        "functions": filterx(templated, spec.filterx_block),
    }


# layer -> (prefix, prefix it extends)
SELF = {
    "parse": ("parse", "sources"),
    "enrich": ("enrich", "parse"),
    "route": ("route", "enrich"),
    "patterndb": ("patterndb", "parse"),
    "functions": ("functions", "patterndb"),
}


def prefix_sweep(spark, tracer: Tracer, frames: dict, turns: int) -> dict:
    """One warm-up round, PREFIX_ROUNDS timed rounds, then one round
    that observes the layers' counts (an observed plan differs from the
    timed one, so it is kept out of the timed rounds)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def consume(df):
        df.write.format("noop").mode("overwrite").save()

    for df in frames.values():
        consume(df)
    for r in range(PREFIX_ROUNDS):
        for name, df in frames.items():
            with tracer.span(f"prefix.{name}", round=r):
                consume(df)
    counted = {
        "patterndb": F.count("rule_id"),
        "enrich": F.sum(F.when(F.col("tool_category") != "unknown", 1).otherwise(0)),
        "route": F.count(F.lit(1)),
    }
    counts = {}
    for name, agg in counted.items():
        obs = Observation(name)
        consume(frames[name].observe(obs, agg.alias("n")))
        counts[name] = obs.get["n"] or 0
    out = {"sources.scan_s": (statistics.median(tracer.durations("prefix.sources")), "s")}
    for layer, (mine, base) in SELF.items():
        d = [a - b for a, b in zip(tracer.durations(f"prefix.{mine}"),
                                    tracer.durations(f"prefix.{base}"))]
        out[f"{layer}.self_s"] = (statistics.median(d), "s")
        out[f"{layer}.self_spread_s"] = (max(d) - min(d), "s")
    out["patterndb.match_ratio"] = (counts["patterndb"] / turns, "ratio")
    out["enrich.hit_ratio"] = (counts["enrich"] / turns, "ratio")
    out["route.fanout"] = (counts["route"] / turns, "ratio")
    return out


def pin_jvm(spark, cpus: set[int]) -> None:
    """Set the CPU affinity of every thread of the session's JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    for tid in os.listdir(f"/proc/{pid}/task"):
        with contextlib.suppress(OSError):
            os.sched_setaffinity(int(tid), cpus)


# ---------------------------------------------------------------- main

def main(args, workload, truth) -> int:
    cores, turns = run.CORES, truth["turns"]
    run_id = f"{workload.name}-s{args.seed}-{int(time.time())}-{os.getpid()}"
    work = os.path.join(run.WORK, "trace", run_id)
    event_dir = os.path.join(work, "eventlog")
    os.makedirs(event_dir, exist_ok=True)
    tracer = Tracer(run_id)
    results = []  # per-pass records of both phases

    # phase A: untraced
    spark, _ = run.timed_setups(workload, 1)
    try:
        _, timed, passes, ok_checker = run.measure(workload, spark, args.seconds / 2,
                                                   warmup=0)
    finally:
        run.stop_session(spark)
    untraced_s = statistics.median(timed)
    results += passes

    # phase B: traced; the JVM inherits fd 2, so its log lands in log_path
    log_path = os.path.join(work, "jvm.log")
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    saved_stderr = os.dup(2)
    with open(log_path, "wb") as log:
        os.dup2(log.fileno(), 2)
    try:
        with tracer.span("session.start"):
            spark = run.start_session(cores, conf)
        try:
            metrics = traced_phase(args, workload, truth, spark, tracer, log_path, results)
        finally:
            run.stop_session(spark)
    finally:
        sys.stderr.flush()
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)

    tasks = read_tasks(event_dir)
    shutil.rmtree(event_dir)
    metrics.update(engine_metrics(
        tasks, tracer.windows(f"pass.{workload.name}", timed=True, cpus=None), cores))
    per_write = [sum(t["write_bytes"] for t in in_windows(tasks, [w]))
                 for w in tracer.windows("sinks.write", timed_pass=True)]
    metrics["sinks.shuffle_bytes_per_turn"] = (statistics.median(per_write) / turns, "B")
    reduce_s = [t["run_s"] for t in in_windows(tasks, tracer.windows("grouping.rollup",
                                                                     timed_pass=True))
                if t["read_bytes"] > 0]
    metrics["grouping.reduce_skew"] = (max(reduce_s) / statistics.median(reduce_s), "ratio")
    metrics["session.start_s"] = (tracer.durations("session.start")[0], "s")
    traced_s = statistics.median(
        tracer.durations(f"pass.{workload.name}", timed=True, cpus=None))
    metrics["trace.overhead_ratio"] = (traced_s / untraced_s, "ratio")

    spans_path = os.path.join(work, "spans.jsonl")
    tracer.write(spans_path)
    failed = sum(1 for p in results if p["problems"])
    print(json.dumps({"spans": os.path.relpath(spans_path, run.ROOT),
                      "untraced_pass_s": untraced_s, "traced_pass_s": traced_s}))
    print(json.dumps({
        "correct": failed == 0 and ok_checker,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


def traced_phase(args, workload, truth, spark, tracer, log_path, results) -> dict:
    """Everything that runs in the traced JVM; appends pass records to
    ``results`` and returns the metrics measured here."""
    cores, turns = run.CORES, truth["turns"]
    out = {}

    # the workload itself: cold first pass (codegen counters), timed passes
    workload.setup(spark, tracer.span)
    log_start = os.path.getsize(log_path)
    counters = [codegen_counters(spark)]
    _, _, passes, _ = run.measure(
        workload, spark, args.seconds / 2, tracer,
        after_first=lambda: counters.append(codegen_counters(spark)), warmup=0)
    results += passes
    fallbacks = count_fallbacks(log_path, log_start, os.path.getsize(log_path))
    out["codegen.fallbacks"] = (fallbacks / len(passes), "count")
    out["codegen.compiles"] = (counters[1][0] - counters[0][0], "count")
    out["codegen.compile_s"] = (counters[1][1] - counters[0][1], "s")

    # the layers' jobs the workload does not run itself, so every traced
    # run reports every layer: a cold flagship pass and one checkpoint
    # crash + resume
    by_name = {workload.name: workload}
    last = {workload.name: passes[-1]["outcome"]}
    for name in ("flagship_rollup", "checkpoint_resume"):
        if name in by_name:
            continue
        other = workloads.WORKLOADS[name](
            workload.input_dir, os.path.join(workload.work, name), truth, cores)
        os.makedirs(other.work, exist_ok=True)
        other.prepare()
        by_name[name] = other
        rec = one_pass(other, spark, tracer, 0)
        results.append(rec)
        last[name] = rec["outcome"]
    ck = last["checkpoint_resume"]
    walls = ck["wall_secs"]
    out["checkpoint.stage_s"] = (tracer.durations("checkpoint.stage")[-1], "s")
    out["checkpoint.bucket_p50_s"] = (statistics.median(walls), "s")
    out["checkpoint.bucket_max_s"] = (max(walls), "s")
    out["checkpoint.resume_skipped"] = (len(ck["skipped"]), "count")

    # config compile (build_spec + compile) and optimize (executedPlan)
    config_path = workloads.write_pdb_config(workload.work)
    agg = workloads.compile_pdb_config(spark, config_path, workload.input_dir, tracer.span)
    with tracer.span("plans.optimize"):
        agg._jdf.queryExecution().executedPlan()
    out["plans.compile_s"] = (tracer.durations("plans.compile")[-1], "s")
    out["plans.optimize_s"] = (tracer.durations("plans.optimize")[-1], "s")

    out.update(prefix_sweep(spark, tracer, prefix_frames(spark, workload.input_dir,
                                                          config_path), turns))
    out["sources.input_bytes_per_turn"] = (
        workloads.data_bytes(workload.input_dir) / turns, "B")

    # scaling probe: two warm flagship passes back to back, the first on
    # all CPUs (it also counts as a timed pass for the flagship layers),
    # the second with the JVM pinned to one CPU
    flagship = by_name["flagship_rollup"]
    rec = one_pass(flagship, spark, tracer, 1000, timed=True, cpus=cores)
    results.append(rec)
    out["sinks.files"] = (
        len(workloads.data_files(os.path.join(rec["outcome"]["out"], "sinks"))), "count")
    all_cpus = os.sched_getaffinity(0)
    pin_jvm(spark, {min(all_cpus)})
    try:
        results.append(one_pass(flagship, spark, tracer, 1001, cpus=1))
    finally:
        pin_jvm(spark, all_cpus)
    t_all = tracer.durations("pass.flagship_rollup", cpus=cores)[-1]
    t_one = tracer.durations("pass.flagship_rollup", cpus=1)[-1]
    out["scaling.eff_1_to_4"] = (t_one / (t_all * cores), "ratio")

    for metric, span in (("sinks.write_s", "sinks.write"),
                         ("metrics.histogram_s", "metrics.histogram"),
                         ("grouping.rollup_s", "grouping.rollup")):
        out[metric] = (statistics.median(tracer.durations(span, timed_pass=True)), "s")
    return out


def one_pass(workload, spark, tracer, i: int, **attrs) -> dict:
    """One traced, checked pass of ``workload`` (a probe, never timed
    into an end-to-end metric)."""
    try:
        with tracer.span(f"pass.{workload.name}", pass_no=i, **attrs):
            outcome = workload.run_pass(spark, i, tracer.span)
        problems = workload.check(outcome)
    except Exception as e:
        outcome, problems = None, [repr(e)]
    for p in problems:
        print(f"{workload.name} probe pass {i} FAILED: {p}", file=sys.stderr)
    return {"problems": problems, "outcome": outcome}
