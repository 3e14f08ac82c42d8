"""The three benchmark workloads.

Each workload has ``setup`` (inside the ``setup_s`` window: config
load and plan compile where it has them), ``run_pass`` (one closed-loop
job, the unit that ``first_pass_s`` and ``turns_per_s`` time),
``check`` (compares a pass's outputs with the expected values from
``expect.py``; returns a list of problems) and ``sink_bytes`` (bytes
the pass's sinks wrote).
"""

from __future__ import annotations

import contextlib
import copy
import json
import os
import shutil

import pyarrow.parquet as pq

import expect
import gen

N_BUCKETS = 8
CRASH_AFTER = 4


def no_span(name: str, **attrs):
    """Stand-in for ``tracing.Tracer.span`` when tracing is off."""
    return contextlib.nullcontext()


def data_files(path: str) -> list[str]:
    """The data files under ``path`` (no checksums or markers)."""
    return [os.path.join(root, f) for root, _, files in os.walk(path)
            for f in files if not f.startswith((".", "_"))]


def data_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(path))


class Workload:
    name = ""

    def __init__(self, input_dir: str, work: str, truth: dict, cores: int):
        self.input_dir = input_dir
        self.work = work
        self.truth = truth
        self.cores = cores

    def prepare(self) -> None:
        """Expected outputs and config files (outside every timed window)."""

    def setup(self, spark, span=no_span) -> None:
        """Program-side set-up that a user pays once per process."""

    def out_dir(self, i: int) -> str:
        """A fresh output directory for pass ``i``; the previous pass's
        is removed, so one output lives at a time."""
        for j in (i - 1, i):
            shutil.rmtree(os.path.join(self.work, f"pass{j}"), ignore_errors=True)
        return os.path.join(self.work, f"pass{i}")

    def corrupt(self, outcome: dict) -> dict:
        """A copy of ``outcome`` with one count off by one."""
        bad = copy.deepcopy(outcome)
        k = sorted(bad["counts"])[0]
        bad["counts"][k] += 1
        return bad

    def sink_bytes(self, outcome: dict) -> int:
        return data_bytes(outcome["out"])


class FlagshipRollup(Workload):
    """read → run_pipeline_observed → write_sinks → sink_histogram over
    the written sinks → salted_ordered_agg per conversation, written."""

    name = "flagship_rollup"

    def prepare(self) -> None:
        self.want = expect.flagship(self.input_dir, self.cores)

    def run_pass(self, spark, i: int, span=no_span) -> dict:
        from axosyslog_spark.operators.grouping import salted_ordered_agg
        from axosyslog_spark.operators.metrics import sink_histogram
        from axosyslog_spark.plans.pipeline import run_pipeline_observed, write_sinks

        out = self.out_dir(i)
        transcripts = spark.read.parquet(self.input_dir)
        routed, obs = run_pipeline_observed(spark, transcripts)
        with span("sinks.write"):
            write_sinks(routed, os.path.join(out, "sinks"))
        with span("metrics.histogram"):
            hist = sink_histogram(spark.read.parquet(os.path.join(out, "sinks"))).collect()
        with span("grouping.rollup"):
            salted_ordered_agg(transcripts).write.parquet(os.path.join(out, "rollup"))
        got = obs.get
        counts = {s: int(got[s]) for s in self.want["sinks"]}
        counts["__total"] = int(got["__total"])
        return {
            "out": out,
            "counts": counts,
            "hist": {expect.key(r[:3]): int(r[3]) for r in hist},
        }

    def check(self, o: dict) -> list[str]:
        want_counts = dict(self.want["sinks"], __total=self.want["routed"])
        problems = expect.diff(o["counts"], want_counts)
        problems += expect.diff(o["hist"], self.want["hist"])
        rollup = pq.read_table(os.path.join(o["out"], "rollup"), columns=["n_turns"])
        if rollup.num_rows != self.truth["convs"]:
            problems.append(f"rollup rows {rollup.num_rows} != convs {self.truth['convs']}")
        n = sum(rollup.column("n_turns").to_pylist())
        if n != self.truth["turns"]:
            problems.append(f"rollup turns {n} != {self.truth['turns']}")
        return problems


class PdbConfig(Workload):
    """JSON config → build_spec → PipelineSpec.compile → the
    metrics-probe aggregate table, written as parquet."""

    name = "pdb_config"
    AGG = "sink_rule_id_host_app"

    def prepare(self) -> None:
        self.want = expect.pdb_config(self.truth)
        self.config_path = write_pdb_config(self.work)

    def setup(self, spark, span=no_span) -> None:
        self.agg = compile_pdb_config(spark, self.config_path, self.input_dir, span)

    def run_pass(self, spark, i: int, span=no_span) -> dict:
        out = self.out_dir(i)
        with span("plans.run_aggregate"):
            self.agg.write.parquet(out)
        rows = pq.read_table(out).to_pylist()
        return {
            "out": out,
            "counts": {
                expect.key((r["sink"], r["rule_id"], r["host_app"])): r["n"]
                for r in rows
            },
        }

    def check(self, o: dict) -> list[str]:
        return expect.diff(o["counts"], self.want)


class CheckpointResume(Workload):
    """run_checkpointed with a crash injected after CRASH_AFTER of
    N_BUCKETS buckets, then a resume to completion, in a fresh output
    directory each pass."""

    name = "checkpoint_resume"

    def prepare(self) -> None:
        self.want = expect.flagship(self.input_dir, self.cores)

    def run_pass(self, spark, i: int, span=no_span) -> dict:
        from axosyslog_spark import checkpoint as ck

        out = self.out_dir(i)
        transcripts = spark.read.parquet(self.input_dir)
        # run_checkpointed stages the input itself when it is not staged
        # yet; staging first through the public call times it apart
        with span("checkpoint.stage"):
            ck.stage_input(transcripts, out, N_BUCKETS)
        crashed = False
        try:
            with span("checkpoint.crash_run"):
                ck.run_checkpointed(spark, transcripts, out, n_buckets=N_BUCKETS,
                                    run_id=f"p{i}-crash", fail_after_buckets=CRASH_AFTER)
        except ck.InjectedFailure:
            crashed = True
        before = sorted(ck.committed_buckets(out))
        with span("checkpoint.resume_run"):
            rep = ck.run_checkpointed(spark, transcripts, out, n_buckets=N_BUCKETS,
                                      run_id=f"p{i}-resume")
        lineage = ck.committed_buckets(out)
        counts = {s: 0 for s in self.want["sinks"]}
        for rec in lineage.values():
            for s, n in rec["sink_counts"].items():
                counts[s] += n
        counts["__total"] = rep.total_rows
        return {
            "out": out,
            "crashed": crashed,
            "before": before,
            "skipped": rep.skipped_buckets,
            "processed": rep.processed_buckets,
            "counts": counts,
            "wall_secs": [lineage[b]["wall_secs"] for b in sorted(lineage)],
        }

    def check(self, o: dict) -> list[str]:
        problems = []
        if not o["crashed"]:
            problems.append("injected crash did not fire")
        if o["before"] != list(range(CRASH_AFTER)):
            problems.append(f"committed before resume {o['before']}")
        if o["skipped"] != o["before"]:
            problems.append(f"resume skipped {o['skipped']}, committed {o['before']}")
        if o["processed"] != list(range(CRASH_AFTER, N_BUCKETS)):
            problems.append(f"resume processed {o['processed']}")
        want_counts = dict(self.want["sinks"], __total=self.want["routed"])
        problems += expect.diff(o["counts"], want_counts)
        hist = output_histogram(os.path.join(o["out"], "bucket=*", "*.parquet"))
        problems += expect.diff(hist, self.want["hist"])
        return problems

    def sink_bytes(self, o: dict) -> int:
        return sum(
            data_bytes(os.path.join(o["out"], d))
            for d in os.listdir(o["out"]) if d.startswith("bucket=")
        )


def output_histogram(glob: str) -> dict:
    """(sink, severity, tool_category) histogram of written parquet, read
    by DuckDB rather than by the program."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT sink, severity, tool_category, count(*) FROM "
        f"read_parquet('{glob}', hive_partitioning = false) GROUP BY ALL"
    ).fetchall()
    con.close()
    return {expect.key(r[:3]): int(r[3]) for r in rows}


def compile_pdb_config(spark, config_path: str, input_dir: str, span=no_span):
    """The runner --config path: build_spec → load_lookups →
    PipelineSpec.compile. Returns the lazily planned aggregate table."""
    from axosyslog_spark.plans.config import build_spec, load_lookups

    with span("plans.compile"):
        spec, lookup_srcs = build_spec(config_path)
        compiled = spec.compile(
            spark, spark.read.parquet(input_dir),
            lookup_dfs=load_lookups(spark, lookup_srcs),
        )
    return compiled.aggregates[PdbConfig.AGG]


def write_pdb_config(work: str) -> str:
    """The runner --config document: the transcripts.pdb fixture plus
    N_SYN_RULES synthetic rules (the first N_SYN_MATCHED have lines in
    the input), a tool lookup, a template, a filterx block, 3 routes and
    one aggregate. Returns the config path."""
    import axosyslog_spark

    fixture = os.path.join(os.path.dirname(axosyslog_spark.__file__),
                           "fixtures", "transcripts.pdb")
    with open(fixture) as f:
        xml = f.read()
    syn = "".join(
        f"<rule id='syn{i:02d}' class='service' provider='perfbench'><patterns>"
        f"<pattern>svc-{i:02d} op=@ESTRING:op: @code=@NUMBER:code@ "
        "detail=@ANYSTRING:detail@</pattern></patterns></rule>\n"
        for i in range(gen.N_SYN_RULES)
    )
    xml = xml.replace("    </rules>", syn + "    </rules>", 1)
    pdb_path = os.path.join(work, "rules.pdb")
    with open(pdb_path, "w") as f:
        f.write(xml)
    tools = [t for t in gen.TOOLS if t.startswith("tool_") and t[5:].isdigit()]
    config = {
        "patterns": {"xml": pdb_path},
        "pattern_source": "body",
        "lookups": [{
            "key": "tool",
            "db_key": "tool",
            "columns": ["tool_category", "risk_level"],
            "default": {"tool_category": "unknown", "risk_level": "medium"},
            "rows": [{"tool": t, "tool_category": gen.tool_category(t),
                      "risk_level": gen.tool_risk(t)} for t in tools],
        }],
        "templates": {"host_app": "${HOST:-nohost}/$(lowercase ${PROGRAM:-na})"},
        "filterx": "$is_err = $severity <= 3;",
        "routes": [
            {"sink": "sink_err", "condition": '("${is_err}" == "true")'},
            {"sink": "sink_retrieval",
             "condition": '("${tool_category}" == "retrieval")', "final": True},
            {"sink": "sink_rest", "fallback": True},
        ],
        "aggregates": [{"labels": ["sink", "rule_id", "host_app"], "counter": "n"}],
    }
    path = os.path.join(work, "pdb_config.json")
    with open(path, "w") as f:
        json.dump(config, f, indent=1)
    return path


WORKLOADS = {w.name: w for w in (FlagshipRollup, PdbConfig, CheckpointResume)}
