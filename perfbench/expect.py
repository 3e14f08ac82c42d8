"""Expected outputs, computed without the Spark program.

- The flagship routes come from DuckDB running the repo's oracle SQL
  (``PARSED_CTE`` / ``ENRICHED_CTE`` / ``ROUTED_CTE`` of
  ``axosyslog_spark/oracle.py``) as a view over the same parquet input.
- The ``pdb_config`` aggregate comes from the generator's per-row draws
  (``gen.truth``): which rule each line was built for is known by
  construction.

Results are cached next to the input so a repeated seed skips them.
"""

from __future__ import annotations

import collections
import json
import os

import numpy as np

import gen


def key(row) -> str:
    """One group's key, e.g. ``sink_errors|3|retrieval`` (NULL -> '')."""
    return "|".join("" if v is None else str(v) for v in row)


def flagship(input_dir: str, threads: int) -> dict:
    """Per-sink counts and the (sink, severity, tool_category) histogram."""
    path = os.path.join(input_dir, "_flagship_expect.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    from axosyslog_spark.oracle import ENRICHED_CTE, PARSED_CTE, ROUTED_CTE

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(
        "CREATE VIEW transcripts AS SELECT * FROM read_parquet("
        f"'{input_dir}/*.parquet')"
    )
    ctes = ",\n".join(c.strip() for c in (PARSED_CTE, ENRICHED_CTE, ROUTED_CTE))
    rows = con.execute(
        f"WITH {ctes}\nSELECT sink, severity, tool_category, count(*) "
        "FROM routed GROUP BY ALL"
    ).fetchall()
    con.close()
    hist = {key(r[:3]): int(r[3]) for r in rows}
    sinks = collections.Counter()
    for r in rows:
        sinks[r[0]] += int(r[3])
    out = {"hist": hist, "sinks": dict(sinks), "routed": sum(sinks.values())}
    with open(path, "w") as f:
        json.dump(out, f)
    return out


def pdb_config(truth: dict) -> dict:
    """(sink, rule_id, host_app) -> n for the benchmark's PDB config,
    from the generator's per-row draws."""
    syslog = truth["_syslog"]
    err = syslog & (truth["_sev"] <= 3)
    retrieval = truth["_cat"] == "retrieval"
    host_app = np.where(
        syslog,
        np.char.add(
            np.char.add("host-", truth["_host"].astype(str)),
            np.char.add("/proc_", np.array(gen.APPS)[truth["_app"]]),
        ),
        "nohost/na",
    )
    rule = truth["_rule"]
    out = {}
    for sink, mask in (
        ("sink_err", err),
        ("sink_retrieval", retrieval),
        ("sink_rest", ~err & ~retrieval),
    ):
        keys, counts = np.unique(
            np.char.add(np.char.add(rule[mask].astype(str), "|"), host_app[mask]),
            return_counts=True,
        )
        for k, n in zip(keys, counts):
            out[f"{sink}|{k}"] = int(n)
    return dict(out)


def diff(got: dict, want: dict, limit: int = 3) -> list[str]:
    """Keys whose counts differ (empty list = match)."""
    bad = [
        f"{k}: got {got.get(k)} want {want.get(k)}"
        for k in sorted(set(got) | set(want))
        if got.get(k) != want.get(k)
    ]
    return bad[:limit] + ([f"... {len(bad) - limit} more"] if len(bad) > limit else [])
