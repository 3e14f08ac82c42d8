"""Seeded transcript generator for the benchmark.

The program under test only ever sees the parquet directory written
here. Every row's shape, severity, role and tool are drawn
independently from one ``numpy`` generator seeded by ``--seed``, so
the flagship routes overlap (fan-out > 1) and the same seed always
yields byte-identical inputs.

Shapes of the ``text`` column (the rule each one hits in the
benchmark's PatternDB is fixed by construction):

    syslog_kv   <PRI>1 TS host-H proc_APP PID - - status=.. latency_ms=.. path=..   kv_plain
    syslog_svc  <PRI>1 TS host-H proc_APP PID - - svc-NN op=.. code=.. detail=..    synNN
    badhdr      BADHDR TS host-H status=.. latency_ms=..   (~2 %, malformed header)  badhdr
    kv          status=.. latency_ms=.. path=.. retry=..                             kv_retry
    json        {"event": .., "k": .., "latency_ms": ..}                             (none)
    free        turn about APP with no structure                                     free

Inputs are cached under ``perfbench/.work/inputs`` keyed by
(seed, turns, files) so repeated runs skip generation; generation is
never inside a timed window.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SHAPES = ("syslog_kv", "syslog_svc", "badhdr", "kv", "json", "free")
SHAPE_P = (0.30, 0.12, 0.02, 0.26, 0.20, 0.10)
APPS = ("click", "view", "error", "run", "purchase")
ROLES = ("user", "assistant", "system", "tool")
ROLE_P = (0.3, 0.3, 0.1, 0.3)
# tool: '' (40 %), a registered tool_00..tool_15 (50 %), an unknown one (10 %)
TOOLS = ("",) + tuple(f"tool_{i:02d}" for i in range(16)) + tuple(
    f"tool_unknown_{i}" for i in range(3)
)
TOOL_P = (0.4,) + (0.5 / 16,) * 16 + (0.1 / 3,) * 3
# synthetic PatternDB rules: N_SYN_RULES are compiled, the first
# N_SYN_MATCHED of them have lines in the input, the rest never match
N_SYN_RULES = 46
N_SYN_MATCHED = 24
SVC_OPS = ("read", "write", "scan", "sync")
SVC_CODES = (200, 201, 404, 500)
HOT_CONVS = 5
HOT_FRACTION = 0.3
TURNS_PER_CONV = 200
TS0 = 1704067200  # 2024-01-01T00:00:00Z

# the tool registry of axosyslog_spark.operators.enrich, restated so
# the expected counts do not depend on the program's own tables
TOOL_CATEGORIES = ("retrieval", "codegen", "shell", "analysis")
TOOL_RISKS = ("low", "medium", "high")


def tool_category(tool: str) -> str:
    if tool.startswith("tool_") and tool[5:].isdigit():
        return TOOL_CATEGORIES[int(tool[5:]) % 4]
    return "unknown"


def tool_risk(tool: str) -> str:
    if tool.startswith("tool_") and tool[5:].isdigit():
        return TOOL_RISKS[int(tool[5:]) % 3]
    return "medium"


def _take(values, idx: np.ndarray) -> pa.Array:
    return pc.take(pa.array(values, pa.string()), pa.array(idx))


def _str(x: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(x), pa.string())


def _join(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def draw(seed: int, turns: int) -> dict[str, np.ndarray]:
    """Per-row draws (all independent). Arrays of length ``turns``."""
    rng = np.random.default_rng(seed)
    n_convs = max(turns // TURNS_PER_CONV, HOT_CONVS + 1)
    hot = rng.random(turns) < HOT_FRACTION
    conv = np.where(
        hot,
        rng.integers(0, HOT_CONVS, turns),
        rng.integers(HOT_CONVS, n_convs, turns),
    )
    return {
        "conv": conv,
        "shape": rng.choice(len(SHAPES), turns, p=SHAPE_P),
        "sev": rng.integers(0, 8, turns),
        "fac": rng.integers(0, 24, turns),
        "role": rng.choice(len(ROLES), turns, p=ROLE_P),
        "tool": rng.choice(len(TOOLS), turns, p=TOOL_P),
        "host": rng.integers(0, 5, turns),
        "app": rng.integers(0, len(APPS), turns),
        "procid": rng.integers(0, 1000, turns),
        "error": rng.random(turns) < 0.3,
        "latency": rng.integers(1, 3700, turns),
        "retry": rng.integers(0, 3, turns),
        "k": rng.integers(0, 97, turns),
        "svc": rng.integers(0, N_SYN_MATCHED, turns),
        "op": rng.integers(0, len(SVC_OPS), turns),
        "code": rng.integers(0, len(SVC_CODES), turns),
        "req": rng.integers(0, 1_000_000, turns),
        "ts": TS0 + np.sort(rng.integers(0, 30 * 86400, turns)),
    }


def _lines(shape: str, d: dict[str, np.ndarray]) -> pa.Array:
    secs = d["ts"] - TS0
    # the 30 generated days all fall in January 2024
    ts = _join(
        _take([f"2024-01-{day + 1:02d}T" for day in range(30)], secs // 86400),
        _take([f"{h:02d}:{m:02d}:{x:02d}" for h in range(24) for m in range(60)
               for x in range(60)], secs % 86400),
    )
    status = _take(("ok", "error"), d["error"].astype(np.int64))
    latency = _str(d["latency"])
    app = _take(APPS, d["app"])
    host = _join("host-", _str(d["host"]))
    if shape == "badhdr":
        return _join("BADHDR ", ts, " ", host, " status=", status,
                     " latency_ms=", latency)
    if shape == "kv":
        return _join("status=", status, " latency_ms=", latency, " path=/v1/", app,
                     " retry=", _str(d["retry"]))
    if shape == "json":
        return _join('{"event": "', app, '", "k": ', _str(d["k"]),
                     ', "latency_ms": ', latency, "}")
    if shape == "free":
        return _join("turn about ", app, " with no structure")
    header = _join("<", _str(d["fac"] * 8 + d["sev"]), ">1 ", ts, " ", host,
                   " proc_", app, " ", _str(d["procid"]), " - - ")
    if shape == "syslog_kv":
        return _join(header, "status=", status, " latency_ms=", latency,
                     " path=/v1/", app)
    svc = _take([f"svc-{i:02d}" for i in range(N_SYN_MATCHED)], d["svc"])
    return _join(header, svc, " op=", _take(SVC_OPS, d["op"]),
                 " code=", _take([str(c) for c in SVC_CODES], d["code"]),
                 " detail=req-", _str(d["req"]), " took ", latency, " ms")


def build_table(d: dict[str, np.ndarray]) -> pa.Table:
    turns = len(d["conv"])
    # turn_idx: rank of the row inside its conversation, in row order
    order = np.argsort(d["conv"], kind="stable")
    sorted_conv = d["conv"][order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_conv)) + 1]
    run_len = np.diff(np.r_[starts, turns])
    ranks = np.arange(turns) - np.repeat(starts, run_len)
    turn_idx = np.empty(turns, np.int32)
    turn_idx[order] = ranks

    # each shape's lines are built only for that shape's rows, then
    # put back in row order with one take
    rows = [np.flatnonzero(d["shape"] == i) for i in range(len(SHAPES))]
    parts = [_lines(shape, {k: v[r] for k, v in d.items()})
             for shape, r in zip(SHAPES, rows)]
    inverse = np.empty(turns, np.int64)
    inverse[np.concatenate(rows)] = np.arange(turns)
    text = pa.concat_arrays(parts).take(pa.array(inverse))
    conv_id = _join("conv-", pc.utf8_lpad(_str(d["conv"]), 8, "0"))
    return pa.table({
        "conv_id": conv_id,
        "turn_idx": pa.array(turn_idx),
        "role": _take(ROLES, d["role"]),
        "text": text,
        "tool": _take(TOOLS, d["tool"]),
        "ts": pa.array(d["ts"], pa.timestamp("s", tz="UTC")),
    })


def truth(d: dict[str, np.ndarray]) -> dict:
    """Counts known by construction (independent of the program)."""
    turns = len(d["conv"])
    shape = d["shape"]
    syslog = (shape == SHAPES.index("syslog_kv")) | (shape == SHAPES.index("syslog_svc"))
    rule = np.full(turns, "", dtype=object)
    for name, rid in (("syslog_kv", "kv_plain"), ("badhdr", "badhdr"),
                      ("kv", "kv_retry"), ("free", "free")):
        rule[shape == SHAPES.index(name)] = rid
    svc_rows = shape == SHAPES.index("syslog_svc")
    rule[svc_rows] = np.array([f"syn{i:02d}" for i in range(N_SYN_MATCHED)],
                              dtype=object)[d["svc"][svc_rows]]
    cats = np.array([tool_category(t) for t in TOOLS], dtype=object)[d["tool"]]
    conv_rows = np.bincount(d["conv"])
    return {
        "turns": turns,
        "convs": int((conv_rows > 0).sum()),
        "shape_counts": {s: int((shape == i).sum()) for i, s in enumerate(SHAPES)},
        "hot_rows": int(conv_rows[:HOT_CONVS].sum()),
        "max_conv_rows": int(conv_rows.max()),
        "median_conv_rows": int(np.median(conv_rows[conv_rows > 0])),
        # per-row columns for the pdb_config expectation (kept in memory)
        "_rule": rule,
        "_syslog": syslog,
        "_sev": d["sev"],
        "_host": d["host"],
        "_app": d["app"],
        "_cat": cats,
    }


def public(t: dict) -> dict:
    return {k: v for k, v in t.items() if not k.startswith("_")}


def ensure_input(work: str, seed: int, turns: int, files: int, keep: int = 4):
    """Return (parquet_dir, truth) for (seed, turns, files), generating
    into the cache on a miss. At most ``keep`` inputs stay cached."""
    root = os.path.join(work, "inputs")
    key = f"s{seed}-n{turns}-f{files}"
    path = os.path.join(root, key)
    d = draw(seed, turns)
    t = truth(d)
    if os.path.exists(os.path.join(path, "_OK")):
        os.utime(path)
        return path, t
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = build_table(d)
    rows = -(-turns // files)
    for i in range(files):
        pq.write_table(table.slice(i * rows, rows),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    with open(os.path.join(path, "_OK"), "w") as f:
        json.dump(public(t), f)
    cached = sorted(
        (os.path.getmtime(os.path.join(root, k)), k) for k in os.listdir(root)
    )
    for _, old in cached[:-keep]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return path, t

