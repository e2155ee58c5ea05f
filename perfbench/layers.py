"""Reduce a traced replay to the per-layer table.

Per op: each layer's self time (ms) and py4j round-trips from the spans,
plus the counters read after the op (Catalyst phases, job-group stage
metrics, scan nodes, the exec probe). Per-layer figures are means per op,
by op type and over all traced ops. Catalyst phase times overlap the build
and collect spans that trigger them, so they are shown beside the spans,
not added into the coverage.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracer import self_times

# span layer -> metric holding that layer's self time
SELF_METRIC = {
    "build": "client.self_ms",  # the benchmark's own op closure
    "database": "database.self_ms",
    "velesql.parse": "velesql.parse_ms",
    "velesql.translate": "velesql.translate_ms",
    "topk": "topk.build_ms",
    "bm25.scores": "bm25.scores_ms",
    "fusion": "fusion.build_ms",
    "graph": "graph.build_ms",
    "bm25.index_build": "bm25.index_build_ms",
    "bm25.incremental_update": "bm25.incremental_update_ms",
    "staging.stage": "staging.stage_ms",
    "staging.release": "staging.release_ms",
    "storage.append": "storage.append_ms",
    "storage.read": "storage.read_ms",
    "storage.compact": "storage.compact_ms",
    "collect": "collect.ms",
}

# (metric, unit) rows of the printed table, grouped by layer
TABLE = [
    ("velesql.parse_ms", "ms"), ("velesql.translate_ms", "ms"),
    ("velesql.translate_py4j", "count"),
    ("build.ms", "ms"), ("build.py4j_calls", "count"),
    ("database.self_ms", "ms"), ("topk.build_ms", "ms"),
    ("bm25.scores_ms", "ms"), ("fusion.build_ms", "ms"),
    ("graph.build_ms", "ms"), ("client.self_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.tasks", "count"),
    ("exec.executor_run_ms", "ms"), ("exec.executor_cpu_ms", "ms"),
    ("exec.input_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.file_scans", "count"), ("exec.cached_scans", "count"),
    ("fetch.ms", "ms"), ("fetch.rows", "count"),
    ("staging.stage_calls", "count"), ("staging.stage_ms", "ms"),
    ("staging.release_ms", "ms"),
    ("bm25.index_build_ms", "ms"), ("bm25.incremental_update_ms", "ms"),
    ("storage.append_ms", "ms"), ("storage.read_ms", "ms"),
    ("storage.compact_ms", "ms"),
    ("trace.coverage", "ratio"),
]

# workload state after the replay; storage.segments is the peak over it
STATE = [("bm25.plan_nodes", "count"), ("storage.segments", "count"),
         ("storage.bytes_written_per_user_byte", "ratio")]

# the per_layer metrics of BENCHMARK.json: present on every workload
JSON_METRICS = [
    ("build.ms", "ms"), ("build.py4j_calls", "count"),
    ("topk.build_ms", "ms"), ("bm25.scores_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.tasks", "count"),
    ("exec.executor_run_ms", "ms"), ("exec.executor_cpu_ms", "ms"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.cached_scans", "count"),
    ("fetch.ms", "ms"), ("fetch.rows", "count"),
    ("bm25.index_build_ms", "ms"), ("bm25.plan_nodes", "count"),
    ("trace.coverage", "ratio"), ("trace.overhead_pct", "%"),
]

# counters that must repeat exactly across two runs with the same seed
REPEAT = ("build.py4j_calls", "exec.jobs", "exec.file_scans")


def count_scans(plan: str) -> dict:
    """Scan nodes of an executed plan's string (the final adaptive plan).
    The string also prints each cached relation's own plan under
    InMemoryRelation; those file scans ran when the cache was filled, so
    they are skipped."""
    final = plan.split("== Initial Plan ==")[0]
    files = cached = 0
    skip_below = None
    for line in final.splitlines():
        indent = len(line) - len(line.lstrip(" +-:*()0123456789"))
        if skip_below is not None and indent > skip_below:
            continue
        skip_below = None
        if "InMemoryRelation" in line:
            skip_below = indent
        elif "InMemoryTableScan" in line:
            cached += 1
        elif "FileScan" in line:
            files += 1
    return {"exec.file_scans": files, "exec.cached_scans": cached}


def _descendants(spans, root_sid):
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out, todo = [], [root_sid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c.sid)
    return out


def op_layers(spans, selfs, root) -> dict:
    """Layer metrics of one op from the spans under its root."""
    m = defaultdict(float)
    under = _descendants(spans, root.sid)
    for sp in under:
        m[SELF_METRIC.get(sp.layer, sp.layer + ".self_ms")] += \
            selfs[sp.sid] * 1000.0
        if sp.layer == "staging.stage":
            m["staging.stage_calls"] += 1
        if sp.layer == "build":
            m["build.ms"] += (sp.end - sp.start) * 1000.0
            m["build.py4j_calls"] += sp.py4j + sum(
                d.py4j for d in _descendants(spans, sp.sid))
        if sp.layer == "velesql.translate":
            m["velesql.translate_py4j"] += sp.py4j + sum(
                d.py4j for d in _descendants(spans, sp.sid))
    wall = root.end - root.start
    m["trace.coverage"] = (sum(selfs[sp.sid] for sp in under) / wall
                           if wall > 0 else 0.0)
    return m


def reduce(tracer, samples, states: list[dict],
           untraced_read_ms: list) -> dict:
    """states: the workload's layer state after each traced op."""
    spans = tracer.spans
    selfs = self_times(spans)
    roots = {s.op_id: s for s in spans if s.parent is None and s.layer == "op"}
    per_op = []
    for idx, s in enumerate(samples):
        m = op_layers(spans, selfs, roots[idx])
        m.update(s.layers)
        per_op.append((s.op.type, m))
    setup = [s for s in spans if s.layer == "setup"]
    setup_m = op_layers(spans, selfs, setup[0]) if setup else {}

    by_type = defaultdict(list)
    for t, m in per_op:
        by_type[t].append(m)
    names = [k for k, _ in TABLE]
    mean = {}
    for k in names:
        mean[k] = statistics.fmean(m.get(k, 0.0) for _, m in per_op)
    type_mean = {t: {k: statistics.fmean(m.get(k, 0.0) for m in ms)
                     for k in names} for t, ms in by_type.items()}
    traced_reads = [s.ms for s in samples if s.op.read and s.error is None]
    overhead = (statistics.median(traced_reads)
                / statistics.median(untraced_read_ms) - 1.0) * 100.0 \
        if traced_reads and untraced_read_ms else None
    coverage_ok = all(abs(v["trace.coverage"] - 1.0) <= 0.10
                      for v in type_mean.values())
    state = dict(states[-1])
    if "storage.segments" in state:  # compaction truncates the log
        state["storage.segments"] = max(st["storage.segments"]
                                        for st in states)
    repeat = {k: [round(m.get(k, 0.0)) for _, m in per_op] for k in REPEAT}
    repeat.update({k: state.get(k) for k in ("storage.segments",
                                              "bm25.plan_nodes")})
    return {"mean": mean, "by_type": type_mean, "state": state,
            "setup": dict(setup_m), "overhead_pct": overhead,
            "coverage_ok": coverage_ok, "missing": list(tracer.missing),
            "ops": len(samples), "repeat_counters": repeat}


def json_metrics(table: dict) -> dict:
    out = {}
    for k, unit in JSON_METRICS:
        if k == "trace.overhead_pct":
            v = table["overhead_pct"]
        elif k == "bm25.index_build_ms":  # the index is built in set-up
            v = table["setup"].get(k, 0.0)
        elif k in table["state"]:
            v = table["state"][k]
        else:
            v = table["mean"].get(k)
        out[k] = {"value": v, "unit": unit}
    return out


def print_table(table: dict) -> None:
    types = sorted(table["by_type"])
    print(f"# per-layer (traced replay, mean per op; {table['ops']} ops)")
    print("  " + f"{'metric':<34}{'unit':>7}{'all':>12}"
          + "".join(f"{t[:12]:>13}" for t in types))
    for k, unit in TABLE:
        row = f"  {k:<34}{unit:>7}{table['mean'][k]:>12.4g}"
        row += "".join(f"{table['by_type'][t][k]:>13.4g}" for t in types)
        print(row)
    for k, unit in STATE:
        v = table["state"].get(k)
        print(f"  {k:<34}{unit:>7}{'n/a' if v is None else f'{v:.4g}':>12}")
    print(f"  {'bm25.index_build_ms (set-up)':<34}{'ms':>7}"
          f"{table['setup'].get('bm25.index_build_ms', 0.0):>12.4g}")
    ov = table["overhead_pct"]
    print(f"  {'trace.overhead_pct':<34}{'%':>7}"
          f"{'n/a' if ov is None else f'{ov:.4g}':>12}")
    print(f"  trace.coverage within 10% of op wall for every op type: "
          f"{'yes' if table['coverage_ok'] else 'NO'}")
    print("  layers the tracer could not reach: "
          + (", ".join(table["missing"]) or "none"))
    print(f"  span dump: {table.get('dump', 'n/a')}")
