"""velesdb-spark benchmark: one closed-loop client against the public API.

    python3 perfbench/run.py --workload interactive|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Spark runs on local[nproc]; every file
the run writes (Spark scratch, JVM temp, generated inputs, the durable
collection) lives under .bench_work/ in the checkout and is removed at the
end, and a traced run leaves its span dump in perfbench/out/.

One run: start the session, set the workload up three times from the seed
(setup_s is the median; one warm round runs after the first, cold set-up),
then run the whole rounds of ops that fill S seconds at the workload's
nominal round time. After the window, every op's result is
checked against an independent reference (numpy, DuckDB, plain Python).
With --trace 1 the run then sets up once more and replays the first rounds
with the layer tracer installed (see tracer.py), and prints the per-layer
table. The last line of stdout is the JSON result; everything above it is
the human-readable report.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
TRACED_ROUNDS = 2
# A run is flagged noisy (and kept) when other guests on the host took
# more than NOISY_STEAL_PCT of CPU time while it ran, or when the host
# probe at its end differs from the one at its start by more than
# NOISY_PROBE_SHIFT. The load average cannot tell: back-to-back runs see
# the previous run's load in it.
NOISY_STEAL_PCT = 5.0
NOISY_PROBE_SHIFT = 0.25
END_TO_END = ["setup_s", "ops_per_s", "round_s", "knn_p50_ms",
              "text_p50_ms", "cached_mb_peak"]
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "round_s": "s",
         "cached_mb_peak": "MB", "space_amp": "ratio", "disk_mb": "MB",
         "upsert_rows_per_s": "rows/s", "flush_s": "s", "timed_wall_s": "s"}


def unit_of(metric: str) -> str:
    return UNITS.get(metric, "ms" if metric.endswith("_ms") else "")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_probe_ms() -> float:
    """Wall time of a fixed single-core loop, best of three. On a shared
    host the speed of a core wanders from minute to minute; the probe
    shows where it was when the run started and ended."""
    best = float("inf")
    for _ in range(3):
        t = perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i
        best = min(best, perf_counter() - t)
    return best * 1000.0


def cpu_times():
    """The aggregate cpu line of /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(a, b):
    """Share of CPU time the hypervisor gave to other guests between two
    /proc/stat readings (field 8 is steal)."""
    if not a or not b or len(a) < 8:
        return None
    total = sum(b) - sum(a)
    return 100.0 * (b[7] - a[7]) / total if total > 0 else None


def prepare_environment(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's work directory, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    mem = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # a heap fixed at its maximum: no resizing that differs run to run
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                 f"-XX:-UsePerfData -Xms{mem}")
    # spark-submit first runs a small launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                         "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)


class Session:
    """The Spark session plus the JVM-side readers the harness needs."""

    def __init__(self):
        from velesdb_spark.session import get_spark

        t = perf_counter()
        self.spark = get_spark("perfbench",
                               cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
        self.start_s = perf_counter() - t
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jsc = self.sc._jsc.sc()

    def versions(self) -> dict:
        return {"spark": self.spark.version,
                "java": self.sc._jvm.System.getProperty("java.version")}

    def cached_mb(self) -> float:
        infos = self.jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def job_metrics(self, group: str) -> dict:
        """Sum the stage metrics of every job run under a job group."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        jvm = self.sc._jvm
        out = defaultdict(float)
        empty_q = self.sc._gateway.new_array(jvm.double, 0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            out["exec.jobs"] += 1
            stage_ids = store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                attempts = store.stageData(stage_ids.apply(i), False,
                                           jvm.java.util.ArrayList(), False,
                                           empty_q)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    out["exec.tasks"] += st.numCompleteTasks()
                    out["exec.executor_run_ms"] += st.executorRunTime()
                    out["exec.executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    out["exec.input_bytes"] += st.inputBytes()
                    out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["exec.spill_bytes"] += (st.memoryBytesSpilled()
                                                + st.diskBytesSpilled())
        return dict(out)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def catalyst_phases(df) -> dict:
    phases = df._jdf.queryExecution().tracker().phases()
    return {f"catalyst.{k}_ms": float(phases.apply(k).durationMs())
            for k in ("analysis", "optimization", "planning")
            if phases.contains(k)}


def scan_counts(df) -> dict:
    from layers import count_scans

    return count_scans(df._jdf.queryExecution().executedPlan().toString())


class Sample:
    __slots__ = ("op", "ms", "rows", "error", "layers")

    def __init__(self, op, ms, rows, error):
        self.op, self.ms, self.rows, self.error = op, ms, rows, error
        self.layers: dict = {}


def run_op(op):
    """Time one op from the API call through collect()."""
    if op.before:
        op.before()
    t = perf_counter()
    try:
        df = op.build()
        rows = df.collect() if op.read else None
        error = None
    except Exception as exc:  # an op that raises counts as failed
        df, rows = None, None
        error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
    ms = (perf_counter() - t) * 1000.0
    if op.after and error is None:
        op.after()
    return df, Sample(op, ms, rows, error)


def rounds_for(wl, seconds: float) -> int:
    """The window is a whole number of rounds, sized from its length by the
    workload's nominal round time. A loop that stopped at a deadline would
    measure fewer ops on a slower host, and, where rounds slow down as the
    run goes on (ingest), would measure different rounds."""
    return max(1, round(seconds / wl.nominal_round_s))


def measure(session: Session, wl, seconds: float):
    """Closed loop, one client."""
    samples, peak = [], 0.0
    rounds = rounds_for(wl, seconds)
    t0 = perf_counter()
    for ops in itertools.islice(wl.rounds(), rounds):
        for op in ops:
            samples.append(run_op(op)[1])
            peak = max(peak, session.cached_mb())
    return samples, perf_counter() - t0, rounds, peak


def measure_traced(session: Session, wl, n_rounds: int, tracer):
    """Replay n_rounds with the tracer installed. Per op: the op span
    (build + collect, the same region the untraced window times), then,
    outside it, the Catalyst phases, the job-group counters, and an exec
    probe: a fresh build written to the noop sink with staged caches
    released around it, which splits collect() into exec and fetch."""
    from velesdb_spark.functions.staging import release_staged

    samples, states = [], []
    for ops in itertools.islice(wl.rounds(), n_rounds):
        for op in ops:
            idx = len(samples)
            tracer.op_id = idx
            group = f"perfbench-op{idx}"
            session.sc.setJobGroup(group, op.type)
            if op.before:
                op.before()
            root = tracer.open(op.type, "op")
            t = perf_counter()
            error, df, rows = None, None, None
            try:
                with tracer.span("build", "build"):
                    df = op.build()
                if op.read:
                    with tracer.span("collect", "collect"):
                        rows = df.collect()
            except Exception as exc:
                error = f"{type(exc).__name__}: {exc}"[:200]
            ms = (perf_counter() - t) * 1000.0
            tracer.close(root)
            if op.after and error is None:
                op.after()
            s = Sample(op, ms, rows, error)
            s.layers.update(session.job_metrics(group))
            if op.read and error is None:
                s.layers.update(catalyst_phases(df))
                s.layers.update(scan_counts(df))
                s.layers["fetch.rows"] = len(rows)
                tracer.enabled = False
                release_staged()
                probe = op.build()
                session.sc.setJobGroup(group + "-exec", "exec probe")
                t = perf_counter()
                probe.write.format("noop").mode("overwrite").save()
                exec_ms = (perf_counter() - t) * 1000.0
                tracer.enabled = True
                release_staged()
                s.layers["exec.ms"] = exec_ms
                collect_span = [sp for sp in tracer.spans
                                if sp.op_id == idx and sp.name == "collect"]
                s.layers["fetch.ms"] = max(
                    0.0, (collect_span[0].end - collect_span[0].start)
                    * 1000.0 - exec_ms)
            samples.append(s)
            states.append(wl.layer_state())
            session.sc.setJobGroup("perfbench-idle", "between ops")
    return samples, states


# ------------------------------------------------------------ reporting
def family_medians(samples) -> dict:
    """Per family, the mean of its op types' median latencies: a family
    that mixes a fast and a slow type (search, search_with_filter) would
    otherwise have a median that jumps between the two."""
    by = defaultdict(lambda: defaultdict(list))
    for s in samples:
        if s.error is None:
            by[s.op.family][s.op.type].append(s.ms)
    return {f: statistics.fmean(statistics.median(v) for v in types.values())
            for f, types in by.items()}


def type_stats(samples) -> dict:
    by = defaultdict(list)
    for s in samples:
        if s.error is None:
            by[s.op.type].append(s.ms)
    return by


def check_results(samples) -> list[tuple[int, str, str]]:
    errors = []
    for i, s in enumerate(samples):
        reason = s.error
        if reason is None and s.op.check is not None:
            try:
                reason = s.op.check(s.rows)
            except Exception as exc:  # a check that cannot run is a failure
                reason = f"check raised {type(exc).__name__}: {exc}"
        if reason:
            errors.append((i, s.op.type, reason))
    return errors


def end_to_end(samples, wall, rounds, peak, setup_reps, wl) -> dict:
    from stats import median, percentile, highest_reportable

    reads = [s.ms for s in samples if s.op.read and s.error is None]
    fam = family_medians(samples)
    per_type = type_stats(samples)
    # one round of the mix: each type's median, weighted by how often the
    # type occurs per round (deletes and flushes are not in every cycle)
    round_s = sum(statistics.median(v) * len(v) / rounds
                  for v in per_type.values()) / 1000.0
    m = {
        "setup_s": median(setup_reps),
        "ops_per_s": len(samples) / wall,
        "round_s": round_s,
        "knn_p50_ms": fam.get("knn"),
        "text_p50_ms": fam.get("text"),
        "cached_mb_peak": peak,
    }
    tail = highest_reportable(reads) or (None, None)
    extra = {
        "op_p50_ms": median(reads),
        "op_p90_ms": percentile(reads, 0.90),
        "op_tail_pct": tail[0],
        "op_tail_ms": tail[1],
        "read_samples": len(reads),
        "hybrid_p50_ms": fam.get("hybrid"),
        "graph_p50_ms": fam.get("graph"),
        "sql_p50_ms": fam.get("sql"),
        "rounds": rounds,
        "timed_wall_s": wall,
    }
    ups = [s for s in samples if s.op.type == "upsert" and s.error is None]
    if ups:
        extra["upsert_rows_per_s"] = (sum(s.op.rows for s in ups)
                                      / (sum(s.ms for s in ups) / 1000.0))
    if "flush" in per_type:
        extra["flush_s"] = median(per_type["flush"]) / 1000.0
    extra.update(wl.extra_metrics())
    return m, extra


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "velesdb_spark")):
        print("perfbench: run from a checkout of velesdb-spark "
              "(velesdb_spark/ not found next to perfbench/)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    prepare_environment(work)
    nproc = os.cpu_count() or 1
    load_start, cpu_start = os.getloadavg(), cpu_times()
    probe_start = host_probe_ms()
    session = None
    try:
        session = Session()
        result = run(args, session, work)
    finally:
        if session is not None:
            session.stop()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    probe_end = host_probe_ms()
    load_end, cpu_end = os.getloadavg(), cpu_times()
    steal = steal_pct(cpu_start, cpu_end)
    host = {"nproc": nproc, "loadavg_start": load_start[0],
            "loadavg_end": load_end[0], "steal_pct": steal,
            "probe_ms_start": probe_start, "probe_ms_end": probe_end,
            **result.pop("versions"),
            "noisy": (steal is not None and steal > NOISY_STEAL_PCT)
            or abs(probe_end / probe_start - 1.0) > NOISY_PROBE_SHIFT}
    report(args, host, result)
    return 0


def run(args, session: Session, work: str) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](session.spark, work, args.seed)
    phases = {"session": session.start_s}
    setup_reps = []
    for rep in range(SETUP_REPS):
        t = perf_counter()
        wl.setup()
        setup_reps.append(perf_counter() - t)
        if rep == 0:
            # warm every op's code path on the first, cold set-up's state,
            # so the later set-ups and the window run on a warm JVM
            t = perf_counter()
            wl.warm()
            phases["warm"] = perf_counter() - t
    phases["setup"] = sum(setup_reps)
    wl.skip_warm_round()
    samples, wall, rounds, peak = measure(session, wl, args.seconds)
    phases["window"] = wall
    t = perf_counter()
    errors = check_results(samples)
    phases["check"] = perf_counter() - t
    metrics, extra = end_to_end(samples, wall, rounds, peak, setup_reps, wl)
    result = {"metrics": metrics, "extra": extra, "errors": errors,
              "samples": samples, "setup_reps": setup_reps,
              "phases": phases, "versions": session.versions()}
    if args.trace:
        t = perf_counter()
        result["layers"] = traced(args, session, wl, samples, rounds)
        phases["traced_replay"] = perf_counter() - t
    wl.close()
    return result


def traced(args, session, wl, untraced, untraced_rounds) -> dict:
    """Set up again with the tracer installed (so index builds and store
    appends in set-up are traced), replay the first rounds, and reduce the
    spans to the per-layer table."""
    import layers
    from tracer import Tracer

    from velesdb_spark.velesql import parser

    parser.parse.cache_clear()  # the replay parses from a cold cache too
    tracer = Tracer()
    tracer.install(gateway_client=session.sc._gateway._gateway_client)
    try:
        tracer.op_id = -1
        with tracer.span("setup", "setup"):
            wl.setup()
        wl.skip_warm_round()
        samples, states = measure_traced(session, wl, TRACED_ROUNDS, tracer)
    finally:
        tracer.uninstall()
    n = min(TRACED_ROUNDS, untraced_rounds)
    per_round = len(untraced) / max(untraced_rounds, 1)
    base = [s.ms for s in untraced[:int(n * per_round)] if s.op.read]
    table = layers.reduce(tracer, samples, states, base)
    table["errors"] = check_results(samples)
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}-"
                             f"{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "missing": tracer.missing, "spans": tracer.dump(),
                   "ops": [{"type": s.op.type, "ms": s.ms, **s.layers}
                           for s in samples],
                   "repeat_counters": table["repeat_counters"]}, f)
    table["dump"] = os.path.relpath(path, ROOT)
    return table


def report(args, host, result) -> None:
    import layers

    m, extra, errors = result["metrics"], result["extra"], result["errors"]
    samples = result["samples"]
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} "
          f"loop=closed clients=1")
    print("# host " + " ".join(f"{k}={v}" for k, v in host.items()))
    print("# setup_reps_s=" + ",".join(f"{x:.3f}" for x in result["setup_reps"])
          + " phases_s=" + ",".join(f"{k}:{v:.1f}"
                                    for k, v in result["phases"].items()))
    print("# end-to-end")
    for k, v in [*((k, m[k]) for k in END_TO_END), *extra.items()]:
        print(f"  {k:<20} {fmt(v)} {unit_of(k)}")
    attempted = len(samples)
    print(f"  {'error_frac':<20} {fmt(len(errors) / attempted)} ratio "
          f"({len(errors)}/{attempted})")
    print("# per op type (ms): type n p50 min max")
    for t, v in sorted(type_stats(samples).items()):
        print(f"  {t:<20} {len(v):>3} {statistics.median(v):9.1f} "
              f"{min(v):9.1f} {max(v):9.1f}")
    for i, t, reason in errors:
        print(f"  FAILED op#{i} {t}: {reason}")
    if args.trace:
        layers.print_table(result["layers"])
        for i, t, reason in result["layers"]["errors"]:
            print(f"  FAILED traced op#{i} {t}: {reason}")
        metrics = layers.json_metrics(result["layers"])
        errors = errors + result["layers"]["errors"]
        attempted += result["layers"]["ops"]
    else:
        metrics = {k: {"value": m[k], "unit": unit_of(k)}
                   for k in END_TO_END}
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": len(errors), "metrics": metrics}))


def fmt(v) -> str:
    if v is None:
        return "n/a"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
