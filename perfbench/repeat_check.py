"""Compare the exact-repeat counters of two traced runs.

    python3 perfbench/repeat_check.py perfbench/out/trace-A.json \
        perfbench/out/trace-B.json

Both dumps must come from ``run.py --trace 1`` with the same workload and
seed. The counters (per op: build py4j round-trips, jobs, file scans; at
the end of the replay: log segments, BM25 plan nodes) are counts the
program makes, not timings, so they must match exactly. Exit code 0 when
they do, 1 with the first differences otherwise.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def compare(a: dict, b: dict) -> list[str]:
    if (a["workload"], a["seed"]) != (b["workload"], b["seed"]):
        return [f"different runs: {a['workload']}/{a['seed']} vs "
                f"{b['workload']}/{b['seed']}"]
    diffs = []
    ca, cb = a["repeat_counters"], b["repeat_counters"]
    for k in sorted(set(ca) | set(cb)):
        if ca.get(k) != cb.get(k):
            diffs.append(f"{k}: {ca.get(k)} != {cb.get(k)}")
    return diffs


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (load(p) for p in argv)
    diffs = compare(a, b)
    for d in diffs:
        print(d)
    if not diffs:
        print(f"{a['workload']} seed {a['seed']}: "
              f"{len(a['repeat_counters'])} counters repeat exactly")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
