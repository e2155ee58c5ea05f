"""Run the benchmark on several seeds, one after another, and print each
end-to-end metric's median and quartile spread (IQR / median) beside the
bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload interactive --seeds 1-10 \
        [--seconds S] [--out results.jsonl]

Runs are sequential: concurrent runs would share the cores they measure.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import iqr_share  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float)
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    results = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed",
                                  str(seed), "--seconds", str(seconds),
                                  "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=600)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        results.append(res)
        host = next((ln for ln in proc.stdout.splitlines()
                     if ln.startswith("# host ")), "")
        host = dict(kv.split("=", 1) for kv in host.split()[2:])
        vals = " ".join(f"{k}={v['value']:.4g}"
                        for k, v in res["metrics"].items())
        print(f"seed {seed}: correct={res['correct']} "
              f"attempted={res['attempted']} {vals} "
              f"probe_ms={float(host.get('probe_ms_start', 'nan')):.0f}"
              f"/{float(host.get('probe_ms_end', 'nan')):.0f}", flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, **res}) + "\n")
    if len(results) < 2:
        return 0
    print(f"{'metric':<16}{'median':>12}{'spread':>9}{'bound':>7}")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        print(f"{m['name']:<16}{med:>12.4g}{iqr_share(vals):>9.3f}"
              f"{m['bound']:>7.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
