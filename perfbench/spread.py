#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end
metric's median and spread (interquartile range over median), next to
the bound declared in BENCHMARK.json.

    python3 perfbench/spread.py --workload api_with_etl --seeds 1-5
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", help="write the per-run results here as JSON")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              a.workload, "--seed", str(seed), "--seconds",
                              str(spec["run_seconds"]), "--trace", "0"],
                             cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if res.returncode != 0:
            print(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(res.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **result})
        print(f"seed {seed}: {wall:.1f} s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    print(f"mean wall per run: {statistics.mean(r['wall_s'] for r in runs):.1f} s")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        print(f"{m['name']:>14}: median {statistics.median(vals):.4g} {m['unit']}, "
              f"spread {spread(vals):.3f} (bound {m['bound']}, third {m['bound'] / 3:.3f})")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
