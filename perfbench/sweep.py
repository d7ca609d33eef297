#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workload W --seeds 1-10 [--seconds 10] [--trace 0]

Prints, per metric, the median, the quartiles and the spread (interquartile
distance over the median) of its values across the seeds, and for each
end-to-end metric whether that spread is within a third of its bound in
BENCHMARK.json. Exits non-zero if any run fails.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(args.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"seed {seed}: exit {p.returncode}")
        result = json.loads(p.stdout.strip().split("\n")[-1])
        print(f"seed {seed}: {time.time() - t0:.1f} s, attempted {result['attempted']}",
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        q1, med, q3 = stats.quartiles(xs)
        line = (f"{name:34s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  "
                f"spread {stats.spread(xs):.4f}")
        if name in bounds and name != "setup_s":
            ok = stats.spread(xs) < bounds[name] / 3
            line += f"  bound {bounds[name]}: {'steady' if ok else 'NOT steady'}"
        print(line)


if __name__ == "__main__":
    main()
