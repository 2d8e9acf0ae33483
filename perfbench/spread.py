#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each metric's spread.

Usage (from the repository root):
  python3 perfbench/spread.py --workloads dashboard,cold-etl --seeds 1-10
                              [--trace 0] [--out <file.jsonl>]

For every workload it runs `perfbench/run.py` once per seed with the
BENCHMARK.json `run_seconds`, appends each run's stamp and metrics to
`--out` (one JSON object per line), and prints per metric the median and
the spread: the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, next to the
metric's bound.
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


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    out = open(a.out, "a") if a.out else None
    for w in a.workloads.split(","):
        runs = []
        for seed in a.seeds:
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(a.trace)], cwd=ROOT, capture_output=True,
                text=True, stdin=subprocess.DEVNULL)
            wall = time.monotonic() - t0
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed (rc={p.returncode}):\n"
                         + p.stderr[-2000:])
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            env = next(line for line in lines if line.startswith("perfbench env"))
            rec = {"workload": w, "seed": seed, "run_wall_s": round(wall, 1),
                   "env": dict(kv.split("=", 1) for kv in env.split()[2:]),
                   "result": result}
            runs.append(rec)
            if out:
                out.write(json.dumps(rec) + "\n")
                out.flush()
            print(f"{w} seed {seed}: {wall:.0f} s, correct="
                  f"{result['correct']}, " + ", ".join(
                      f"{k}={v['value']:.4g}"
                      for k, v in result["metrics"].items()), flush=True)
        for k in runs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][k]["value"] for r in runs]
            s = spread(vals) if len(vals) >= 2 else 0.0
            b = bounds.get(k)
            print(f"{w} {k}: median {statistics.median(vals):.4g}, spread "
                  f"{s:.3f}" + (f" (bound {b}, third {b / 3:.3f})" if b else ""))
        print(f"{w}: mean run wall {statistics.fmean(r['run_wall_s'] for r in runs):.1f} s")


if __name__ == "__main__":
    main()
