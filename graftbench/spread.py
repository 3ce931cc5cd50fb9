#!/usr/bin/env python3
"""Run the benchmark once per seed and report, per end-to-end metric, the
median, the quartiles and the spread (quartile distance over median) the
acceptance check uses.

Usage, from the root of a checkout:
  python3 graftbench/spread.py --workload NAME --seeds 1-10 [--seconds S] [--out FILE]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time

import run


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a range such as 1-10")
    ap.add_argument("--seconds", type=int,
                    default=json.loads((run.ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()
    values, walls = {}, []
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, str(run.BENCH / "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                           cwd=run.ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        if p.returncode != 0 or not last["correct"]:
            sys.exit(f"seed {seed}: rc={p.returncode}\n{p.stdout}")
        for k, m in last["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s  " +
              "  ".join(f"{k}={m['value']:.4f}" for k, m in last["metrics"].items()), flush=True)
    report = {"workload": args.workload, "seeds": seeds(args.seeds), "seconds": args.seconds,
              "run_wall_s": walls, "metrics": {k: summary(v) for k, v in values.items()}}
    for k, s in report["metrics"].items():
        print(f"{k:14s} median {s['median']:.4f}  q1 {s['q1']:.4f}  q3 {s['q3']:.4f}  "
              f"spread {s['spread']:.4f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
