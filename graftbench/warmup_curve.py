#!/usr/bin/env python3
"""Measure the warm-up curve of every workload: one process per workload
runs ROUNDS timed rounds with no warm-up, and the per-round sums of query
latency, with the JIT compile and GC time spent in each round, go to
graftbench/warmup_curve.json. `warmup_rounds` in workloads.json is sized
from it so timed rounds start past the knee.

Usage, from the root of a checkout:  python3 graftbench/warmup_curve.py [seed]
"""
import json
import sys

import run

ROUNDS = 10


def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    workloads = json.loads((run.BENCH / "workloads.json").read_text())
    run.check_data()
    classes = run.build()
    curves = {}
    for name, w in workloads.items():
        res = run.run_runner(classes, f"{name}-curve", w["queries"], "--seed", seed,
                             "--seconds", 0, "--warmup", 0, "--trace", 0,
                             "--min-rounds", ROUNDS)
        rounds = res["rounds"]
        curves[name] = {
            "seed": seed, "process_start_to_first_round_s": round(res["setup_s"], 3),
            "round_s": [round(run.round_sum(r), 3) for r in rounds],
            "jit_s": [round(r["jit_s"], 3) for r in rounds],
            "gc_s": [round(r["gc_s"], 3) for r in rounds],
            "query_s": {q: [round(run.latency(s), 3) for r in rounds
                            for s in r["samples"] if s["query"] == q] for q in w["queries"]},
        }
        for k in ("round_s", "jit_s"):
            print(f"{name:16s} {k:8s}", " ".join(f"{x:6.2f}" for x in curves[name][k]))
    (run.BENCH / "warmup_curve.json").write_text(json.dumps(curves, indent=1) + "\n")


if __name__ == "__main__":
    main()
