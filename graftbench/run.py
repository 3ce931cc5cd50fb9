#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one JVM, one client.

Usage, from the root of a checkout:
  python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The script compiles the checkout's `src/main/scala` together with the
runner in `graftbench/jvm` (cached by source hash under
`graftbench/work`), starts one JVM that runs the workload's queries in a
closed loop through `graft.SparkEntry.queries`, checks every query's
output fingerprint against `expected.json`, prints every metric by name
with its unit and sample count, and ends with one JSON line. It exits
non-zero when an output is wrong, a query fails or, in a traced run, the
trace does not reconcile.

With `--trace 0` the JSON holds the end-to-end metrics; with `--trace 1`
the per-layer ones, from rounds that carry Spark listeners.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "work"
DATA = BENCH / "data" / "sf0.1"
# the JVM must finish within this many seconds of its start, so that one
# run stays inside the 180 s a run may take once the build exists
DEADLINE_S = 170.0
# timed rounds a run takes even when `--seconds` pass sooner: a median of
# fewer rounds is a mean, and a traced run needs traced and untraced rounds
MIN_ROUNDS = 3
JVM_HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jar_dir = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        jar_dir = Path(m.group(1)) if m else None
    jars = sorted(jar_dir.glob("*.jar")) if jar_dir else []
    if not jars:
        raise SystemExit("no Spark jars found (set SPARK_HOME)")
    return [str(j) for j in jars]


def build():
    """Compile the program and the runner once per source hash."""
    program = ROOT / "src" / "main" / "scala"
    if not (program / "graft" / "SparkEntry.scala").is_file():
        raise SystemExit(f"program source not found under {program}")
    sources = sorted(program.rglob("*.scala")) + sorted((BENCH / "jvm").rglob("*.scala"))
    h = hashlib.sha256()
    for s in sources:
        h.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    out = WORK / "build" / h.hexdigest()[:16]
    classes = out / "classes"
    if classes.is_dir():
        return classes
    shutil.rmtree(WORK / "build", ignore_errors=True)
    tmp = out / "tmp-classes"
    tmp.mkdir(parents=True)
    cp = ":".join(spark_jars())
    log(f"[graftbench] compiling {len(sources)} sources")
    t0 = time.time()
    rc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(tmp), "-classpath", cp] + [str(s) for s in sources],
        stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"compile failed (rc={rc})")
    tmp.rename(classes)
    log(f"[graftbench] compiled in {time.time() - t0:.1f} s")
    return classes


def check_data():
    """The inputs are the sf0.1 tables, checked against their manifest."""
    for line in (BENCH / "data" / "SHA256SUMS").read_text().splitlines():
        digest, name = line.split()
        if hashlib.sha256((DATA / name).read_bytes()).hexdigest() != digest:
            raise SystemExit(f"input {name} does not match data/SHA256SUMS")


def java_cmd(classes, main, *args, tmp=None):
    """A JVM with the flags the sbt build forks its runs with."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            [f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            ([f"-Djava.io.tmpdir={tmp}"] if tmp else []) +
            ["-cp", ":".join([str(classes)] + spark_jars()), main] + [str(a) for a in args])


def run_runner(classes, name, queries, *args):
    """Runs `graftbench.Runner bench` in a fresh directory under work/ and
    returns its result, also kept as work/results/<name>.json."""
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    out = run_dir / "result.json"
    cmd = java_cmd(classes, "graftbench.Runner", "bench", "--data", DATA,
                   "--queries", ",".join(queries), "--cores", len(os.sched_getaffinity(0)),
                   "--out", out, *args, tmp=run_dir / "tmp")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("benchmark JVM ran past its deadline")
    if rc != 0 or not out.is_file():
        raise SystemExit(f"benchmark JVM failed (rc={rc})")
    result = json.loads(out.read_text())
    (WORK / "results").mkdir(exist_ok=True)
    out.replace(WORK / "results" / f"{name}.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples beyond); the maximum when there are fewer
    than eleven samples."""
    s = sorted(values)
    k = max(0, len(s) - 11) if len(s) >= 11 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s), len(s) - 1 - k


def check_outputs(fingerprints, expected):
    """Names of queries whose output fingerprint is missing or differs."""
    return sorted(q for q, want in expected.items() if fingerprints.get(q) != want)


def latency(s):
    return s["build_s"] + s["serve_s"]


def round_sum(r):
    return sum(latency(s) for s in r["samples"])


def end_to_end(res):
    """name -> (value, unit, how it was sampled), from untraced rounds."""
    rounds = [r for r in res["rounds"] if not r["traced"]]
    lat = [latency(s) for r in rounds for s in r["samples"]]
    t, pct, beyond = tail(lat)
    return {
        "round_s": (statistics.median(round_sum(r) for r in rounds), "s",
                    f"median of {len(rounds)} rounds"),
        "query_p50_s": (statistics.median(lat), "s", f"median of {len(lat)} executions"),
        "query_tail_s": (t, "s", f"p{pct:.1f} of {len(lat)} executions, {beyond} beyond"),
        "setup_s": (res["setup_s"], "s", "process start to end of warm-up, 1 per run"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", "VmHWM at run end, 1 per run"),
    }


# per-layer metrics summed over the queries of one traced round:
# name -> (unit, keys of the runner's per-query layer record)
ROUND_SUMS = {
    "registry.build_s": ("s", ["build_s"]),
    "registry.build_jobs": ("count", ["build_jobs"]),
    "registry.build_job_s": ("s", ["build_job_s"]),
    "plans.analysis_s": ("s", ["analysis_s"]),
    "plans.optimize_s": ("s", ["optimize_s"]),
    "plans.physical_s": ("s", ["physical_s"]),
    "plans.aqe_replans": ("count", ["aqe_replans"]),
    "operators.serve_s": ("s", ["serve_s"]),
    "operators.jobs": ("count", ["build_jobs", "serve_jobs"]),
    "operators.stages": ("count", ["stages"]),
    "operators.tasks": ("count", ["tasks"]),
    "operators.job_s": ("s", ["build_job_s", "serve_job_s"]),
    "operators.driver_gap_s": ("s", ["build_gap_s", "serve_gap_s"]),
    "operators.task_cpu_s": ("s", ["task_cpu_s"]),
    "operators.task_gc_s": ("s", ["task_gc_s"]),
    "operators.task_retries": ("count", ["task_retries"]),
    "shuffle.write_mb": ("MB", ["shuffle_write_mb"]),
    "shuffle.read_mb": ("MB", ["shuffle_read_mb"]),
    "shuffle.spill_mb": ("MB", ["spill_mb"]),
    "sources.input_mb": ("MB", ["input_mb"]),
    "sources.input_rows": ("count", ["input_rows"]),
    "sources.output_mb": ("MB", ["output_mb"]),
    "sources.output_files": ("count", ["output_files"]),
    "pins.rdds": ("count", ["pin_rdds"]),
    "streaming.batches": ("count", ["stream_batches"]),
    "streaming.state_rows": ("count", ["state_rows"]),
}
# streaming time as a share of the round's query time; a workload without
# streams reads 0 here
STREAM_SHARES = {"streaming.trigger_share": "trigger_s", "streaming.plan_share": "stream_plan_s",
                 "streaming.add_batch_share": "add_batch_s", "streaming.commit_share": "commit_s"}


def per_layer(res):
    """name -> (value, unit): medians over traced rounds, plus per-run
    kernel, JVM and host readings and the tracing overhead."""
    traced = [r for r in res["rounds"] if r["traced"]]
    plain = [r for r in res["rounds"] if not r["traced"]]

    def med(f):
        return statistics.median(f(r) for r in traced)

    def total(r, key):
        return sum(s["layers"][key] for s in r["samples"])

    m = {name: (med(lambda r: sum(total(r, k) for k in keys)), unit)
         for name, (unit, keys) in ROUND_SUMS.items()}
    m["sources.write_amp"] = (med(lambda r: total(r, "output_mb") /
                                  max(1e-9, total(r, "input_mb"))), "ratio")
    for name, key in STREAM_SHARES.items():
        m[name] = (med(lambda r: total(r, key) / round_sum(r)), "ratio")
    m["pins.peak_mb"] = (med(lambda r: max(s["layers"]["pin_peak_mb"] for s in r["samples"])), "MB")
    m["pins.drain_s"] = (med(lambda r: r["drain_s"]), "s")
    for k in ("vec_dot_pairs_per_s", "minhash_docs_per_s", "jaccard_pairs_per_s"):
        m["functions." + k] = (res["kernels"][k], "1/s")
    m["jvm.gc_s"] = (med(lambda r: sum(s["gc_s"] for s in r["samples"])), "s")
    m["jvm.jit_s"] = (res["jvm"]["jit_s"], "s")
    m["jvm.heap_peak_mb"] = (res["jvm"]["heap_peak_mb"], "MB")
    for k, unit in (("steal_frac", "ratio"), ("load_avg", "count"), ("calib_s", "s")):
        m["host." + k] = (res["host"][k], unit)
    m["trace.overhead"] = (med(round_sum) / statistics.median(round_sum(r) for r in plain),
                           "ratio")
    return m


# reconciliation tolerance: 5 ms of clock slack plus 1% of the query latency
RECONCILE_TOL_S = 0.005
RECONCILE_TOL_FRAC = 0.01


def union_s(intervals, lo, hi):
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, lo, reach), min(e, hi)
        if e > s:
            total, reach = total + e - s, e
    return total / 1e3


def reconcile(res):
    """Checks every traced query: its build and serve spans cover its
    latency, its jobs stay inside their phase, and each phase's job time
    recomputed from the job spans matches the counters. Returns failures."""
    bad = []
    children = {}
    for s in res["spans"]:
        children.setdefault(s["parent"], []).append(s)
    queries = [s for s in res["spans"] if s["kind"] == "query"]
    samples = [s for r in res["rounds"] if r["traced"] for s in r["samples"]]
    if len(queries) != len(samples):
        return [f"{len(queries)} query spans for {len(samples)} traced executions"]
    for q, s in zip(queries, samples):
        tol = RECONCILE_TOL_S + RECONCILE_TOL_FRAC * latency(s)
        phases = {c["name"].rsplit("/", 1)[1]: c for c in children.get(q["id"], [])}
        covered = sum(c["end_ms"] - c["start_ms"] for c in phases.values()) / 1e3
        if abs(covered - latency(s)) > tol or abs(covered - (q["end_ms"] - q["start_ms"]) / 1e3) > tol:
            bad.append(f"{s['query']}: phases cover {covered:.4f} s of {latency(s):.4f} s")
        if s["layers"]["stray_job_s"] > tol:
            bad.append(f"{s['query']}: {s['layers']['stray_job_s']:.4f} s of jobs outside their phase")
        for p, span in phases.items():
            jobs = [(j["start_ms"], j["end_ms"]) for j in children.get(span["id"], [])]
            job_s = union_s(jobs, span["start_ms"], span["end_ms"])
            if abs(job_s - s["layers"][f"{p}_job_s"]) > tol:
                bad.append(f"{s['query']}: {p} job spans {job_s:.4f} s, counters "
                           f"{s['layers'][p + '_job_s']:.4f} s")
    return bad


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", type=Path, default=BENCH / "expected.json",
                    help="expected output fingerprints (default: expected.json)")
    args = ap.parse_args(argv)
    workloads = json.loads((BENCH / "workloads.json").read_text())
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload}; have {sorted(workloads)}")
    workload = workloads[args.workload]
    check_data()
    classes = build()
    run_name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    res = run_runner(classes, run_name, workload["queries"], "--seed", args.seed,
                     "--seconds", args.seconds, "--warmup", workload["warmup_rounds"],
                     "--trace", args.trace, "--min-rounds", MIN_ROUNDS)

    expected = json.loads(args.expected.read_text())
    expected = {q: expected.get(q) for q in workload["queries"]}
    mismatched = check_outputs(res["fingerprints"], expected)
    timed = [s for r in res["rounds"] for s in r["samples"]]
    errors = [f"{s['query']} (round {s['round']}): {s['error']}" for s in timed if not s["ok"]]
    warm_errors = [f"{s['query']} (warm-up): {s['error']}"
                   for r in res["warmup"] for s in r["samples"] if not s["ok"]]
    attempted = len(timed) + len(expected)
    failed = len(errors) + len(mismatched)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"{len(res['rounds'])} timed rounds in {res['timed_s']:.1f} s")
    for kind, rounds in (("warm-up", res["warmup"]), ("timed", res["rounds"])):
        print(f"{kind} rounds (s, steal): " +
              "  ".join(f"{round_sum(r):.3f} {r['steal_frac']:.3f}" for r in rounds))
    for e in errors + warm_errors:
        print(f"FAILED {e}")
    for q in mismatched:
        print(f"OUTPUT MISMATCH {q}: got {res['fingerprints'].get(q)} want {expected[q]}")
    print(f"fail_frac = {failed}/{attempted} = {failed / attempted:.4f} ratio")
    print("env " + json.dumps(res["env"], sort_keys=True))
    print("host " + json.dumps(res["host"], sort_keys=True))
    print(f"samples and spans: {(WORK / 'results' / run_name).relative_to(ROOT)}.json")
    bad = []
    if args.trace:
        metrics = per_layer(res)
        n = sum(r["traced"] for r in res["rounds"])
        for name, (v, unit) in metrics.items():
            how = ("1 per run" if name.startswith(("functions.", "host.", "trace."))
                   or name in ("jvm.jit_s", "jvm.heap_peak_mb") else f"median of {n} traced rounds")
            print(f"{name:32s} {v:16.6f} {unit:6s} ({how})")
        bad = reconcile(res)
        for b in bad:
            print(f"RECONCILE {b}")
        print(f"reconciliation: {'ok' if not bad else f'{len(bad)} failures'}")
    else:
        e2e = end_to_end(res)
        metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
        for k, (v, u, how) in e2e.items():
            print(f"{k:14s} {v:12.6f} {u:3s} ({how})")
    correct = not mismatched and not errors and not warm_errors and not bad
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
