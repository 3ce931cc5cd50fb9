#!/usr/bin/env python3
"""Regenerate graftbench/expected.json, the output fingerprints the
benchmark checks.

Usage, from the root of a checkout:  python3 graftbench/make_expected.py

For every query of every workload it dumps the result with the unmodified
`graft.Verify <sf> <out> <names>`, cross-checks the dumps against the
DuckDB oracle with `scripts/local_verify.py`, and only if every query
passes, fingerprints the dumps with the runner's own `Fingerprint`.
"""
import json
import subprocess
import sys

import run

ORACLE = run.ROOT / "scripts" / "local_verify.py"


def java(classes, main, *args):
    subprocess.run(run.java_cmd(classes, main, *args), cwd=run.WORK, check=True,
                   stdout=sys.stderr)


def main():
    workloads = json.loads((run.BENCH / "workloads.json").read_text())
    names = sorted({q for w in workloads.values() for q in w["queries"]})
    run.check_data()
    classes = run.build()
    dumps = run.WORK / "verify"
    java(classes, "graft.Verify", str(run.DATA), str(dumps), ",".join(names))
    subprocess.run([sys.executable, str(ORACLE), str(run.DATA), str(dumps)], check=True)
    out = run.WORK / "expected.json"
    java(classes, "graftbench.Runner", "fingerprint", "--dumps", str(dumps),
         "--queries", ",".join(names), "--out", str(out))
    fps = json.loads(out.read_text())
    (run.BENCH / "expected.json").write_text(json.dumps(fps, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(fps)} fingerprints to graftbench/expected.json")


if __name__ == "__main__":
    main()
