"""Tests of the benchmark itself.

Run from the root of a checkout:  python3 -m unittest graftbench/test_bench.py
The end-to-end test builds the program and runs one short workload.
"""
import json
import subprocess
import sys
import unittest

sys.path.insert(0, __file__.rsplit("/", 1)[0])
import run  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        value, pct, beyond = run.tail([float(i) for i in range(1, 31)])
        self.assertEqual((value, beyond), (20.0, 10))
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)

    def test_check_outputs_flags_missing_and_different(self):
        want = {"a": {"rows": 3, "hash": "00"}, "b": {"rows": 1, "hash": "ff"}}
        got = {"a": {"rows": 3, "hash": "00"}, "b": {"rows": 1, "hash": "fe"}}
        self.assertEqual(run.check_outputs(got, want), ["b"])
        self.assertEqual(run.check_outputs({}, want), ["a", "b"])
        self.assertEqual(run.check_outputs(want, want), [])


class CorruptedExpectationTest(unittest.TestCase):
    def test_run_exits_nonzero_on_a_corrupted_expectation(self):
        workloads = json.loads((run.BENCH / "workloads.json").read_text())
        name = min(workloads, key=lambda w: len(workloads[w]["queries"]))
        expected = json.loads((run.BENCH / "expected.json").read_text())
        victim = workloads[name]["queries"][0]
        expected[victim] = dict(expected[victim], rows=expected[victim]["rows"] + 1)
        run.WORK.mkdir(exist_ok=True)
        corrupted = run.WORK / "corrupted_expected.json"
        corrupted.write_text(json.dumps(expected))
        p = subprocess.run(
            [sys.executable, str(run.BENCH / "run.py"), "--workload", name, "--seed", "1",
             "--seconds", "1", "--trace", "0", "--expected", str(corrupted)],
            cwd=run.ROOT, capture_output=True, text=True, timeout=900)
        self.assertNotEqual(p.returncode, 0)
        self.assertIn(f"OUTPUT MISMATCH {victim}", p.stdout)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertGreaterEqual(last["failed"], 1)


if __name__ == "__main__":
    unittest.main()
