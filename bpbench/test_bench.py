#!/usr/bin/env python3
"""Self-test of the blueprint benchmark.

    python3 bpbench/test_bench.py

Shows two things: on every listed workload, two back-to-back runs on one
seed agree within the bounds BENCHMARK.json fixes; and a corrupted
destination file is caught by the output check. Takes about seven minutes.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(*args):
    out = subprocess.run([sys.executable, str(HERE / "run.py"), *args],
                         cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=900)
    assert out.returncode == 0, f"run.py exited with {out.returncode}"
    return json.loads(out.stdout.strip().splitlines()[-1])


class BenchmarkTest(unittest.TestCase):
    def test_corrupted_destination_is_caught(self):
        # the large-files workload is not listed; this is where it runs
        for w in ("blueprint_small_files", "blueprint_large_files"):
            with self.subTest(workload=w):
                r = run("--workload", w, "--seed", "3", "--seconds", "1",
                        "--trace", "0", "--corrupt-one", "1")
                self.assertFalse(r["correct"])
                # the corrupted upload, and the download that copies it
                self.assertGreaterEqual(r["failed"], 2)

    def test_back_to_back_runs_agree_within_bounds(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        for w in spec["workloads"]:
            with self.subTest(workload=w["name"]):
                args = ("--workload", w["name"], "--seed", "11",
                        "--seconds", str(spec["run_seconds"]), "--trace", "0")
                a, b = run(*args), run(*args)
                for r in (a, b):
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                for m in spec["end_to_end"]:
                    va = a["metrics"][m["name"]]["value"]
                    vb = b["metrics"][m["name"]]["value"]
                    self.assertLessEqual(abs(va - vb) / va, m["bound"],
                                         f"{m['name']}: {va} vs {vb}")


if __name__ == "__main__":
    unittest.main(verbosity=2)
