#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the repository root:

  python3 perfbench/test_bench.py          (about two minutes: two JVM runs)

- the output check fails a run whose goldens file holds one wrong hash,
  and names the op and the cause;
- the traced run covers every query op's wall time with its
  build/plan/exec spans and attributes every Spark job to an op;
- the traced run prints a self-time row for every layer of a query op;
- in a directory holding only BENCHMARK.json and perfbench/ (no program
  sources) the benchmark exits non-zero without printing a result.
"""
import json
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1",
         *args], cwd=cwd, capture_output=True, text=True, timeout=200)


class WrongGoldenIsCaught(unittest.TestCase):
    def test_wrong_hash_fails_the_run(self):
        lines = run.GOLDENS.read_text().splitlines()
        victim = next(i for i, l in enumerate(lines)
                      if l.startswith("ta_ngram_coverage\t"))
        name, rows, _ = lines[victim].split("\t")
        lines[victim] = f"{name}\t{rows}\t0123456789abcdef"
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_work") as d:
            bad = Path(d) / "goldens.tsv"
            bad.write_text("\n".join(lines) + "\n")
            r = bench("--workload", "analyst_queries", "--trace", "1",
                      "--goldens", str(bad))
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertIn("op=ta_ngram_coverage pass=0 phase=check WrongOutput",
                      r.stdout)
        # the same traced run: spans cover every query op, and every job
        # carried the op property
        m = result["metrics"]
        self.assertGreaterEqual(m["span.coverage_min"]["value"], 0.99)
        self.assertEqual(m["jobs.unattributed"]["value"], 0)
        self.assertGreater(m["build.jobs"]["value"], 0)
        for layer in ("run", "pass", "op", "build", "plan", "exec", "job"):
            self.assertRegex(r.stdout, rf"\n    {re.escape(layer)} +spans=")


class BareDirectoryFails(unittest.TestCase):
    def test_no_sources_no_result(self):
        (ROOT / ".bench_work").mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_work") as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = bench("--workload", "etl_pipeline", "--trace", "0",
                      cwd=Path(d))
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    (ROOT / ".bench_work").mkdir(exist_ok=True)
    unittest.main()
