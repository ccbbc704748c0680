#!/usr/bin/env python3
"""Regenerates perfbench/goldens.tsv and cross-checks the ops against the
DuckDB oracle. Run from the repository root on the commit whose outputs
the goldens should hold.

  python3 perfbench/make_goldens.py goldens
      fingerprints every op of both workloads over the bundled fixtures
      and writes perfbench/goldens.tsv
  python3 perfbench/make_goldens.py oracle DATA_DIR [op,op,...]
      dumps the ops' results over DATA_DIR and runs tools/check_oracle.py
      and tools/check_strict.py on them (default ops: the analyst ones)
"""
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402


def jvm(work: Path, *args: str) -> None:
    classes = build.build()
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + run.java_options(work) +
           ["-cp", f"{classes}:{build.classpath()}", "graftbench.GraftBench",
            "--work", str(work), "--cores", str(run.cores())] + list(args))
    subprocess.run(cmd, check=True, cwd=run.ROOT)


def main() -> int:
    work = run.ROOT / ".bench_work" / "goldens"
    if sys.argv[1] == "goldens":
        jvm(work, "--mode", "goldens", "--data", str(run.DATA),
            "--out", str(run.GOLDENS))
        print(run.GOLDENS.read_text(), end="")
        return 0
    data = sys.argv[2]
    out = work / "dump"
    ops = ["--ops", sys.argv[3]] if len(sys.argv) > 3 else []
    jvm(work, "--mode", "dump", "--data", data, "--out", str(out), *ops)
    rc = 0
    for tool in ("check_oracle.py", "check_strict.py"):
        rc |= subprocess.run([sys.executable, str(run.ROOT / "tools" / tool),
                              data, str(out)]).returncode
    return rc


if __name__ == "__main__":
    sys.exit(main())
