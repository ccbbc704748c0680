#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark harness (perfbench/scala)
into one class directory, with the Scala compiler that ships in the
Spark distribution the project builds against: the jar directory
build.sbt names as `unmanagedBase`.

Usage: python3 perfbench/build.py        (from the repository root)

Output goes to $CARGO_TARGET_DIR/graftbench/classes, or to
.bench_build/graftbench/classes when that variable is unset. A build is
skipped when a stamp of every source file's path and content matches
the previous one.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


def out_dir() -> Path:
    base = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not base.is_absolute():
        base = ROOT / base
    return base / "graftbench"


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"build: source directory {d} is missing")
        files += sorted(d.rglob("*.scala"))
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    """The Spark jars: build.sbt's `unmanagedBase := file("...")`."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text()) if sbt.is_file() else None
    if not m or not Path(m.group(1)).is_dir():
        raise SystemExit("build: no Spark jar directory (unmanagedBase in "
                         "build.sbt)")
    return str(Path(m.group(1)) / "*")


def build() -> Path:
    """Compiles if needed; returns the class directory."""
    files = sources()
    out = out_dir()
    classes = out / "classes"
    want = stamp(files)
    stamp_file = out / "stamp"
    if classes.is_dir() and stamp_file.is_file() and \
            stamp_file.read_text() == want:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", classpath()] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    print(build())
