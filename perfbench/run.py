#!/usr/bin/env python3
"""graft benchmark: one closed-loop client against a local Spark session.

Usage (from the repository root):
  python3 perfbench/run.py --workload analyst_queries|etl_pipeline \
      --seed N --seconds S --trace 0|1

Builds the program and the harness from source (perfbench/build.py),
then launches the measured JVM directly with build.sbt's javaOptions and
`local[<cores>]`, where <cores> is the number of CPUs this process may
run on. The seed fixes the order of the ops in every pass (and so the
order in which the pipeline visits subreddits); the input tables are the
fixtures bundled under perfbench/data.

Prints, per metric, its name, value, unit and sample count, the seed,
and every failed op with its cause; the last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones, and
the trace (spans, per-op rows, per-layer self time) is written under
.bench_work/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("analyst_queries", "etl_pipeline")
DATA = HERE / "data" / "sf0.01"
GOLDENS = HERE / "goldens.tsv"
# op_s.tail is printed but not among the gated metrics: with at most 30
# op samples per run it falls inside the bulk of the ops, or is the
# slowest op
END_TO_END = ("setup_s", "pass_s", "op_s.p50", "cpu_s", "rss_peak_mb")
# A run must end within 180 s, plus the build when it has to compile;
# this is how long the JVM may take once the build is done.
DEADLINE_S = 170

# build.sbt: jdk17AddOpens ++ the -D flags ++ -Xmx$SPARK_DRIVER_MEM. The
# heap is fixed (-Xms = -Xmx = 1g) rather than build.sbt's 8g default:
# the bundled fixtures need far less, and a heap that does not grow
# keeps the peak RSS from following the collector's sizing decisions
# from run to run.
HEAP = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_options(work: Path) -> list:
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData",
    ]


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test seam: check outputs against another goldens file
    ap.add_argument("--goldens", default=str(GOLDENS))
    a = ap.parse_args()

    if not DATA.is_dir() or not Path(a.goldens).is_file():
        print(f"benchmark inputs missing under {HERE}", file=sys.stderr)
        return 2
    classes = build.build()

    work = ROOT / ".bench_work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    log = work / "jvm.log"
    cp = f"{classes}{os.pathsep}{build.classpath()}"
    cmd = (["java"] + java_options(work) +
           ["-cp", cp, "graftbench.GraftBench", "--mode", "bench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", str(DATA), "--work", str(work), "--out", str(out),
            "--goldens", a.goldens, "--cores", str(cores())])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=ROOT)
        try:
            code = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"benchmark JVM exceeded {DEADLINE_S} s; killed",
                  file=sys.stderr)
            return 1
    if code != 0 or not out.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        print(f"benchmark JVM exited with code {code}", file=sys.stderr)
        return 1

    res = json.loads(out.read_text())
    tel = res["telemetry"]
    print(f"workload={res['workload']} seed={res['seed']} "
          f"cores={res['cores']} passes={res['passes']} "
          f"traced_passes={res['traced_passes']}")
    print(f"host.steal_frac={tel['host.steal_frac']:.4f} "
          f"host.loadavg start={tel['host.loadavg_start']} "
          f"end={tel['host.loadavg_end']} "
          f"session_s={tel['session_s']:.3f} "
          f"warmup_s={tel['warmup_s']:.3f}")
    for name, m in res["metrics"].items():
        extra = ""
        if "percentile" in m:
            extra = (f", p{m['percentile']:.1f} with 10 samples beyond"
                     if m["n"] > 10 else ", max: fewer than 11 samples")
        print(f"  {name:<20} {m['value']:.6g} {m['unit']} "
              f"(n={m['n']}{extra})")
    att, bad = res["attempted"], res["failed"]
    print(f"  {'fail_ratio':<20} {bad / max(att, 1):.4f} "
          f"({bad} of {att} ops failed or wrong)")
    for f in res["failures"]:
        print(f"  FAILED op={f['op']} pass={f['pass']} phase={f['phase']} "
              f"{f['kind']}: {f['error']}")

    if a.trace:
        trace = json.loads(Path(res["trace_file"]).read_text())
        print(f"per-layer metrics (median of {res['traced_passes']} traced "
              f"passes); trace: {res['trace_file']}")
        for name, m in res["layers"].items():
            print(f"  {name:<20} {m['value']:.6g} {m['unit']}")
        print("  self time per layer (all traced passes):")
        for layer, t in sorted(trace["self_time"].items()):
            print(f"    {layer:<12} spans={t['spans']:<6.0f} "
                  f"total_s={t['total_s']:9.3f} self_s={t['self_s']:9.3f}")
        print("  per op family (per traced pass):")
        for fam, f in sorted(trace["families_per_pass"].items()):
            print(f"    {fam:<4} wall={f['wall_s']:.3f} build={f['build.s']:.3f} "
                  f"exec={f['exec.s']:.3f} build.jobs={f['build.jobs']:.0f} "
                  f"exec.jobs={f['exec.jobs']:.0f} "
                  f"task.core_busy={f['task.core_busy']:.3f} "
                  f"cache.left={f['cache.left']:.0f}")
        print("  per op (traced passes):")
        for o in trace["ops"]:
            print(f"    pass{o['pass']} {o['op']:<24} {o['family']:<4} "
                  f"wall={o['wall_s']:.3f} build={o['build.s']:.3f} "
                  f"plan={o['plan.s']:.3f} exec={o['exec.s']:.3f} "
                  f"build.jobs={o['build.jobs']:.0f} "
                  f"exec.jobs={o['exec.jobs']:.0f} "
                  f"cache.left={o['cache.left']:.0f} "
                  f"coverage={o['coverage']:.4f}")
        metrics = {k: {"value": v["value"], "unit": v["unit"]}
                   for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": res["metrics"][k]["value"],
                       "unit": res["metrics"][k]["unit"]}
                   for k in END_TO_END}
    print(json.dumps({"correct": res["correct"], "attempted": att,
                      "failed": bad, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
