#!/usr/bin/env python3
"""Runs one benchmark workload (or all of them) and prints the result.

    python3 perfbench/run.py --workload staged --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all    # every workload, one after another

Run it from the repository root. It builds the program and the benchmark
(perfbench/build.py), starts one JVM per workload, and prints every metric
with its unit and regression bound, then, as the last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. It exits non-zero
when a build step or an output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = Path(".")
WORKLOADS = ["staged", "identity"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def bounds():
    """Metric name -> regression bound, from BENCHMARK.json when it is there."""
    f = ROOT / "BENCHMARK.json"
    if not f.is_file():
        return {}
    return {m["name"]: m["bound"] for m in json.loads(f.read_text())["end_to_end"]}


def run_one(workload, seed, seconds, trace, classpath, deadline):
    work = (ROOT / ".bench_build" / "work" / f"{workload}-{seed}-{os.getpid()}").resolve()
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.hadoop.hadoop.tmp.dir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", str(work)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"), TMPDIR=str(work / "tmp"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True, cwd=work, env=env)
    try:
        out, _ = proc.communicate(timeout=max(10, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: {workload} did not finish in time")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: {workload} JVM exited with {proc.returncode}")
    res = json.loads(lines[-1])
    shutil.rmtree(work, ignore_errors=True)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload != "all" and a.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    classpath = build.build(ROOT)
    bound_of = bounds()
    ok = True
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        res = run_one(w, a.seed, a.seconds, a.trace, classpath, time.monotonic() + JVM_TIMEOUT_S)
        print(f"# {w} seed={a.seed} trace={a.trace} reps={res.get('samples')} "
              f"correct={res['correct']} failed={res['failed']}/{res['attempted']}")
        for name, m in res["metrics"].items():
            bound = bound_of.get(name)
            value = "n/a" if m["value"] is None else f"{m['value']:.6g}"
            print(f"#   {name:40s} {value:>16s} {m['unit']:10s}"
                  + (f" bound {bound:.0%}" if bound is not None else ""))
        ok = ok and res["correct"]
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        sys.stdout.flush()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
