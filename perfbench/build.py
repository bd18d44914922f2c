#!/usr/bin/env python3
"""Builds the benchmark: the program's sources (src/main/scala) and the
benchmark's own (perfbench/src) compiled together with scalac, against the
Spark distribution's jars (which also carry the Scala compiler).

    python3 perfbench/build.py        # from the repository root

Classes go to .bench_build/classes. A build is skipped when no source file
and no jar changed since the last one (a stamp of their contents).
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
BUILD = Path(".bench_build")


def spark_jars():
    """The jar directory of the Spark installation: $SPARK_HOME/jars, or the
    one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return sorted((Path(home) / "jars").glob("*.jar"))


def sources(root):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"perfbench: program sources not found at {main}")
    srcs = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not any(main.rglob("*.scala")):
        sys.exit(f"perfbench: no Scala sources under {main}")
    return srcs


def build(root=Path(".")):
    """Compiles if needed; returns the runtime classpath as a list."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    stamp = h.hexdigest()
    classes = root / BUILD / "classes"
    stamp_file = root / BUILD / "stamp"
    if not (classes.is_dir() and stamp_file.is_file()
            and stamp_file.read_text() == stamp):
        compiler = [j for j in jars if j.name.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
        if len(compiler) < 3:
            sys.exit("perfbench: the Spark jars carry no Scala compiler")
        tmp = root / BUILD / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(map(str, compiler)),
             "scala.tools.nsc.Main", "-nowarn", "-classpath",
             os.pathsep.join(map(str, jars)), "-d", str(tmp)] + [str(s) for s in srcs],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            sys.exit("perfbench: compile failed")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp_file.write_text(stamp)
    return [str(classes.resolve())] + [str(j) for j in jars]


if __name__ == "__main__":
    build()
