#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together
with the harness in perfbench/src into perfbench/.build/classes.

It calls the Scala compiler that ships with Spark ($SPARK_HOME/jars),
the same jars graft builds and runs against, so no sbt start-up or
dependency resolution is needed. A stamp over the sources and the jar
list skips the compile when nothing changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
REPO = BENCH.parent
OUT = BENCH / ".build"
CLASSES = OUT / "classes"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise SystemExit("SPARK_HOME must point at a Spark install with a jars/ dir")
    return pathlib.Path(home) / "jars"


def sources():
    main = REPO / "src" / "main" / "scala"
    graft = sorted(main.rglob("*.scala"))
    if not graft:
        raise SystemExit(f"no graft sources under {main}")
    return graft + sorted((BENCH / "src").glob("*.scala"))


def build():
    """Return the classes dir, compiling first if the sources changed."""
    jars = spark_jars()
    srcs = sources()
    resources = REPO / "src" / "main" / "resources"
    h = hashlib.sha256()
    for p in srcs + (sorted(q for q in resources.rglob("*") if q.is_file())
                     if resources.is_dir() else []):
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    stamp = h.hexdigest()
    stamp_file = OUT / "stamp"
    if CLASSES.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return CLASSES
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = OUT / "classes.tmp"
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(p) for p in srcs]
    print(f"[build] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compile failed ({r.returncode})")
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    tmp.rename(CLASSES)
    stamp_file.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
