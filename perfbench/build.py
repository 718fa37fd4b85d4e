#!/usr/bin/env python3
"""Builds the benchmark client: the library (src/main) plus perfbench/src.

Usage: python3 perfbench/build.py

Compiles with the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars, else the jars bundled with pyspark), so no build tool or
network is needed. Classes land in .bench_build/classes at the root of the
checkout; a stamp of the sources' content skips the build when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    """$SPARK_HOME/jars, else the jars bundled in the pyspark package."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        try:
            import pyspark
            jars = Path(pyspark.__file__).parent / "jars"
        except ImportError:
            jars = None
    if jars is None or not jars.is_dir():
        raise SystemExit(f"build: Spark jars not found at {jars}; set SPARK_HOME")
    return jars


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def sources():
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit("build: source directory missing: " + ", ".join(map(str, missing)))
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not files:
        raise SystemExit("build: no Scala sources found")
    return files


def stamp_of(files):
    h = hashlib.sha256()
    for f in files + sorted(RESOURCES.rglob("*") if RESOURCES.is_dir() else []):
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles if the sources changed since the last build."""
    files = sources()
    stamp = stamp_of(files)
    if STAMP.is_file() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return False
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES),
           "-classpath", f"{spark_jars()}/*", f"@{argfile}"]
    print(f"build: compiling {len(files)} Scala files", file=log, flush=True)
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=850)
    if res.returncode != 0:
        print(res.stdout[-4000:], file=log)
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    if RESOURCES.is_dir():
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    STAMP.write_text(stamp)
    return True


if __name__ == "__main__":
    build()
