#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repo's Scala sources and the
harness under perfbench/src into one class directory.

Usage: python3 perfbench/build.py   (prints the class directory)

Compiles with the Scala compiler that ships among Spark's jars, so no build
tool or network is needed. Output goes to $CARGO_TARGET_DIR (default
.bench_build, relative to the repo root); a stamp of the sources' content
skips the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources() -> list:
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench: source directory missing: {missing[0]}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(ROOT / "perfbench" / "conf"), str(classes), str(SPARK_JARS / "*")])


def build() -> Path:
    """Compiles when the sources changed; returns the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    if not (SPARK_JARS / "scala-compiler-2.13.17.jar").exists():
        raise SystemExit(f"perfbench: no Scala compiler among {SPARK_JARS}")
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    args_file = out / "scalac.args"
    args_file.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(SPARK_JARS / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", str(SPARK_JARS / "*"), f"@{args_file}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
