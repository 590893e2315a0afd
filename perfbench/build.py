#!/usr/bin/env python3
"""Build file of the perfbench package.

Compiles the library (src/main/scala of the checkout) together with the
benchmark's own Scala sources into .bench_build/classes, with the Scala
compiler that ships in the Spark distribution's jars ($SPARK_HOME/jars,
default /opt/spark/jars). Nothing is resolved or downloaded. A content
hash of every source skips the compile when nothing changed.

    python3 perfbench/build.py          # main classes
    python3 perfbench/build.py --test   # main + test classes
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"


def spark_jars() -> Path:
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not (jars / "scala-compiler-2.13.17.jar").exists() and not list(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars}")
    return jars


def sources(test: bool) -> list:
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit(f"build: library sources not found at {lib}")
    dirs = [lib, BENCH / "src" / "main" / "scala"]
    if test:
        dirs.append(BENCH / "src" / "test" / "scala")
    files = sorted(p for d in dirs for p in d.rglob("*.scala"))
    if not any(str(p).startswith(str(lib)) for p in files):
        raise SystemExit("build: the library has no Scala sources")
    return files


def build(test: bool = False) -> Path:
    jars = spark_jars()
    files = sources(test)
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    dest = OUT / ("test-classes" if test else "classes")
    stamp = dest.with_suffix(".sha256")
    if dest.is_dir() and stamp.exists() and stamp.read_text() == digest:
        return dest
    OUT.mkdir(exist_ok=True)
    tmp = OUT / f"{dest.name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = OUT / f"{dest.name}.args{os.getpid()}"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}", "-cp", cp, "scala.tools.nsc.Main",
           "-d", str(tmp), "-classpath", cp, "-nowarn", f"@{argfile}"]
    print(f"build: compiling {len(files)} sources into {dest.relative_to(ROOT)}",
          file=sys.stderr, flush=True)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    finally:
        argfile.unlink(missing_ok=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    stamp.write_text(digest)
    return dest


if __name__ == "__main__":
    print(build(test="--test" in sys.argv[1:]))
