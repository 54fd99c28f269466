#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources into perfbench/.build/classes with the
Scala compiler that ships among the Spark jars (SPARK_HOME, or the
installation of the spark-submit on PATH).

    python3 perfbench/build.py        # from the repository root

The build is skipped when a stamp of every source file's path and
content matches the last successful build.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
BUILD = BENCH / ".build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"


def spark_jars() -> Path:
    """SPARK_HOME's jars, else those of the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"perfbench: program sources not found at {PROGRAM_SRC}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise SystemExit("perfbench: no Scala sources to build")
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def ensure() -> Path:
    """Builds if the sources changed; returns the classes directory."""
    files = sources()
    want = stamp(files)
    if STAMP.is_file() and STAMP.read_text() == want and CLASSES.is_dir():
        return CLASSES
    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among the Spark jars in {jars}")
    shutil.rmtree(BUILD, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", str(jars / "*")] + [str(f) for f in files]
    print(f"perfbench: compiling {len(files)} Scala sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(BUILD, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    STAMP.write_text(want)
    return CLASSES


if __name__ == "__main__":
    ensure()
