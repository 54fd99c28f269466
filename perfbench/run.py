#!/usr/bin/env python3
"""Runs one perfbench workload from the repository root.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), runs
the workload in one JVM, and prints the JVM's run record followed, as
the last line, by the result object: correct, attempted, failed and
the metrics listed in BENCHMARK.json (end-to-end ones with --trace 0,
per-layer ones with --trace 1). Exits non-zero, without a result, if
anything fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("serve", "corpus")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the set build.sbt passes)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(BENCH))
    sys.dont_write_bytecode = True
    import build
    build.ensure()

    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_dir = BENCH / "out"
    out_dir.mkdir(exist_ok=True)
    spans = out_dir / f"spans-{args.workload}-{args.seed}.json"
    cmd = (["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", str(work), "--spans", str(spans)])
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: workload timed out", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        print(f"perfbench: workload exited with {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    record = next((l for l in lines if l.startswith("RECORD ")), None)
    if record:
        print(record)
        (out_dir / f"record-{args.workload}-{args.seed}-t{args.trace}.json").write_text(
            record[len("RECORD "):] + "\n")

    # per-layer metrics of layers this workload does not exercise read 0
    declared = spec["per_layer"] if args.trace == "1" else spec["end_to_end"]
    got = result["metrics"]
    metrics = {}
    for m in declared:
        v = got.get(m["name"], {}).get("value", 0.0 if args.trace == "1" else None)
        if v is None:
            print(f"perfbench: metric {m['name']} missing or undefined", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
