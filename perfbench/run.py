#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 3 --trace 0

Builds the harness and the program from this checkout's sources (sbt, first
run only, or when a source changed), then runs the harness JVM with a fresh
temporary directory and Spark local directory, deleted at the end.

The full result of the latest run of each workload and trace setting (per-cell
walls and counts, probe details, spans) is kept in
perfbench/target/last-<workload>-trace<0|1>.json.

Maintenance options:
  --record FILE   append the full result as a JSON line
  --observe FILE  write the warm round's row counts and hashes (see reference.py)
  --cores N       Spark cores (default: all)
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.01"
BUILD = BENCH / "target" / "perfbench-classpath.txt"
REFERENCE = BENCH / "reference.json"
WORKLOADS = ("dashboard", "curation", "refresh")
# Spark on JDK 17 needs these outside spark-submit (the root build forks with the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HARNESS_TIMEOUT_S = 170


def source_stamp():
    """Hash of every file the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    stamp = source_stamp()
    if BUILD.is_file():
        saved_stamp, cp = BUILD.read_text().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx3g").strip()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        stdin=subprocess.DEVNULL)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout)
        sys.exit(f"perfbench: build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    BUILD.parent.mkdir(parents=True, exist_ok=True)
    BUILD.write_text(stamp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record")
    ap.add_argument("--observe")
    ap.add_argument("--cores", type=int)
    a = ap.parse_args()
    # a terminated run still stops its JVM and deletes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        sys.exit("perfbench: the program's sources are not in this checkout")
    cp = classpath()

    (BENCH / "target").mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=BENCH / "target"))
    try:
        tmp, local, out = run_dir / "tmp", run_dir / "local", run_dir / "result.json"
        tmp.mkdir()
        local.mkdir()
        cmd = ["java"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += [
            "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            f"-Dderby.system.home={run_dir}",
            "-cp", cp, "perfbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", str(DATA), "--scratch", str(tmp),
            "--out", str(out),
        ]
        if REFERENCE.is_file():
            cmd += ["--reference", str(REFERENCE)]
        if a.observe:
            cmd += ["--observe", str(Path(a.observe).resolve())]
        if a.cores:
            cmd += ["--cores", str(a.cores)]
        try:
            proc = subprocess.run(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                  stdout=sys.stderr, timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: harness exceeded {HARNESS_TIMEOUT_S} s")
        if proc.returncode != 0 or not out.is_file():
            sys.exit(f"perfbench: harness failed (exit {proc.returncode})")
        result = json.loads(out.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # the full result of the latest run, spans included, stays in the checkout
    (BENCH / "target" / f"last-{a.workload}-trace{a.trace}.json").write_text(json.dumps(result))
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps(result) + "\n")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
