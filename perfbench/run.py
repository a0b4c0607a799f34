#!/usr/bin/env python3
"""Benchmark of record for the log loader and its query engine.

Builds the engine and the benchmark from the sources in this checkout (once
per source state, with sbt in offline mode), then runs one workload in a fresh
JVM and prints its result as the last line of standard output.

    python3 perfbench/run.py --workload etl_many_small --seed 1 --seconds 12 --trace 0

Workloads: etl_many_small, query_mix (see perfbench/README.md).
`--trace 1` reports the per-layer metrics instead of the end-to-end ones.
`--smoke` runs the small size of the workload; `--record-fingerprints` rewrites
the query fixture's expected fingerprints from the code as it stands.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("etl_many_small", "query_mix")

# Spark on JDK 17 outside spark-submit needs these (the list Spark's launcher
# passes, as in the engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    engine = ROOT / "src" / "main"
    if not (engine / "scala").is_dir():
        fail(f"engine sources not found under {engine}")
    files = [p for d in (engine, BENCH / "src") for p in d.rglob("*") if p.is_file()]
    return sorted(files) + [BENCH / "build.sbt", BENCH / "project" / "build.properties"]


def build():
    """Compiles once per source state; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = digest.hexdigest()
    stamp_file, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()

    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True,
                             timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    lines = [l for l in out.stdout.splitlines() if "sbt-target" in l and os.pathsep in l]
    if not lines:
        fail("build printed no classpath")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()

    cp = build()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    java = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
        f"-Dderby.stream.error.file={BUILD / 'derby.log'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--root", str(ROOT), "--cores", str(cores),
    ] + (["--smoke"] if a.smoke else []) + (
        ["--record-fingerprints"] if a.record_fingerprints else [])
    # the bench profile: no engine tuning knob may leak in from the caller
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    proc = subprocess.Popen(java, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    result = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    for line in out.splitlines():
        if line.startswith('{"correct"'):
            result = line
        else:
            print(line)
    if proc.returncode != 0 or (result is None and not a.record_fingerprints):
        fail(f"run failed (exit {proc.returncode})", 1)
    if result is not None:
        print(result, flush=True)


if __name__ == "__main__":
    main()
