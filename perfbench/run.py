#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

The first run builds the engine and the benchmark with sbt and caches the
runtime classpath under the build directory ($CARGO_TARGET_DIR, default
.bench_build). Every run then starts one JVM on local[nproc], which sets up
the workload from the seed, measures for --seconds, checks the answers and
prints the result as the last line of stdout. Per-run artifacts (stamped
results, spans, the tracing report, the suite's per-query table) go to
perfbench/out/. Optional: --suite-queries all makes the suite sweep every
SparkEntry query.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("pipeline", "metro", "lisa", "suite")
BUILD_TIMEOUT_S = 700
# a run ends within 180 s, or 900 s when it also builds
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 895

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main", ROOT / "project", HERE / "project"):
        if d.is_dir():
            files += [p for p in d.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(set(files)):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir, digest):
    """Compile engine + benchmark once; returns the runtime classpath."""
    cp_file = build_dir / "perfbench-classpath.txt"
    stamp_file = build_dir / "perfbench-classpath.sha256"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == digest:
        return cp_file.read_text().strip(), False
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("the engine's sources (build.sbt, src/main/scala) are not in this checkout")
    build_dir.mkdir(parents=True, exist_ok=True)
    log = build_dir / "perfbench-build.log"
    env = dict(os.environ, PERFBENCH_CLASSPATH_FILE=str(cp_file))
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out; see {log}")
        except BaseException:
            stop(proc)
            raise
    if code != 0 or not cp_file.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed; see {log}")
    stamp_file.write_text(digest)
    return cp_file.read_text().strip(), True


def stop(proc):
    """Kill a child's whole process group and wait for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def driver_heap():
    """SPARK_DRIVER_MEM, else half the host's memory clamped to 2..8 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def commit(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "sources-" + digest[:16]


def main():
    t0 = time.monotonic()
    # a terminated run still stops its children (see stop())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--suite-queries", choices=("bench", "all"), default="bench")
    a = ap.parse_args()

    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    digest = source_digest()
    classpath, did_build = build(build_dir, digest)
    built = time.monotonic()

    heap = driver_heap()
    out_dir = HERE / "out"
    log_dir = out_dir / "logs"
    log_dir.mkdir(parents=True, exist_ok=True)
    scratch = build_dir / "perfbench-run"
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={scratch / 'tmp'}",
        f"-Dspark.local.dir={scratch / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={scratch / 'warehouse'}",
        # the sort shuffle writer, as build.sbt selects by default
        "-Dspark.shuffle.sort.bypassMergeThreshold=1",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--out", str(out_dir),
        "--data", str(HERE / "data" / "sf0.01"), "--golden", str(ROOT / "golden" / "sf0.01.tsv"),
        "--suite-queries", a.suite_queries,
        "--stamp-commit", commit(digest), "--stamp-heap", heap,
    ]

    log = log_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}.stderr"
    limit = BUILD_RUN_LIMIT_S if did_build else RUN_LIMIT_S
    if a.suite_queries == "all":
        limit = 3600
    deadline = limit - (time.monotonic() - t0)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(1, deadline))
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"{a.workload} run exceeded its deadline; see {log}", 3)
        except BaseException:
            stop(proc)
            raise
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"{a.workload} run failed with code {proc.returncode}; see {log}", 4)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}", 5)
    for l in lines[:-1]:
        print(l)
    print(f"perfbench: build {built - t0:.1f} s, run {time.monotonic() - built:.1f} s, log {log}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
