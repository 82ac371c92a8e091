"""Benchmark launcher. Run from the repository root:

    python3 perfbench/run.py --workload ingest_windows --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark (perfbench/build.py), sizes the JVM
heap from host memory, runs one workload in a fresh JVM and passes its
output through; the last line is the JSON result. Exits non-zero without a
result when the build or the run fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest_windows", "join_updates", "dedup_ingest", "curate_batch")
RUN_LIMIT_S = 170
# Task slots: at most 3, leaving a core for Spark's coordinating thread,
# whose per-batch work (listing, planning, commit) sets most of a
# micro-batch's time.
MAX_SLOTS = 3

# Spark on JDK 17 outside spark-submit (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_mb() -> tuple:
    """A fifth of host memory, between 2 and 6 GiB."""
    total = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) // 1024
    return max(2048, min(6144, total // 5)), total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build_dir = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build").resolve()
    classpath = build.build(build_dir)

    heap, total = heap_mb()
    slots = min(MAX_SLOTS, len(os.sched_getaffinity(0)))
    tmp = build_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+AlwaysPreTouch", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + str(Path("perfbench/log4j2.properties").resolve())]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--build-dir", str(build_dir), "--cpus", str(slots)]
    print(f"# {a.workload}: heap {heap} MB (host MemTotal {total} MB / 5, "
          f"clamped to 2-6 GiB); {slots} task slots", flush=True)

    # Synthesize any missing corpus blocks in a JVM of their own first.
    prep = subprocess.run(cmd + ["--prepare"], stdout=sys.stderr, timeout=RUN_LIMIT_S * 4)
    if prep.returncode != 0:
        return prep.returncode
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    expired = threading.Event()

    def kill():
        expired.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_LIMIT_S, kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            if not expired.is_set():
                print(line, end="", flush=True)
            if line.strip():
                last = line.strip()
        proc.wait()
    finally:
        watchdog.cancel()
    if expired.is_set():
        print(f"run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    if proc.returncode != 0:
        return proc.returncode
    try:
        out = json.loads(last)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print("no result line", file=sys.stderr)
        return 4
    return 0


if __name__ == "__main__":
    sys.exit(main())
