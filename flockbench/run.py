#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 flockbench/run.py --workload batch_sql --seed 1 --seconds 20 --trace 0

Run from the repo root. Builds the program from source if needed (see
build.py), then starts one JVM with a heap of half the host's RAM capped
at 8g, and passes its output through. Exits non-zero, without a result
line, when the program cannot be built or a workload aborts, and with 1
after the result line when an output check failed.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("batch_sql", "stream_store")
JVM_TIMEOUT_S = 170

# What spark-submit would add on JDK 17 (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap():
    """Half of RAM in whole GiB, between 2g and 8g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf-dir", help="fixture directory (default: the sf0.1 fixtures)")
    a = p.parse_args()

    build.build()
    work = os.path.join(build.OUT, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    opens = [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{heap()}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *opens,
           "-cp", build.classpath(), "graft.flockbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--trace-dir", os.path.join(build.OUT, "trace"),
           "--bench-dir", build.BENCH, *(["--sf-dir", a.sf_dir] if a.sf_dir else [])]
    proc = subprocess.Popen(cmd)

    def stop(*_):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"flockbench: {a.workload} exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        stop()
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
