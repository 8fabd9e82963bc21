#!/usr/bin/env python3
"""Benchmark command. Runs one workload in one JVM and prints, as the last
line of standard output, one JSON object with the keys correct, attempted,
failed and metrics. Exits non-zero when any operation or output check failed.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Workloads and metrics are listed in BENCHMARK.json; see perfbench/README.md.
The program and the harness are compiled from source on first use."""
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

RUN_TIMEOUT_S = 170
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
               "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
               "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap_gb():
    """A quarter of MemTotal, between 2 and 4 GB, leaving memory to other processes."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main(argv):
    cp = build.build()
    tmp = ROOT / ".bench_build" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    g = heap_gb()
    # fixed generation sizes: with adaptive sizing the young generation
    # keeps resizing over the first passes, and timed passes pay for it
    cmd = (["java"] + opens + ["--add-modules=jdk.incubator.vector", "-XX:+UseParallelGC",
           f"-Xmx{g}g", f"-Xms{g}g", "-XX:-UseAdaptiveSizePolicy", "-XX:NewRatio=1",
           "-XX:SurvivorRatio=8", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main"] + argv)
    env = dict(os.environ, PERFBENCH_GIT_COMMIT=git_commit())
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, env=env)

    def reap():
        proc.kill()
        proc.wait()
        for d in (ROOT / ".bench_build" / "work").glob(f"*-{proc.pid}"):
            shutil.rmtree(d, ignore_errors=True)

    def stop(signum, _frame):
        reap()
        sys.exit(128 + signum)

    # the JVM must not outlive this process
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        reap()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    result = None
    for line in out.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            obj = None
        if isinstance(obj, dict) and "correct" in obj:
            result = line
        else:
            print(line)
    if result is None:
        print(f"perfbench: no result (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    print(result)
    sys.stdout.flush()
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
