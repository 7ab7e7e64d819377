"""Run one workload of the extraction benchmark and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (see build.py), then runs the
workload in one JVM at local[nproc]. Every line of the benchmark's output is
passed through; the last line is the result object
{"correct", "attempted", "failed", "metrics"}, printed only when the run
completed. With --trace 1 the run's spans are written to
.bench_build/traces/<workload>.spans.jsonl. Workloads and metrics are
described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("crawl_mix", "pdf_docs", "curate")
HEAP = "2g"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings (the
# same list as the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    try:
        classpath = build.build(root)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    bench = root / ".bench_build"
    work = bench / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: the JVM would otherwise write its perf counters to
    # the system temp directory, outside the checkout
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-ShrinkHeapInSteps",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
           "-cp", classpath, "perfbench.BenchMain",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work),
           "--trace-out", str(bench / "traces" / f"{args.workload}.spans.jsonl")]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    if timed_out.is_set():
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 1
    if rc != 0 or result is None:
        print(f"perfbench: benchmark exited with code {rc} without a result", file=sys.stderr)
        return 1
    json.loads(result)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"perfbench: finished in {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
