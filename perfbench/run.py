"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the benchmark if their sources changed (see
build.py), runs workload W in a fresh JVM with a fixed heap, and prints as
the last line of stdout one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1).  Every file the run writes lives in a run-scoped directory
under `.bench_build/runs` that is removed at the end.  Exits non-zero,
without a result, if the build or the run fails.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("indicator_screen", "flatfile_ingest", "tick_stream")
HEAP = "2g"
JVM_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the sbt build's javaOptions.
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

    cp = build.ensure_built()
    work = build.OUT / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j.configurationFile={build.BENCH / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    # a terminated benchmark takes its JVM with it (see the finally below)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    # Spark prefers this variable to spark.local.dir; keep shuffle files in the run directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {args.workload} did not finish within {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if result is None:
        print(f"perfbench: {args.workload} exited {proc.returncode} without a result", file=sys.stderr)
        return proc.returncode or 4
    print(f"perfbench: {args.workload} seed {args.seed}: {result['samples']} latency samples, "
          f"{result['attempted']} attempted, {result['failed']} failed", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] and proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
