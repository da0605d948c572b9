"""Benchmark entry point.

    python3 perfbench/run.py --workload archive_ingest --seed 1 --seconds 12 --trace 0

Builds the engine and the harness when stale (see build.py), then runs one
workload in one JVM (`local[N]`, N = min(4, nproc), one closed-loop client
thread). The harness generates the workload's inputs from --seed, measures
for --seconds, checks every operation's output, and prints a detail record
followed by the result line (the last line of stdout). Every file the run
writes lives under the build directory and is removed when the run ends.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("archive_ingest", "archive_monitor", "iterative_fits")
HEAP = "2g"
TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classpath = build.build()
        opens = build.add_opens()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = build.out_dir() / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cores = min(4, os.cpu_count() or 1)
    # fixed heap and young generation: the peak RSS then does not depend on
    # when the heap happened to grow; no perf-data file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xmn512m", "-Xss4m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(str(c) for c in classpath), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--cores", str(cores), "--heap", HEAP,
            "--bench-dir", str(build.BENCH)]
    proc = subprocess.Popen(cmd, cwd=work)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"harness exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
