"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload <cqc_sql|datapipe> --seed <n>
                             --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use. Then it
starts set-up-only JVMs (session ready and base tables loaded, timed from
JVM start), and one JVM that does the same set-up and then runs a cold
pass, warm-up, and timed passes for `--seconds` on the fixed testdata. Every execution's output
digest is checked against `expected_digests.json`. The last stdout line
is the result JSON: end-to-end metrics with `--trace 0`, per-layer
metrics (listener on) with `--trace 1`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import harness  # noqa: E402

# a run, build excluded, must end within this many seconds
DEADLINE_S = 170
# JVMs whose set-up is timed, the main one included; setup_s is the median
SETUP_JVMS = 2


def run_jvm(cmd, log_path, deadline):
    """Runs one benchmark JVM to completion; returns its non-empty stdout lines."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=harness.ROOT)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            harness.log("benchmark JVM timed out")
            sys.exit(4)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        harness.log(f"benchmark JVM failed (exit {proc.returncode})")
        sys.exit(5)
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--trace-file", help="also write one JSON row per execution here")
    a = ap.parse_args()
    # on termination, unwind so that the child processes are killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(6))

    harness.check_sources()
    harness.classpath()  # builds on first use in a checkout
    data = harness.data_dir()
    deadline = time.monotonic() + DEADLINE_S
    scratch = os.path.join(harness.OUT, f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", data, "--scratch", scratch,
            "--expected", os.path.join(harness.BENCH_DIR, "expected_digests.json"),
            "--cores", str(harness.cores())]
    if a.trace_file:
        args += ["--trace-file", os.path.abspath(a.trace_file)]
    cmd = harness.java_cmd("perfbench.Main", tmpdir=tmp) + args
    try:
        setup_s = [run_jvm(cmd + ["--setup-only", "1"], os.path.join(scratch, f"setup{i}.log"),
                           deadline)[-1]
                   for i in range(SETUP_JVMS - 1)]
        lines = run_jvm(cmd + ["--setup-s", ",".join(setup_s)],
                        os.path.join(scratch, "jvm.log"), deadline)
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
