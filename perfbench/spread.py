"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--trace 0]

Runs the benchmark once per seed (one after another) and prints, per
metric, the median and the distance between the first and third
quartiles as a share of the median, next to the metric's bound in
BENCHMARK.json. Each run's result line is appended to `--log`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--log")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls = {}, []
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
        walls.append(time.monotonic() - t0)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if a.log:
            with open(a.log, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed, **result}) + "\n")
        if not result["correct"]:
            print(f"seed {seed}: incorrect output ({result['failed']} failed)", file=sys.stderr)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"{a.workload}: {len(walls)} runs, wall per run median {statistics.median(walls):.1f} s,"
          f" max {max(walls):.1f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"  {k:24s} median {med:12.4f}  spread {spread:7.3f}  bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
