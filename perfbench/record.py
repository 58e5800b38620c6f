"""Records the expected output digests and confirms them with DuckDB.

    python3 perfbench/record.py [--cores N] [--compare]

Runs every workload entry once on the fixed testdata and writes
`expected_digests.json` (name -> "rows:hashsum"). Each output whose entry
has a DuckDB oracle query in graft is then checked by the repository's
own correctness gate, `scripts/check.py`; its PASS/FAIL line per entry
goes to `oracle_check.json`. With `--compare` nothing is written: the
digests of this run (e.g. at another core count) are checked against the
recorded ones.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import harness  # noqa: E402


def oracle_check(data, dump):
    """Runs scripts/check.py over the dumped outputs; entry -> its verdict line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(harness.ROOT, "scripts", "check.py"), dump, data],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    status = {}
    for line in proc.stdout.splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict in ("PASS", "FAIL"):
            name, _, why = rest.partition(": ")
            status[name] = f"{verdict} {why}"
            harness.log(f"oracle {name}: {status[name]}")
    return status


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--cores", type=int, default=harness.cores())
    ap.add_argument("--compare", action="store_true")
    a = ap.parse_args()
    harness.check_sources()
    data = harness.data_dir()
    scratch = os.path.join(harness.OUT, f"record-{os.getpid()}")
    dump = os.path.join(scratch, "dump")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.makedirs(dump, exist_ok=True)
    out = os.path.join(scratch, "digests.json")
    try:
        cmd = harness.java_cmd("perfbench.Record", tmpdir=os.path.join(scratch, "tmp")) + [
            "--data", data, "--scratch", scratch, "--cores", str(a.cores),
            "--out", out, "--dump", dump]
        subprocess.run(cmd, check=True, cwd=harness.ROOT)
        with open(out) as fh:
            digests = json.load(fh)
        recorded_path = os.path.join(harness.BENCH_DIR, "expected_digests.json")
        if a.compare:
            with open(recorded_path) as fh:
                recorded = json.load(fh)
            diff = {k: (v, recorded.get(k)) for k, v in digests.items() if recorded.get(k) != v}
            print(json.dumps({"cores": a.cores, "entries": len(digests), "differ": diff}))
            sys.exit(1 if diff else 0)
        with open(recorded_path, "w") as fh:
            json.dump(digests, fh, indent=1)
            fh.write("\n")
        status = oracle_check(data, dump)
        status.update({k: "no oracle query" for k in digests if k not in status})
        with open(os.path.join(harness.BENCH_DIR, "oracle_check.json"), "w") as fh:
            json.dump(dict(sorted(status.items())), fh, indent=1)
            fh.write("\n")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
