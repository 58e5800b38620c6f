"""Build and launch helpers shared by the benchmark's scripts.

Build outputs are kept under `.bench_build/perfbench/` at the checkout
root: the exported JVM classpath (keyed on a hash of every source the
build reads) and per-run scratch directories. The input tables are the
repository's fixed sf0.01 testdata, copied byte for byte into
`testdata/sf0.01/` with their SHA-256 sums.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(BENCH_DIR, "testdata", "sf0.01")

# Spark on JDK 17 needs these when a session is created outside
# spark-submit; the same list the program's own build passes.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def check_sources():
    """Fail fast when the program the benchmark measures is not beside it."""
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log("program sources not found: " + ", ".join(os.path.relpath(p, ROOT) for p in missing))
        sys.exit(2)


def _sources():
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main/**/*.scala"]
    files = set()
    for pat in pats:
        files.update(glob.glob(os.path.join(ROOT, pat), recursive=True))
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Compile the program and the harness once per source state and return
    the runtime classpath."""
    os.makedirs(OUT, exist_ok=True)
    stamp = os.path.join(OUT, f"classpath-{fingerprint()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    log("building program and harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        log(f"sbt build failed (exit {proc.returncode})")
        sys.exit(3)
    for old in glob.glob(os.path.join(OUT, "classpath-*.txt")):
        os.remove(old)
    with open(stamp, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def data_dir():
    """The fixed input tables, after checking each against its recorded sum."""
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        sums = [l.split() for l in fh if l.strip()]
    for want, name in sums:
        with open(os.path.join(DATA, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != want:
                log(f"input table {name} does not match its recorded SHA-256")
                sys.exit(2)
    return DATA


def java_cmd(main, tmpdir):
    java = shutil.which("java") or sys.exit("java not found on PATH")
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["-Xmx3g", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmpdir}"]
    return [java] + opts + ["-cp", classpath(), main]


def cores():
    return len(os.sched_getaffinity(0))
