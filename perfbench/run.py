#!/usr/bin/env python3
"""Runs one perfbench workload against the engine in this checkout.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload oneshot --seed 1 --seconds 10 --trace 0

The first run builds the engine and the harness with sbt (offline) and
caches the classpath under .bench_build/perfbench, keyed by a digest of
the sources. Each run then starts one JVM, which prints the run context,
every metric with its unit, and as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}.

--cores N (default: min(4, nproc)) sets local[N]; --cores 1 is the
single-threaded baseline. --record-goldens rewrites perfbench/goldens.tsv,
but only after the batch faces pass tools/check.py against the DuckDB
oracle at sf0.1.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SF_DIR = os.path.expanduser("~/testdata/sf0.1")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") + " "
                "-Dsbt.offline=true -Xmx2g",
}

# Spark 4.x on JDK 17 outside spark-submit needs these opens; the
# harness's own tests read the same file.
OPENS_FILE = os.path.join(BENCH, "jvm-opens.txt")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(d, f) for d in (ROOT, BENCH) for f in ("build.sbt", "project/build.properties")]
    files.append(OPENS_FILE)
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    when this process is stopped."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:  # timeout, or this process being stopped
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(src_digest):
    """Compiles engine + harness once per source digest; returns the classpath."""
    stamp = os.path.join(OUT, f"classpath-{src_digest}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(OUT, exist_ok=True)
    log("building engine and harness with sbt")
    env = dict(os.environ, **SBT_ENV)
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    cp = [l for l in out.splitlines() if "perfbench/target/scala-" in l and ":" in l]
    if rc != 0 or not cp:
        sys.stderr.write(out[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def java_cmd(cp, main, args, heap="3g"):
    with open(OPENS_FILE) as f:
        opens = [x for p in f.read().split() for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_*.
    return ["java", *opens, f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main, *args]


def commit_id(src_digest):
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return f"src-{src_digest}"


def record_goldens(cp):
    """Fingerprints the batch faces only after they pass the oracle check."""
    rc, names = run_bounded(java_cmd(cp, "perfbench.Main", ["--list-faces"]), 120,
                            stdout=subprocess.PIPE, text=True)
    names = names.strip().splitlines()[-1]
    out = os.path.join(OUT, "verify")
    shutil.rmtree(out, ignore_errors=True)
    rc, _ = run_bounded(java_cmd(cp, "graft.Verify", [SF_DIR, out, names]), 1800)
    if rc != 0:
        raise SystemExit("graft.Verify failed")
    rc, text = run_bounded([sys.executable, os.path.join(ROOT, "tools", "check.py"), SF_DIR, out],
                           1800, stdout=subprocess.PIPE, text=True)
    print(text)
    m = re.search(r"(\d+) passed, (\d+) failed", text or "")
    if rc != 0 or not m or int(m.group(2)) != 0 or int(m.group(1)) != len(names.split(",")):
        raise SystemExit("oracle check did not pass every face; goldens not recorded")
    work = os.path.join(OUT, f"work-{os.getpid()}")
    try:
        rc, _ = run_bounded(java_cmd(cp, "perfbench.Main",
                                     ["--record-goldens", os.path.join(BENCH, "goldens.tsv"),
                                      "--sf", SF_DIR, "--work", work]), 900)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        raise SystemExit("recording goldens failed; goldens.tsv left as it was")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["oneshot", "fixpoint", "flow_stream", "index_ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1))
    ap.add_argument("--record-goldens", action="store_true")
    a = ap.parse_args()
    if not a.record_goldens and not a.workload:
        ap.error("--workload is required")

    if not os.path.isdir(ENGINE_SRC) or not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        log("no engine sources here: run from the root of a checkout")
        return 2
    if not os.path.isdir(SF_DIR):
        log(f"dataset {SF_DIR} is missing")
        return 2

    src_digest = digest()
    cp = build(src_digest)
    if a.record_goldens:
        record_goldens(cp)
        return 0

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores), "--sf", SF_DIR,
            "--work", os.path.join(OUT, f"work-{os.getpid()}"), "--reports", os.path.join(OUT, "reports"),
            "--goldens", os.path.join(BENCH, "goldens.tsv"), "--commit", commit_id(src_digest)]
    try:
        rc, out = run_bounded(java_cmd(cp, "perfbench.Main", args), RUN_TIMEOUT_S,
                              stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 1
    finally:
        shutil.rmtree(os.path.join(OUT, f"work-{os.getpid()}"), ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        log(f"run failed (exit {rc})")
        return 1
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
