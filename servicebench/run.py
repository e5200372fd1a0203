#!/usr/bin/env python3
"""Service-path benchmark: builds the engine and the benchmark from
source on first use, then runs one workload in a fresh JVM.

    python3 servicebench/run.py --workload replay_backlog --seed 1 \
        --seconds 10 --trace 0 [--smoke] [--rate 10] [--patch-share 0.1]

Run from the root of a checkout. The last line of standard output is
one JSON object with the keys correct, attempted, failed and metrics;
the line before it names the run's full record under
servicebench/records/, a file of its own that is never overwritten.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
RECORDS = os.path.join(HERE, "records")
WORKLOADS = ["replay_backlog", "live_freshness", "query_mix"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the root build
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"servicebench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads, relative to the checkout root."""
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "project"),):
        if os.path.isdir(top):
            paths += [os.path.join(top, f) for f in sorted(os.listdir(top))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    return paths


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when any source changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} at {ROOT}: run from the root of a full checkout")
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    fp = fingerprint(build_inputs())
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    fp_file = os.path.join(BUILD_DIR, "fingerprint.txt")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=log, text=True,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        log.write(proc.stdout)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "servicebench" not in lines[-1]:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        die("build failed (see servicebench/.build/build.log)", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, same checks (the benchmark's own tests)")
    ap.add_argument("--rate", type=float, default=10.0,
                    help="live_freshness: events per second")
    ap.add_argument("--patch-share", type=float, default=0.1,
                    help="live_freshness: share of RDF Patch events")
    args = ap.parse_args()

    cp = classpath()
    cpus = os.cpu_count() or 1
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    name = f"{args.workload}_s{args.seed}_c{cpus}_t{args.trace}_{stamp}"
    os.makedirs(RECORDS, exist_ok=True)
    record = os.path.join(RECORDS, name + ".json")
    work = os.path.join(HERE, "work", name)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "servicebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--work", work, "--record", os.path.relpath(record, ROOT),
            "--rate", str(args.rate), "--patch-share", str(args.patch_share)]
    if args.smoke:
        cmd.append("--smoke")

    log_path = os.path.join(work, "jvm.log")
    out = ""
    code = 1
    proc = None
    # a terminated run stops its JVM too (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
                code = proc.returncode
            except subprocess.TimeoutExpired:
                code = None
        if code != 0:
            sys.stderr.write("".join(open(log_path).readlines()[-40:]))
            die("timed out" if code is None else f"benchmark exited with {code}", 1)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        die("no result line", 1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
