#!/usr/bin/env python3
"""Serve-path benchmark for the graft catalog.

Builds the catalog and this benchmark from the checkout's sources (once per
source state), then runs one JVM that sets the catalog up, serves it through
HttpCatalog on loopback and drives one workload against it.

    python3 servebench/run.py --workload search_read --seed 1 --seconds 20 --trace 0

The last line of standard output is the result: {"correct", "attempted",
"failed", "metrics"}. The line before it is the run record. With --trace 1
the metrics are the per-layer ones. See servebench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "servebench")
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft")
WORKLOADS = ("search_read", "write_mix", "search_scale")
# A run must end within 180 s; a run that builds first, within 900 s.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(2)


def data_dir():
    """The sf0.1 tables, at the directory TESTDATA.md lists for scale 0.1."""
    doc = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.exists(doc):
        fail("TESTDATA.md not found")
    with open(doc) as fh:
        for line in fh:
            cells = [c.strip().strip("`") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == "0.1":
                return cells[2].rstrip("/")
    fail("TESTDATA.md lists no directory for scale 0.1")


def spark_home():
    """SPARK_HOME, or the first Spark installation whose bin/ is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found (set SPARK_HOME)")


def source_files():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compiles program + benchmark with sbt; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, args, data, run_dir, out, deadline):
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={run_dir}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "servebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", os.path.join(run_dir, "work"), "--out", out]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    with open(log_path, errors="replace") as fh:
        lines = fh.read().splitlines()
    for l in lines:
        if l.startswith("[servebench]"):
            print(l, file=sys.stderr)
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("benchmark JVM timed out" if code is None else f"benchmark JVM exited with {code}")


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM):
        fail(f"program sources not found at {os.path.relpath(PROGRAM, ROOT)}")
    data = data_dir()
    if not os.path.exists(os.path.join(data, "part.parquet")):
        fail(f"test data not found at {data}")
    names = declared_metrics(args.trace)
    t_build = time.time()
    cp = build()
    build_s = time.time() - t_build

    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    try:
        run_jvm(cp, args, data, run_dir, out, start + build_s + RUN_LIMIT_S)
        with open(out) as fh:
            doc = json.load(fh)
        if args.trace:
            spans = out.replace(".json", "-spans.tsv")
            kept = os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.tsv")
            if os.path.exists(spans):
                shutil.move(spans, kept)
                doc["record"]["spans_file"] = os.path.relpath(kept, ROOT)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res = doc["result"]
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        fail(f"metrics missing from the result: {missing}")
    doc["record"]["latency_by_class"] = res.get("by_class")
    print(json.dumps({"record": doc["record"]}))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["warmup_failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: res["metrics"][n] for n in names},
    }))


if __name__ == "__main__":
    main()
