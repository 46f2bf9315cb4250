#!/usr/bin/env python3
"""graft benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a graft checkout. It builds graft and the
benchmark's own code from source (once per source state), runs workload W on
inputs generated from seed N for S measured seconds in one JVM, checks the
outputs, and prints a few summary lines followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 they are the per-layer ones, and the span tree is kept under
.perfbench_work/last-trace/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The jars of the local Spark installation: $SPARK_HOME/jars, or the
    installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)", 2)
    return os.path.join(home, "jars")


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log):
    """Compile graft + the benchmark with sbt unless the sources are unchanged."""
    stamp = fingerprint(sources())
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars(), SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g"))
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if p.returncode != 0:
        fail(f"build failed, see {log}", 3)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_jvm(args, run_dir, log, deadline):
    work = os.path.join(run_dir, "work")
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Djdk.reflect.useDirectMethodHandleAccessor=false",
        "--add-modules=jdk.incubator.vector", "-XX:+IgnoreUnrecognizedVMOptions",
        "--enable-native-access=ALL-UNNAMED", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out])
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded its time limit, see {log}", 5)
    if p.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        fail(f"run failed (exit {p.returncode}), see {log}", 4)
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh), out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under ./src/main/scala; run from a graft checkout", 2)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}", 2)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    os.makedirs(WORK, exist_ok=True)
    build(os.path.join(WORK, "build.log"))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res, out = run_jvm(args, run_dir, os.path.join(WORK, "last-run.log"),
                           time.time() + RUN_LIMIT_S - min(60.0, time.time() - started))
        if args.trace and os.path.exists(os.path.join(out, "spans.jsonl")):
            keep = os.path.join(WORK, "last-trace")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            shutil.copy(os.path.join(out, "spans.jsonl"), keep)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = int(res["attempted"]), int(res["failed"])
    missing = [m["name"] for m in wanted
               if not isinstance(res["metrics"].get(m["name"], {}).get("value"), (int, float))]
    if missing:
        fail(f"run did not report {missing}", 4)
    for k, v in res["notes"].items():
        print(f"# {k} = {v}")
    for p in res["problems"]:
        print(f"# problem: {p}")
    for k, v in res["metrics"].items():
        print(f"# metric {k} = {v['value']} {v['unit']}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]]["value"], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
