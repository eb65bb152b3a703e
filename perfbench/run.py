#!/usr/bin/env python3
"""One benchmark run of one workload.

Usage (from the repo root):
  python3 perfbench/run.py --workload serve|produce --seed N \
      --seconds S --trace 0|1

Builds the program from source if needed (perfbench/build.py), starts one
JVM with a pinned heap and SPARK_GRAFT_CPUS pinned to the usable cores, and
runs the workload in a fresh data directory under perfbench/.run that is
removed afterwards. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
BENCHMARK.json's end-to-end metrics, with --trace 1 its per-layer metrics
(and the spans go to perfbench/.traces/<workload>-<seed>.jsonl).
Exits non-zero without a result line when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("serve", "produce")
HEAP = "3g"
JVM_TIMEOUT_S = 170
# what spark-submit would pass on JDK 17 (the list build.sbt's forked runs use)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, log=None):
    print(f"perfbench: {msg}", file=sys.stderr)
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace == "1" else "end_to_end"]

    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    run_dir = os.path.join(HERE, ".run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log = os.path.join(run_dir, "jvm.log")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    env.pop("SPARK_GRAFT_MASTER", None)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--dir", run_dir,
              "--launch-ms", str(int(time.time() * 1000))])
    try:
        with open(log, "w") as out:
            p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir, env=env)
            try:
                code = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"run exceeded {JVM_TIMEOUT_S} s", log)
        if code != 0:
            fail(f"JVM exited with {code}", log)
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)

        failed = res["failed"]
        if a.trace == "1":
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(HERE, ".traces", f"{a.workload}-{a.seed}.jsonl"))
        values = dict(res["metrics"], **res["layers"])
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            fail(f"run reported no value for {missing}")
        print("perfbench: " + json.dumps(dict(res["info"], end_to_end=res["metrics"])),
              file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
