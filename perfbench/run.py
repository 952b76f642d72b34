#!/usr/bin/env python3
"""Benchmark of the artifact app built on the graft engine.

    python3 perfbench/run.py --workload <app_queries|bulk_ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse that
build until a source file changes. Each run starts one JVM at local[4] with
its own temp, Spark-local and warehouse directories under perfbench/.work,
runs one workload with a single closed-loop client, replays its outputs in
DuckDB (untimed), prints one summary line and, last, one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones from a separate, traced run (spans go to
perfbench/.out/spans-<workload>.jsonl).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
WORKLOADS = ("app_queries", "bulk_ingest")
RUN_LIMIT_S = 170  # a run must end within 180 s (900 s when it builds)

# BENCHMARK.json names every metric and its unit; the JVM must report
# exactly those.
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    _declared = json.load(f)
END_TO_END = {m["name"]: m["unit"] for m in _declared["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _declared["per_layer"]}

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def newest_source_mtime():
    newest = os.path.getmtime(os.path.join(HERE, "build.sbt"))
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "project")):
        for d, _, files in os.walk(top):
            if os.path.basename(d) == "target":
                continue
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the engine and harness unless the last build is current."""
    if (os.path.exists(CLASSPATH)
            and os.path.getmtime(CLASSPATH) >= newest_source_mtime()):
        return
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    log = os.path.join(HERE, ".work", "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=600)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (see {log}):\n{tail(log)}")


def run_jvm(args, work, deadline):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    cmd = ["java", "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Bench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit:\n{tail(log)}")
        finally:
            if proc.poll() is None:  # timed out, or this process was stopped
                proc.kill()
                proc.wait()
    if code != 0:
        fail(f"JVM exited with {code}:\n{tail(log)}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a stopped benchmark stops its JVM too (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}", code=2)
    import check  # needs duckdb; fail before building if it is missing

    build()
    start = time.time()
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run_jvm(args, work, start + RUN_LIMIT_S)
        n_checks, failures = check.run(result["check"])
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            out = os.path.join(HERE, ".out")
            os.makedirs(out, exist_ok=True)
            shutil.copy(spans, os.path.join(out, f"spans-{args.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = PER_LAYER if args.trace else END_TO_END
    got = result["metrics"]
    if set(got) != set(want):
        fail(f"metric set mismatch: {sorted(set(got) ^ set(want))}")
    attempted = result["attempted"] + n_checks
    failed = result["failed"] + len(failures)
    for msg in (result["errors"] + failures)[:5]:
        print(f"perfbench: {msg}", file=sys.stderr)
    walls = " ".join(f"{k}={v:.1f}s" for k, v in result["wall_s"].items())
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={attempted} failed={failed} "
          f"failed_op_ratio={failed / attempted:.4f} correct={failed == 0} "
          f"{walls} total={time.time() - start:.1f}s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": got[k]["value"], "unit": want[k]}
                    for k in want},
    }))


if __name__ == "__main__":
    main()
