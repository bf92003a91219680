#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (the build is reused while no source file
changes); every run then starts one JVM for the workload. All inputs,
outputs and temporary files stay inside the checkout, under
`.bench_run/` (temporary, removed after each run) and `.bench_out/`
(one JSON record per run). `--workload all` runs every workload in turn
and prints a combined result.

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. Without the engine's sources next
to this directory the script fails with exit code 2 and prints no
result.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("etl_trickle", "corpus_topk")
# the two halves of corpus_topk, runnable alone
COMPONENTS = ("corpus_curate", "vector_topk")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    for r in roots:
        for d, _, files in sorted(os.walk(r)):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark unless the last build saw these sources."""
    fp = fingerprint()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == fp:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    # sbt's own output goes to stderr: stdout carries only the result
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(fp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def java_cmd(args, run_dir, out_dir):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at the Spark 4 install")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([os.path.join(spark_home, "jars", "*"), CLASSES])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", os.path.join(run_dir, "data"), "--out", out_dir,
    ])


def run_one(args, deadline):
    """Run one workload in its own JVM; return its result object."""
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        proc = subprocess.Popen(java_cmd(args, run_dir, out_dir), cwd=run_dir,
                                stdout=subprocess.PIPE, stderr=sys.stderr,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{args.workload}: timed out")
        lines = [l for l in out.splitlines() if l.strip()]
        for line in lines[:-1]:
            print(line)
        if proc.returncode != 0 or not lines:
            fail(f"{args.workload}: benchmark JVM exited with {proc.returncode}")
        try:
            return json.loads(lines[-1])
        except ValueError:
            fail(f"{args.workload}: no result line")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + COMPONENTS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    build()
    if args.workload != "all":
        result = run_one(args, time.time() + RUN_TIMEOUT_S)
    else:
        results = {}
        for w in WORKLOADS:
            one = argparse.Namespace(**{**vars(args), "workload": w})
            results[w] = run_one(one, time.time() + RUN_TIMEOUT_S)
        result = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
