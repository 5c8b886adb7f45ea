#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the engine and the harness first when their sources changed (see
build.py), then runs one JVM: `local[N]` Spark with N = the CPU count. The
result line is one JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. The line before it carries the input sizes, skew and
output digests. Everything a run writes lives under `.bench_work/` in the checkout.
The first run of a build first fits and saves the model in a JVM of its own;
every run deploys that saved model.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve", "first_select")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    return p.parse_args()


def java_cmd(classpath, work, model, args, prepare=False):
    opens = []
    for pkg in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    return (["java", "-Xmx3g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dlog4j2.configurationFile=" +
             os.path.join(build.HERE, "log4j2.properties")]
            + opens
            + ["-cp", classpath, "graft.perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", args.trace,
               "--work", work, "--model", model]
            + (["--prepare", "1"] if prepare else []))


def java(cmd, log):
    """Run one JVM to its end, killing it at the time limit."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return proc, out


def main():
    args = parse_args()
    try:
        classpath, stamp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.ROOT, ".bench_work", f"{args.workload}-{args.seed}")
    # the model every untraced run of this build deploys, fitted once by a
    # process of its own
    model = os.path.join(build.ROOT, ".bench_work", "models", stamp[:16])
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            if not os.path.exists(os.path.join(model, "_DONE")):
                java(java_cmd(classpath, work, model, args, prepare=True), log)
            proc, out = java(java_cmd(classpath, work, model, args), log)
        lines = out.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if not isinstance(result, dict) or set(result) != {
                "correct", "attempted", "failed", "metrics"}:
            with open(log_path) as log:
                sys.stderr.write(log.read()[-6000:])
            print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
            return 1
        keep = os.path.join(build.ROOT, ".bench_work", "spans")
        if os.path.exists(os.path.join(work, "spans.json")):
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(keep, f"{args.workload}-{args.seed}.json"))
        print("\n".join(lines))
        return 0
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
