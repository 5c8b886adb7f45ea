#!/usr/bin/env python3
"""Steadiness check: run each workload in two sets and compare.

    python3 perfbench/steady.py                  # 2 sets x 10 seeds, all workloads
    python3 perfbench/steady.py --runs 5 --sets 1 --workloads serve

Each set runs every workload once per seed (seeds 1..runs, the same seeds in
every set) with the `run_seconds` of BENCHMARK.json. For every end-to-end
metric it prints the median of each set, the interquartile spread
((q3 - q1) / median, quartiles as `statistics.quantiles(values, n=4)` gives
them) and how much worse the second median is than the first, against the
metric's bound. As in the benchmark's acceptance rule, the spread of
`setup_s` is printed but not gated (every run starts the same saved model,
so no seed changes it and its spread measures only the machine); its
set-vs-set drift is gated like every other metric's. It also checks that
every run was correct, that each seed's output digests are the same in
every set, and, with `--trace`, that one traced run per workload emits
every per-layer metric and no other, and that every name in
BENCHMARK.json keeps to the name rule. Exits non-zero if any check fails.
The raw results go to `.bench_work/steady.json`.
"""

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    done = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    lines = done.stdout.strip().splitlines()
    if done.returncode != 0 or len(lines) < 2:
        sys.stderr.write(done.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run failed ({done.returncode})")
    info = json.loads(lines[-2])
    info["run_wall_s"] = time.monotonic() - t0
    return info, json.loads(lines[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads", default=",".join(names))
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--trace", action="store_true")
    args = p.parse_args()
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    ok = True
    for m in bench["workloads"] + bench["end_to_end"] + bench["per_layer"]:
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"]):
            print(f"BENCHMARK.json: {m['name']!r} is not a name of at most 64 "
                  "letters, digits, '_', '.' and '-'")
            ok = False
    raw = {}
    for wl in args.workloads.split(","):
        sets = []
        digests = {}
        for s in range(args.sets):
            results = []
            for seed in range(1, args.runs + 1):
                info, res = run(wl, seed, bench["run_seconds"], 0)
                if not res["correct"] or res["failed"]:
                    print(f"{wl} seed {seed}: incorrect ({res['failed']} failed)")
                    ok = False
                if set(res["metrics"]) != set(e2e):
                    print(f"{wl} seed {seed}: metric names differ from BENCHMARK.json")
                    ok = False
                d = (info.get("inputs", {}).get("digest"), info.get("serve_check_digest"))
                if digests.setdefault(seed, d) != d:
                    print(f"{wl} seed {seed}: digests differ between sets")
                    ok = False
                results.append(res)
                print(f"  {wl} set {s + 1} seed {seed} ({info['run_wall_s']:.0f} s): " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                    flush=True)
            sets.append(results)
        raw[wl] = sets
        print(f"\n{wl}: {'metric':<18} {'median1':>10} {'spread1':>8} "
              f"{'median2':>10} {'spread2':>8} {'worse':>7} {'bound':>6}")
        for name, m in e2e.items():
            vals = [[r["metrics"][name]["value"] for r in rs] for rs in sets]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            worse = 0.0
            if len(meds) > 1:
                worse = (meds[1] - meds[0]) / meds[0]
                if m["better"] == "higher":
                    worse = -worse
            gated = name != "setup_s"
            bad = (gated and max(spreads) > m["bound"]) or worse > m["bound"]
            ok = ok and not bad
            cols = " ".join(f"{md:>10.4g} {sp:>8.3f}" for md, sp in zip(meds, spreads))
            print(f"{wl}: {name:<18} {cols} {worse:>7.3f} {m['bound']:>6}"
                  f"{'  FAIL' if bad else ''}"
                  f"{'  (spread not gated)' if not gated else ''}"
                  f"{'  (spread > bound/3)' if gated and max(spreads) > m['bound'] / 3 else ''}")
        if args.trace:
            _, res = run(wl, 1, bench["run_seconds"], 1)
            want = {m["name"] for m in bench["per_layer"]}
            missing = want - set(res["metrics"])
            extra = set(res["metrics"]) - want
            print(f"{wl}: traced run emits {len(res['metrics'])} per-layer metrics"
                  + (f", missing {sorted(missing)}" if missing else "")
                  + (f", not in BENCHMARK.json {sorted(extra)}" if extra else ""))
            for k, v in res["metrics"].items():
                print(f"{wl}:   {k} = {v['value']:.4g} {v['unit']}")
            ok = ok and not missing and not extra and res["correct"]
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_work", "steady.json"), "w") as fh:
        json.dump(raw, fh)
    print("\nsteady: " + ("OK" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
