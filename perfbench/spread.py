#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

Usage, from the repository root:

    python3 perfbench/spread.py --runs 10 [--first-seed 1] [--trace 0] \
        [--workloads cdc_live curate] [--raw runs.jsonl]

Runs each workload --runs times, each with another seed, and prints for
every metric the median and the spread: the distance between the first and
the third quartile (statistics.quantiles(values, n=4)) as a share of the
median, beside the metric's bound from BENCHMARK.json. With --raw, every
run's result line is appended there as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--raw")
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print("| workload | metric | unit | runs | median | spread | bound | wall s |")
    print("|---|---|---|---|---|---|---|---|")
    for w in workloads:
        values, walls, failed = {}, [], 0
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(a.trace)],
                cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failed += 1
                print(f"run {w} seed {seed} failed: {p.stderr.strip()[-300:]}",
                      file=sys.stderr)
                continue
            result = json.loads(lines[-1])
            failed += not result["correct"]
            if a.raw:
                with open(a.raw, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1],
                                        "result": result}) + "\n")
            for name, m in result["metrics"].items():
                values.setdefault(name, (m["unit"], []))[1].append(m["value"])
        for name, (unit, vs) in values.items():
            med = statistics.median(vs)
            spread = "n/a"
            if len(vs) >= 2 and med:
                q = statistics.quantiles(vs, n=4)
                spread = f"{(q[2] - q[0]) / abs(med):.3f}"
            bound = bounds.get(name)
            print(f"| {w} | {name} | {unit} | {len(vs)} | {med:.6g} | {spread} | "
                  f"{'' if bound is None else bound} | {statistics.median(walls):.0f} |")
        if failed:
            print(f"| {w} | (runs failed or incorrect: {failed}) | | | | | | |")
        sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
