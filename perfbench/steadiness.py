#!/usr/bin/env python3
"""Run every workload on several seeds and report how steady each
end-to-end metric is: the distance between the first and third quartile
of its values (`statistics.quantiles(values, n=4)`) as a share of their
median, next to the metric's bound. Each run's host calibration and steal
are listed, so noise from the host can be told apart from the program's.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/STEADINESS.md
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
FIRST_SEED = 1000


def run(workload, seed, seconds):
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    detail = json.loads([l for l in p.stderr.splitlines()
                         if l.startswith("[perfbench] detail ")][-1][len("[perfbench] detail "):])
    return result, detail, wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="", help="comma-separated; default all")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    lines = [f"Runs: {a.runs} per workload, seeds {FIRST_SEED}..{FIRST_SEED + a.runs - 1}, "
             f"{spec['run_seconds']} s windows.", ""]
    only = set(filter(None, a.workloads.split(",")))
    for w in spec["workloads"]:
        if only and w["name"] not in only:
            continue
        rows, values = [], {}
        for i in range(a.runs):
            seed = FIRST_SEED + i
            res, det, wall = run(w["name"], seed, spec["run_seconds"])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            rows.append(f"| {seed} | {res['attempted']} | {res['failed']} | " +
                        " | ".join(f"{res['metrics'][m['name']]['value']:.1f}"
                                   for m in spec["end_to_end"]) +
                        f" | {det['host.calib_cpu_s']:.3f} | {det['host.calib_spark_s']:.3f}"
                        f" | {det['host.steal_pct']:.2f} | {det['latency.triggers']} | {wall:.0f} |")
            print(rows[-1], flush=True)
        lines += [f"### {w['name']}", "",
                  "| seed | attempted | failed | " +
                  " | ".join(m["name"] for m in spec["end_to_end"]) +
                  " | calib_cpu_s | calib_spark_s | steal_% | triggers | wall_s |",
                  "|" + "---|" * (len(spec["end_to_end"]) + 8)] + rows + [""]
        lines += ["| metric | median | quartile spread / median | bound |", "|---|---|---|---|"]
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            q = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            lines.append(f"| {m['name']} | {med:.1f} | {(q[2] - q[0]) / med:.3f} | {m['bound']} |")
        lines.append("")
    text = "\n".join(lines)
    print(text)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")


if __name__ == "__main__":
    main()
