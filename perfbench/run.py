#!/usr/bin/env python3
"""Run one benchmark workload once and print its result as one JSON line.

    python3 perfbench/run.py --workload cdc_lag --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the repository and the
benchmark with sbt (`perfbench/build.sbt`, which depends on the root
build); later runs reuse the build until a source file changes. The
measuring process is one JVM started with the root build's JVM options.
Scratch files live under `.bench_build/` and each run removes its own.

A traced run (`--trace 1`) also writes a seeded query corpus
(`perfbench/corpus.py`) for the query pack and, after the run, checks the
pack's answers against their DuckDB oracle with `tools/compare.py`.
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
# The metric names and units the run must report come from the
# benchmark's definition at the repository root.
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# Heap of the measuring JVM, passed to the root build's -Xmx setting.
DRIVER_MEM = "2g"
# Fixed heap and young-generation sizes on top of the root build's JVM
# options. G1 otherwise resizes both from GC timing, and peak RSS then
# varies by a quarter between runs of the same input.
HEAP_FLAGS = [f"-Xms{DRIVER_MEM}", "-Xmn512m"]
JVM_TIMEOUT_S = 160
COMPARE_TIMEOUT_S = 12


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def build_dir():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(d, exist_ok=True)
    return d


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Build once per source state; returns (jvm options, classpath)."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("no build.sbt at the repository root: run from the repository root")
    env_file = os.path.join(HERE, "target", "bench-env.txt")
    stamp_file = os.path.join(build_dir(), "stamp")
    stamp = source_stamp()
    fresh = os.path.isfile(env_file) and os.path.isfile(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.isfile(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
        t = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchEnv"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            raise SystemExit(f"build failed (sbt exit {r.returncode})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"[perfbench] built in {time.time() - t:.1f} s")
    lines = open(env_file).read().splitlines()
    cp = [l[3:] for l in lines if l.startswith("cp=")][0]
    return [l for l in lines if l and not l.startswith("cp=")], cp


def check_answers(corpus_dir, answers):
    """Names of the query-pack answers that differ from the DuckDB oracle
    (every query, if the check itself fails)."""
    names = list(json.load(open(os.path.join(answers, "oracle_sql.json"))))
    try:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                            corpus_dir, answers], capture_output=True, text=True,
                           stdin=subprocess.DEVNULL, timeout=COMPARE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return names
    log(p.stdout + p.stderr)
    ok = [l.split()[1] for l in p.stdout.splitlines() if l.startswith("OK ")]
    return [n for n in names if n not in ok]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.load(open(SPEC))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")

    jvm_opts, cp = build()
    t0_ms = int(time.time() * 1000)
    bd = build_dir()
    work = os.path.join(bd, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result_file = os.path.join(work, "result.json")
        corpus_dir, answers = os.path.join(work, "corpus"), os.path.join(work, "answers")
        if a.trace:
            import corpus
            corpus.write(corpus_dir, a.seed)
        cmd = ["java", *jvm_opts, *HEAP_FLAGS, "-cp", cp, "graft.perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--work", work, "--out", result_file, "--t0-ms", str(t0_ms),
               "--trace-out", os.path.join(bd, "traces", f"{a.workload}-seed{a.seed}.jsonl"),
               "--corpus", corpus_dir, "--answers", answers]
        r = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        if r.returncode != 0 or not os.path.isfile(result_file):
            raise SystemExit(f"measuring JVM failed (exit {r.returncode})")
        res = json.load(open(result_file))
        detail = res.pop("detail")
        if a.trace:
            bad_queries = check_answers(corpus_dir, answers)
            detail["query.oracle_failures"] = bad_queries
            res["failed"] += len(bad_queries)
            res["correct"] = res["failed"] == 0
        wanted = spec["per_layer" if a.trace else "end_to_end"]
        got = res["metrics"]
        bad = [m["name"] for m in wanted
               if got.get(m["name"], {}).get("unit") != m["unit"]]
        if bad:
            raise SystemExit(f"metrics missing or in another unit: {bad}")
        res["metrics"] = {m["name"]: got[m["name"]] for m in wanted}
        log("[perfbench] detail " + json.dumps(detail, sort_keys=True))
        for m, v in res["metrics"].items():
            log(f"[perfbench] {m} = {v['value']} {v['unit']}")
        log(f"[perfbench] attempted {res['attempted']}, failed {res['failed']}")
        with open(os.path.join(bd, "last-detail.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                       "result": res, "detail": detail}, f)
        print(json.dumps(res))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
