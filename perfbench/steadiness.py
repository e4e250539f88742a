#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread, the way the benchmark's bounds are judged.

    python3 perfbench/steadiness.py --workload masked_read --seeds 1-10 [--out FILE]
    python3 perfbench/steadiness.py --summarize FILE...

The spread of a metric is (Q3 - Q1) / median over the runs, with quartiles
as Python's statistics.quantiles(values, n=4) gives them. Results are
appended as JSON lines to --out (one line per run), so sets of runs can be
summarized and compared later with --summarize.
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


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        return None
    r = json.loads(p.stdout.strip().splitlines()[-1])
    r["workload"], r["seed"], r["wall_s"] = workload, seed, round(time.time() - t0, 1)
    return r


def summarize(results):
    bounds = {m["name"]: m["bound"] for m in
              json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["end_to_end"]}
    for w in sorted({r["workload"] for r in results}):
        rs = [r for r in results if r["workload"] == w]
        bad = sum(1 for r in rs if not r["correct"] or r["failed"])
        walls = [r["wall_s"] for r in rs if "wall_s" in r]
        print(f"{w}: {len(rs)} runs, {bad} with failed operations"
              + (f", median wall {statistics.median(walls):.1f} s per run" if walls else ""))
        for m in rs[0]["metrics"]:
            v = [r["metrics"][m]["value"] for r in rs]
            med = statistics.median(v)
            q1, _, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            b = bounds.get(m)
            print(f"  {m:24s} median {med:12.4f}  IQR/median {spread:6.3f}"
                  + (f"  bound {b}  {'ok' if spread <= b / 3 else 'WIDE' if spread > b else 'within'}"
                     if b is not None else ""))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--out")
    ap.add_argument("--summarize", nargs="*")
    a = ap.parse_args()
    if a.summarize:
        summarize([json.loads(ln) for f in a.summarize for ln in open(f) if ln.strip()])
        return
    results = []
    for s in seeds_of(a.seeds):
        r = run(a.workload, s, a.seconds)
        if r is None:
            print(f"seed {s}: run failed", file=sys.stderr)
            continue
        results.append(r)
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps(r) + "\n")
    summarize(results)


if __name__ == "__main__":
    main()
