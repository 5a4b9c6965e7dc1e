#!/usr/bin/env python3
"""Steadiness self-check for the benchmark.

Runs every workload of BENCHMARK.json once per seed in two sets of seeds,
one run at a time, and prints for each end-to-end metric the median and
quartiles of each set, the spread (distance between the quartiles over the
median) against the metric's bound, and how far the second set's median
moved from the first's. Run from the repository root:

    python3 perfbench/steady.py --set-a 1-10 --set-b 11-20
    python3 perfbench/steady.py --set-a 1-5 --set-b 9001 --workloads ingest_stream

Every run's final JSON line is kept in .bench_out/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds, log):
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    ctx = dict(l.split(" ", 2)[2].split("=", 1) for l in lines
               if l.startswith("[perfbench] context "))
    log.write(json.dumps({"workload": workload, "seed": seed,
                          "wall_s": time.time() - t0, "context": ctx,
                          **res}) + "\n")
    log.flush()
    if not res["correct"]:
        print(f"  {workload} seed {seed}: {res['failed']} of "
              f"{res['attempted']} failed", flush=True)
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser(description="benchmark steadiness self-check")
    ap.add_argument("--set-a", default="1-10")
    ap.add_argument("--set-b", default="11-20")
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    metrics = bench["end_to_end"]
    sets = {"A": seeds(args.set_a), "B": seeds(args.set_b)}
    values = {}
    os.makedirs(".bench_out", exist_ok=True)
    with open(".bench_out/steady.jsonl", "a") as log:
        for w in workloads:
            for name, ss in sets.items():
                for s in ss:
                    m = run(w, s, bench["run_seconds"], log)
                    print(f"  {w} set {name} seed {s}: " + " ".join(
                        f"{k}={v:.4g}" for k, v in m.items()), flush=True)
                    for k, v in m.items():
                        values.setdefault((w, name, k), []).append(v)
    ok = True
    print(f"\n{'workload':14} {'metric':16} {'set':3} {'q1':>10} {'median':>10} "
          f"{'q3':>10} {'spread':>7} {'bound':>6}  verdict")
    for w in workloads:
        for m in metrics:
            k, bound = m["name"], m["bound"]
            meds = {}
            for name in sets:
                xs = values[(w, name, k)]
                if len(xs) < 2:
                    q1 = med = q3 = xs[0]
                else:
                    q1, med, q3 = quartiles(xs)
                meds[name] = med
                spread = (q3 - q1) / med
                verdict = ("setup: spread not bounded" if k == "setup_s"
                           else "ok" if spread <= bound / 3
                           else "within bound" if spread <= bound else "TOO WIDE")
                ok &= verdict != "TOO WIDE"
                print(f"{w:14} {k:16} {name:3} {q1:10.4g} {med:10.4g} {q3:10.4g} "
                      f"{spread:7.3f} {bound:6.2f}  {verdict}")
            worse = meds["B"] / meds["A"] - 1
            if m["better"] == "higher":
                worse = -worse
            moved = "ok" if worse <= bound else "MOVED"
            ok &= moved == "ok"
            print(f"{w:14} {k:16} B/A {'':>10} {worse:+10.3f} {'':>10} "
                  f"{'':>7} {bound:6.2f}  {moved}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
