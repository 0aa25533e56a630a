#!/usr/bin/env python3
"""Steadiness command: runs one workload over a range of seeds and prints,
for each end-to-end metric, the median, the quartiles and the spread
(distance between the quartiles as a share of the median, as
statistics.quantiles(values, n=4) gives them), with each run's host
context.

Usage, from the root of a checkout:
  python3 graftbench/steady.py --workload W [--seeds 1-10] [--seconds 8]
      [--contend N] [--out FILE]

--contend N is the contention drill: it starts N busy-loop processes
(at most nproc - 1) beside the runs and stops them afterwards, to show
which metrics hold when the CPUs are shared.
"""
import argparse
import json
import multiprocessing
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def busy(stop):
    x = 0
    while not stop.is_set():
        for i in range(100_000):
            x = (x * 31 + i) & 0xFFFFFFFF


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--contend", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    limit = max(0, (os.cpu_count() or 1) - 1)
    if a.contend > limit:
        sys.exit(f"--contend is at most nproc - 1 = {limit}")
    stop = multiprocessing.Event()
    hogs = [multiprocessing.Process(target=busy, args=(stop,), daemon=True)
            for _ in range(a.contend)]
    for h in hogs:
        h.start()
    runs = []
    try:
        for seed in seeds_of(a.seeds):
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                                "--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(a.seconds), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"seed {seed}: run failed ({p.returncode})\n{p.stderr[-2000:]}")
                continue
            context, result = json.loads(lines[-2])["context"], json.loads(lines[-1])
            runs.append({"seed": seed, "context": context, "result": result})
            m = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
            print(f"seed {seed}: {m} attempted={result['attempted']} failed={result['failed']}"
                  f" correct={result['correct']} steal/s={context['host_steal_ticks_per_s']:.1f}"
                  f" calib={context['calibration_s']:.3f}", flush=True)
    finally:
        stop.set()
        for h in hogs:
            h.join()
    if len(runs) < 2:
        sys.exit("fewer than two runs completed")
    names = runs[0]["result"]["metrics"].keys()
    table = {n: summary([r["result"]["metrics"][n]["value"] for r in runs]) for n in names}
    for n, s in table.items():
        print(f"{n:18s} median {s['median']:.4f}  q1 {s['q1']:.4f}  q3 {s['q3']:.4f}"
              f"  spread {s['spread']:.4f}")
    shares = {r["result"]["failed"] / r["result"]["attempted"] for r in runs}
    print(f"failed share: {sorted(shares)}")
    steal = [r["context"]["host_steal_ticks_per_s"] for r in runs]
    calib = [r["context"]["calibration_s"] for r in runs]
    print(f"host: steal ticks/s median {statistics.median(steal):.1f}"
          f" (min {min(steal):.1f}, max {max(steal):.1f}); calibration s median"
          f" {statistics.median(calib):.3f} (min {min(calib):.3f}, max {max(calib):.3f});"
          f" contention processes {a.contend}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "contend": a.contend, "runs": runs,
                       "summary": table}, f, indent=1)


if __name__ == "__main__":
    main()
