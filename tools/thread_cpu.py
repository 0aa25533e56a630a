#!/usr/bin/env python3
"""CPU seconds by thread name of one graftbench run's JVM, over a window.

Usage, from the root of a checkout (graftbench already built):
  python3 tools/thread_cpu.py ingest_live 103 [--seconds 8] [--skip 20] [--window 12]

Runs `graftbench/run.py` untraced, waits --skip s after its JVM starts,
then samples /proc/<jvm>/task/*/stat every 0.1 s for --window s. A thread
born inside the window is charged from zero; digits in names fold to '#'.
The `(exited)` line is what threads that ended between two samples spent:
the JVM's own total over the window minus the sum of the threads seen.
"""
import argparse, collections, os, re, subprocess, sys, time


def read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def ticks(stat):  # utime + stime, the 14th and 15th fields of stat(5)
    rest = stat[stat.rindex(")") + 2:].split()
    return int(rest[11]) + int(rest[12])


def sample(pid):
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        stat = read(f"/proc/{pid}/task/{tid}/stat")
        if stat:
            out[tid] = (re.sub(r"\d+", "#", stat[stat.index("(") + 1:stat.rindex(")")]), ticks(stat))
    return out


a = argparse.ArgumentParser()
a.add_argument("workload"); a.add_argument("seed")
a.add_argument("--seconds", default="8")
a.add_argument("--skip", type=float, default=20.0)
a.add_argument("--window", type=float, default=12.0)
o = a.parse_args()
run = subprocess.Popen([sys.executable, "graftbench/run.py", "--workload", o.workload, "--seed", o.seed,
                        "--seconds", o.seconds, "--trace", "0"], stdout=subprocess.DEVNULL)
jvm = None
while jvm is None and run.poll() is None:
    time.sleep(0.05)
    for c in read(f"/proc/{run.pid}/task/{run.pid}/children").split():
        if "graftbench.Main" in read(f"/proc/{c}/cmdline"):
            jvm = c
if jvm is None:
    sys.exit("graftbench exited before its JVM started")
time.sleep(o.skip)
first, last = sample(jvm), {}
proc0 = proc1 = ticks(read(f"/proc/{jvm}/stat"))
end = time.time() + o.window
while time.time() < end:
    stat = read(f"/proc/{jvm}/stat")
    if not stat:
        break
    last.update(sample(jvm))
    proc1 = ticks(stat)
    time.sleep(0.1)
by = collections.Counter()
for tid, (name, t) in last.items():
    by[name] += t - first.get(tid, (name, 0))[1]
hz = os.sysconf("SC_CLK_TCK")
for name, t in by.most_common():
    if t:
        print(f"{t / hz:8.2f}  {name}")
print(f"{(proc1 - proc0 - sum(by.values())) / hz:8.2f}  (exited)")
print(f"{(proc1 - proc0) / hz:8.2f}  total over {o.window:g} s")
run.wait()
