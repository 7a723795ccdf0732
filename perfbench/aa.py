#!/usr/bin/env python3
"""Same-commit (A/A) check of the benchmark's own noise.

Runs two sets of untraced runs of every workload in BENCHMARK.json (set A
on seeds 1..N, set B on seeds 101..100+N, interleaved so drift hits both),
then prints per workload and end-to-end metric each set's median and
quartiles, the spread (interquartile range over median) and whether the
two sets agree: both spreads within the metric's bound, and the medians
apart by no more than the bound, in either direction. Exits nonzero when
a run fails or the sets disagree.

    python3 perfbench/aa.py                  # 2 sets x 10 runs
    python3 perfbench/aa.py --runs 5 --workloads cdc
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


def run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        info = next(json.loads(l[len("# info "):]) for l in lines if l.startswith("# info "))
    except (ValueError, StopIteration):
        res, info = None, {}
    return res, wall, info.get("host_probe_ms", {}).get("start")


def quartiles(v):
    q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
    return q[0], q[1], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="", help="comma list; default: all in BENCHMARK.json")
    ap.add_argument("--seconds", type=float, default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]
    workloads = [w for w in a.workloads.split(",") if w] or [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    sets = "AB"
    values = {(s, w, m["name"]): [] for s in sets for w in workloads for m in metrics}
    failures = []
    walls = []
    probes = []
    for i in range(a.runs):
        for s in sets:
            seed = (1 if s == "A" else 101) + i
            for w in workloads:
                res, wall, probe = run(w, seed, seconds)
                walls.append(wall)
                probes.append(probe)
                ok = res is not None and res["correct"] and res["failed"] == 0
                print(f"[{s} run {i + 1}/{a.runs}] {w} seed {seed}: "
                      f"{'ok' if ok else 'FAILED'} in {wall:.1f} s, host probe {probe} ms",
                      file=sys.stderr)
                if not ok:
                    failures.append((s, w, seed))
                    continue
                for m in metrics:
                    values[(s, w, m["name"])].append(res["metrics"][m["name"]]["value"])
    agree = True
    print(f"{'workload':<18} {'metric':<20} " + " ".join(
        f"{s + ' median':>12} {s + ' q1..q3':>23} {s + ' spread':>9}" for s in sets)
        + f" {'B vs A':>8} {'bound':>6}  verdict")
    for w in workloads:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cells, spreads, medians = [], [], []
            for s in sets:
                v = values[(s, w, name)]
                if not v:
                    cells.append(f"{'-':>12} {'-':>23} {'-':>9}")
                    spreads.append(float("inf"))
                    medians.append(float("nan"))
                    continue
                q1, med, q3 = quartiles(v)
                spread = (q3 - q1) / med if med else float("inf")
                spreads.append(spread)
                medians.append(med)
                cells.append(f"{med:>12.4g} {f'{q1:.4g}..{q3:.4g}':>23} {spread:>9.3f}")
            a_med, b_med = medians
            apart = (b_med - a_med) / a_med
            ok = all(x <= bound for x in spreads) and abs(apart) <= bound
            agree &= ok
            print(f"{w:<18} {name:<20} " + " ".join(cells)
                  + f" {apart:>+8.3f} {bound:>6}  {'agree' if ok else 'DISAGREE'}")
    print(f"runs: {len(walls)}, mean wall {statistics.mean(walls):.1f} s, failed: {len(failures)}")
    out = os.path.join(ROOT, ".bench_results", f"aa-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"values": {"|".join(k): v for k, v in values.items()},
                   "failures": failures, "walls": walls, "host_probe_ms": probes}, fh)
    if failures or not agree:
        sys.exit(1)


if __name__ == "__main__":
    main()
