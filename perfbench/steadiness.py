#!/usr/bin/env python3
"""Runs the benchmark on several seeds per workload and reports, for every
end-to-end metric, the median and the spread (third minus first quartile,
as a share of the median, from statistics.quantiles(values, n=4)) against
the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1]
        [--workload NAME ...] [--out perfbench/steadiness.json]

Run from the repository root. The result file keeps every run's values and,
per metric, whether its spread is within the bound and whether it is below
a third of it. The exit code is 0 when every run passed its output checks
and every spread except that of setup_s is within its bound; setup_s has no
spread limit, only a limit on how far its median may move.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", default=os.path.join("perfbench", "steadiness.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"runs": args.runs, "run_seconds": spec["run_seconds"],
              "host": f"{os.cpu_count()} CPUs, {platform.system()} {platform.release()}",
              "workloads": {}}
    seeds = list(range(args.first_seed, args.first_seed + args.runs))
    ok = True
    for w in workloads:
        values = {m: [] for m in bounds}
        walls = []
        notes = []
        for seed in seeds:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(round(time.time() - t0, 1))
            last = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else {}
            if p.returncode != 0 or not last.get("correct"):
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                ok = False
                continue
            for m in bounds:
                values[m].append(last["metrics"][m]["value"])
            notes.append([ln for ln in p.stdout.splitlines() if ln.startswith(("note ", "context cpu"))])
            print(f"{w} seed {seed}: {walls[-1]} s", file=sys.stderr)
        rows = {}
        for m, vs in values.items():
            if len(vs) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            within = spread <= bounds[m]
            ok &= m == "setup_s" or within
            rows[m] = {"median": med, "spread": round(spread, 4), "bound": bounds[m],
                       "within_bound": within, "below_third_of_bound": spread < bounds[m] / 3,
                       "values": vs}
            print(f"{w:15s} {m:18s} median {med:12.5g} spread {spread:7.2%} "
                  f"bound {bounds[m]:.2f} {'ok' if within or m == 'setup_s' else 'SPREAD'}")
        report["workloads"][w] = {"seeds": f"{seeds[0]}-{seeds[-1]}", "wall_s": walls,
                                  "metrics": rows, "notes": notes}
    with open(os.path.join(ROOT, args.out), "w") as fh:
        json.dump(report, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
