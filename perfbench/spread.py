#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Run from the root of a graft checkout:

    python3 perfbench/spread.py [--seeds 10] [--first-seed 100] [--workloads a,b]

For every workload it runs `perfbench/run.py` once per seed (tracing off),
then prints, per end-to-end metric, the median and the distance between the
first and third quartiles (statistics.quantiles, n=4) as a share of the
median, next to the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    names = [w["name"] for w in spec["workloads"]]
    if a.workloads:
        names = [n for n in names if n in a.workloads.split(",")]
    ok = True
    for w in names:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            if not res or not res["correct"]:
                print(f"{w} seed {seed}: failed (rc={p.returncode}) {lines[-2:] if lines else ''}")
                ok = False
                continue
            for k, v in res["metrics"].items():
                values[k].append(v["value"])
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread <= m["bound"] / 3 else ("  > bound/3" if spread <= m["bound"] else "  > BOUND")
            print(f"{w:16s} {m['name']:18s} median {med:12.4f} {m['unit']:6s} "
                  f"IQR/median {spread:6.3f} (bound {m['bound']}){flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
