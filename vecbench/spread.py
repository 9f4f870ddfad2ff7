#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each metric's median and
quartile spread (third minus first quartile, as a share of the median):

    python3 vecbench/spread.py --workload neardup_dedup --seeds 1-10 --seconds 5

Runs one seed at a time, so runs never compete for the machine.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    values = {}
    for seed in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}", flush=True)
            continue
        res = json.loads(lines[-1])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.6g}" for k, v in sorted(res["metrics"].items())), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in sorted(values.items()):
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            print(f"{k:20} n={len(xs)} median={med:.6g} spread={(q3 - q1) / med:.4f}")


if __name__ == "__main__":
    main()
