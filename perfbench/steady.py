#!/usr/bin/env python3
"""Steadiness check: runs one workload N times, each with another seed, and
prints the median and the interquartile spread of every metric.

    python3 perfbench/steady.py --workload W [--runs 10] [--seed0 1]
                                [--seconds T] [--trace 0|1]

The spread is (Q3 - Q1) / median, with the quartiles that
statistics.quantiles(values, n=4) gives. It is the figure each end-to-end
bound in BENCHMARK.json has to cover. --seconds defaults to run_seconds.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values, bad = {}, 0
    for i in range(a.runs):
        seed = a.seed0 + i
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}, no result", flush=True)
            bad += 1
            continue
        res = json.loads(lines[-1])
        bad += not res["correct"]
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                  if v["value"] is not None), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"\n{a.workload}: {a.runs} runs, {bad} incorrect or missing")
    print(f"{'metric':28} {'median':>11} {'q1':>11} {'q3':>11} {'iqr/med':>8} {'bound':>6}")
    for k, xs in values.items():
        xs = [x for x in xs if x is not None]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if spread <= b / 3 else "  WIDE" if spread > b else "  >b/3")
        print(f"{k:28} {med:11.5g} {q1:11.5g} {q3:11.5g} {spread:8.4f} "
              f"{'' if b is None else b:>6}{flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
