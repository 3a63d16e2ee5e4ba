#!/usr/bin/env python3
"""Self-consistency test of the trace.

    python3 perfbench/selfcheck.py --workload W [--seed 1] [--seconds T]

Runs the workload once untraced and once traced with the same seed, then
checks that:
  - the traced run found no violation: every key that ran has at least one
    Spark job, executor CPU time is at most wall time x cores for every key,
    every child span lies inside its parent and no span has negative self
    time (the run itself checks these and lists what failed);
  - every per-layer metric is present in the traced record;
  - both runs report the same keys and the same output digests.
Prints the tracing overhead and exits non-zero on any failure.
"""
import argparse
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    seconds = a.seconds or json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
    recs = {}
    for trace in (0, 1):
        res = run.run(a.workload, a.seed, seconds, trace)
        f = run.OUT / f"{a.workload}-seed{a.seed}-trace{trace}.json"
        recs[trace] = json.loads(f.read_text())
        print(f"trace={trace}: correct={res['correct']} failed={res['failed']}/{res['attempted']}")
    plain, traced = recs[0], recs[1]
    fails = []
    fails += [f"trace check: {v}" for v in traced.get("violations", [])]
    fails += [f"per-layer metric {k} missing" for k, v in traced["layer_metrics"].items()
              if v["value"] is None]
    if plain["keys"] != traced["keys"]:
        fails.append("traced and untraced runs report different keys")
    for k in plain["keys"]:
        if plain["digests"].get(k) != traced["digests"].get(k):
            fails.append(f"{k}: digest {plain['digests'].get(k)} untraced, "
                         f"{traced['digests'].get(k)} traced")
    if plain["problems"] or traced["problems"]:
        fails.append(f"failed keys: {sorted(set(plain['problems']) | set(traced['problems']))}")
    ov = traced["layers"].get("trace.overhead")
    print(f"tracing overhead (traced warm total / untraced warm total - 1, same run): "
          f"{ov if ov is None else f'{ov:+.2%}'}")
    print(f"untraced total_s {plain['metrics']['total_s']['value']:.3f} s, "
          f"traced run's traced passes {traced['layers']['trace.total_s']:.3f} s")
    for f in fails:
        print("FAIL", f)
    print("selfcheck:", "FAIL" if fails else "ok")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
