#!/usr/bin/env python3
"""Compares two sets of benchmark records, workload by workload.

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are record files written by run.py (perfbench/out/*.json)
or directories of them. For every workload and metric it prints the median
of each side and the change as a share of the base median, and flags a
change worse than the metric's bound in BENCHMARK.json.

Records are comparable only when they ran on the same number of cores, the
same scale factor, the same JVM flags and the same kind of run (all untraced
or all traced), and,
per workload, the same number of warm passes; the tool refuses anything
else, so pass files, or directories that hold one kind only. Untraced
records are compared on their end-to-end metrics, traced ones on their
per-layer metrics. Times are compared raw: there is no normalisation
against a reference host.
"""
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load(path):
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    recs = [json.loads(f.read_text()) for f in files]
    return [r for r in recs if "metrics" in r and "nproc" in r]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    if not base or not change:
        sys.exit("compare: no records on one side")
    shapes = {(r["nproc"], r["sf"], r["trace"], tuple(r.get("jvm_flags", [])))
              for r in base + change}
    if len(shapes) != 1:
        sys.exit("compare: refusing records of different cores, scale, trace or JVM "
                 f"flags (nproc, sf, trace, jvm_flags): {sorted(shapes)}")
    field = "layer_metrics" if base[0]["trace"] else "metrics"
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    worse = 0
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in change}):
        passes = {r["warm_passes"] for r in base + change if r["workload"] == w}
        if len(passes) != 1:
            sys.exit(f"compare: refusing {w} records of different warm passes: {sorted(passes)}")
        print(f"\n{w}  (base {sum(r['workload'] == w for r in base)} runs, "
              f"change {sum(r['workload'] == w for r in change)} runs)")
        for side in (base, change):
            for r in side:
                if r["workload"] == w and r.get("problems"):
                    print(f"  incorrect record, seed {r['seed']}: {len(r['problems'])} problems")
        keys = [k for k in spec if any(k in r[field] for r in base if r["workload"] == w)]
        for k in keys:
            def med(side):
                xs = [r[field].get(k, {}).get("value") for r in side if r["workload"] == w]
                xs = [x for x in xs if x is not None]
                return statistics.median(xs) if xs else None
            a, b = med(base), med(change)
            if a is None or b is None:
                continue
            rel = (b - a) / a if a else 0.0
            m = spec[k]
            bad = ("bound" in m and
                   (rel > m["bound"] if m["better"] == "lower" else -rel > m["bound"]))
            worse += bad
            print(f"  {k:28} {a:12.5g} {b:12.5g} {rel:+8.2%}{'  WORSE' if bad else ''}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
