#!/bin/bash
# Strong-scaling (core-scaling) study: run a fixed key set at sf1 across
# local[4|8|16|32] and report per-key wall medians. The 1000-executor
# question asked directly: does each plan convert cores into wall-clock,
# or is a stage serialized? Results land in PERF.md (r15).
#
# Usage: tools/corescale.sh <sfdir> <out_prefix> [keys]
set -u
SFDIR="${1:-/tmp/graft_scale/sf1}"
OUT="${2:-/tmp/corescale}"
KEYS="${3:-graph_label_propagation,graph_shortest_hops,dedup_semantic,dedup_minhash_lsh,recs_item_neighbors,mine_hard_negatives,sim_topk_cosine,agg_groupby_pricing,join_multiway_star,stream_session_5m}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
cd "$(dirname "$0")/.."
# Heap: SPARK_DRIVER_MEM, or else half of RAM clamped to 2g..8g, the rule of
# build.sbt and the tier-1 test command (a fixed large -Xmx gets the JVM
# OOM-killed on a small host).
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}"
# r15 ADVICE: a failed run must not silently inherit the previous
# iteration's bench.json — remove it first, check the java exit status, and
# make the report tolerate core-counts that are missing or partial.
for C in 4 8 16 32; do
  echo "[corescale] cores=$C"
  rm -f bench.json
  if ! SPARK_GRAFT_CPUS=$C SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_BENCH_KEYS="$KEYS" \
    java -XX:+IgnoreUnrecognizedVMOptions -XX:ReservedCodeCacheSize=2g $ADD_OPENS \
    -Xmx"$MEM" -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
    > "${OUT}_c${C}.log" 2>&1; then
    echo "[corescale] cores=$C FAILED (rc=$?) — see ${OUT}_c${C}.log; skipping" >&2
    rm -f "${OUT}_c${C}.json"
    continue
  fi
  cp bench.json "${OUT}_c${C}.json"
done
python3 - "$OUT" <<'EOF'
import json, os, sys
out = sys.argv[1]
cores = [4, 8, 16, 32]
data = {}
for c in cores:
    path = f"{out}_c{c}.json"
    if not os.path.exists(path):
        print(f"[corescale] WARNING: no record for c{c} (run failed?)", file=sys.stderr)
        continue
    with open(path) as f:
        data[c] = {k: v for k, v in json.load(f)["queries"].items() if v is not None}
if not data:
    sys.exit("[corescale] no records at all")
present = sorted(data)
base, top = present[0], present[-1]
keys = sorted(data[base], key=lambda k: -data[base][k])
def cell(c, k):
    v = data.get(c, {}).get(k)
    return f"{v:8.2f}" if v is not None else f"{'--':>8s}"
print(f"{'key':34s} " + "".join(f"{'c'+str(c):>8s}" for c in cores) + f"{'S(hi/lo)':>9s}{'E':>7s}")
for k in keys:
    lo, hi = data[base].get(k), data.get(top, {}).get(k)
    s = lo / hi if lo and hi else float('nan')
    e = s / (top / base)
    print(f"{k:34s} " + "".join(cell(c, k) for c in cores) + f"{s:9.2f}{e:7.2f}")
shared = set(keys)
for c in present:
    shared &= set(data[c])
if shared != set(keys):
    print(f"[corescale] TOTAL over {len(shared)} keys present at every core count "
          f"(dropped: {sorted(set(keys) - shared)})", file=sys.stderr)
tot = {c: sum(data[c][k] for k in shared) for c in present}
print(f"{'TOTAL':34s} " + "".join(
    (f"{tot[c]:8.2f}" if c in tot else f"{'--':>8s}") for c in cores)
    + f"{tot[base]/tot[top]:9.2f}{tot[base]/tot[top]/(top/base):7.2f}")
EOF
