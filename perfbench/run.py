#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds T --trace 0|1

Run from the root of a checkout. The first call builds the engine and the
benchmark driver from source (sbt, in perfbench/) and writes the fixed input
tables (graft.GenData at sf0.1) under perfbench/data; later calls reuse both
until a source file changes.

An untraced run first launches SETUP_SAMPLES - 1 JVMs that only build the
session, then the measured JVM. Each is timed from launch until Sessions.build
returns. The measured JVM runs every key of the workload once cold, then in
an untimed warm-up pass, then in a fixed number of warm passes, as many as
fill T seconds at the workload's nominal speed (at least three), each key
fully materialised into Spark's noop sink, and finally takes one untimed
digest per key. The digests are compared with perfbench/expected_digests.json.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics, the end-to-end metrics with --trace 0 and the per-layer metrics with
--trace 1. The full record, with provenance, goes to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"
DATA = HERE / "data" / "sf0.1"
DIMS = HERE / "dims"
OUT = HERE / "out"
SF = "0.1"
# Fixed generator parallelism, so the tables are identical on every host.
GEN_CPUS = "4"
RUN_LIMIT_S = 170.0
# set-up is sampled this many times per run, in separate JVMs; setup_s is
# the median
SETUP_SAMPLES = 3

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def driver_mem():
    """The -Xmx the repository's test command uses: half of RAM, 2g to 8g.
    SPARK_DRIVER_MEM overrides it and must be at least the 2g initial heap."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def jvm_flags():
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags + [
        f"-Xmx{driver_mem()}",
        # A fixed initial heap: G1 otherwise starts at 1/64 of RAM and
        # shrinks back after each marking cycle, and in about half the runs
        # Spark's humongous allocations then start back-to-back marking
        # cycles that cost over a core for the first warm passes.
        "-Xms2g",
        "-XX:ReservedCodeCacheSize=2g",
        # C1 only: under the default tiered JIT, C2 still uses more CPU than
        # the Spark tasks at the end of a run and 17 warm passes still get
        # faster, so every warm figure would sit on the JIT's convergence
        # curve; with C1 the passes are nearly flat from the second warm
        # pass on. See README.md.
        "-XX:TieredStopAtLevel=1",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={OUT / 'tmp'}",
    ]


def spark_home():
    """The Spark distribution: $SPARK_HOME, else the first bin/ directory on
    the PATH whose parent holds Spark's jars. The engine and the driver
    compile and run against those jars."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = Path(d).resolve().parent
        if (Path(d) / "spark-submit").is_file() and (home / "jars").is_dir():
            return home
    raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")


def source_hash():
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    for f in files + [HERE / "build.sbt", HERE / "project" / "build.properties"]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built():
    os.environ["SPARK_HOME"] = str(spark_home())
    want = source_hash()
    if STAMP.exists() and STAMP.read_text() == want and CLASSES.is_dir():
        return want
    log("building engine and driver (sbt compile)")
    # resolve only from the local caches unless the caller configured sbt
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    STAMP.write_text(want)
    return want


def java(args, timeout, out=None, main="perfbench.Main", env=None):
    """Runs `main` in a fresh JVM; returns its stdout."""
    for d in ("tmp", "spark-local", "work"):
        (OUT / d).mkdir(parents=True, exist_ok=True)
    cp = f"{CLASSES}{os.pathsep}{Path(os.environ['SPARK_HOME']) / 'jars' / '*'}"
    env = dict(os.environ, **(env or {}), SPARK_LOCAL_DIRS=str(OUT / "spark-local"))
    cmd = ["java"] + jvm_flags() + ["-cp", cp, main] + args
    err = open(out or os.devnull, "w")
    try:
        r = subprocess.run(cmd, cwd=OUT / "work", env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=err, text=True, timeout=timeout)
    finally:
        err.close()
    if r.returncode != 0:
        if out:
            sys.stderr.write(Path(out).read_text()[-4000:])
        raise SystemExit(f"perfbench: {' '.join(args[:1])} exited with {r.returncode}")
    return r.stdout


def ensure_data():
    ready = DATA / "_READY"
    if ready.exists():
        return
    log(f"generating the sf{SF} tables")
    tmp = DATA.with_name(DATA.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(DATA, ignore_errors=True)
    java([str(tmp), SF, str(DIMS)], timeout=600, out=str(OUT / "gendata.log"),
         main="graft.GenData", env={"SPARK_GRAFT_CPUS": GEN_CPUS})
    tmp.rename(DATA)
    ready.write_text(SF + "\n")


def steal_s():
    """Host CPU time stolen from this machine so far (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_rev():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def end_to_end(rec, failed, attempted):
    warm = rec["warm"]
    samples = [x for v in warm.values() for x in v]
    return {
        "setup_s": (statistics.median(rec["setup_samples"]), "s"),
        "cold_s": (sum(rec["cold"].values()), "s"),
        "total_s": (sum(statistics.median(v) for v in warm.values()), "s"),
        "query_p50_s": (statistics.median(samples), "s"),
        "query_p90_s": (statistics.quantiles(samples, n=10, method="inclusive")[-1], "s"),
        # all the warm passes' CPU, per pass: what a bill for the run counts
        "cpu_s": (statistics.mean(rec["cpu_s_per_pass"]), "s"),
        "ok_frac": ((attempted - failed) / attempted, "ratio"),
    }


LAYER_UNITS = {
    "sessions.build_s": "s",
    "ops.build_s": "s", "ops.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.executions": "count",
    "codegen.compile_s": "s", "codegen.compiles": "count",
    "codegen.warm_compiles": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.aqe_updates": "count",
    "scheduler.driver_gap_s": "s",
    "executor.cpu_s": "s", "executor.run_s": "s", "executor.gc_s": "s",
    "executor.util": "ratio", "executor.straggler_s": "s",
    "executor.peak_mem_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "tables.read_mb": "MB", "tables.read_rows": "rows",
    "trace.overhead": "ratio",
}


def warm_passes(spec, seconds, trace):
    """Warm passes that fill `seconds` after the cold pass, at the workload's
    nominal speed on a 4-core host, counting the first, untimed warm-up pass.
    The count depends only on the arguments, so every run of a workload does
    the same work whatever the host's speed. A traced run makes the warm-up
    pass plus whole groups of four (see Main.scala)."""
    n = int((seconds - spec["nominal_cold_s"]) // spec["nominal_pass_s"])
    return 1 + 4 * max(1, (n - 1) // 4) if trace else 1 + max(3, n - 1)


def run(workload, seed, seconds, trace):
    t_start = time.monotonic()
    if not (ENGINE_SRC / "graft").is_dir():
        raise SystemExit(f"perfbench: no engine sources at {ENGINE_SRC.relative_to(ROOT)}")
    OUT.mkdir(exist_ok=True)
    src_sha = ensure_built()
    ensure_data()
    spec = json.loads((HERE / "workloads.json").read_text())["workloads"][workload]
    expected = json.loads((HERE / "expected_digests.json").read_text())
    keys = spec["keys"]
    budget_start = time.monotonic()

    tag = f"{workload}-seed{seed}-trace{trace}"
    rec_file = OUT / f"{tag}.json"
    passes = warm_passes(spec, seconds, trace)
    args = ["run", "--workload", workload, "--modules", ",".join(spec["modules"]),
            "--keys", ",".join(keys), "--seed", str(seed), "--passes", str(passes),
            "--trace", str(trace), "--data", str(DATA), "--out", str(rec_file)]
    if trace:
        args += ["--spans", str(OUT / f"{tag}.spans.jsonl")]
    steal0 = steal_s()
    setups = []
    # set-up is reported only by untraced runs
    for _ in range(0 if trace else SETUP_SAMPLES - 1):
        left = RUN_LIMIT_S - (time.monotonic() - budget_start)
        setups.append(float(java(["setup", "--launch-ns", str(time.time_ns())],
                                 timeout=max(10.0, left), out=str(OUT / f"{tag}.log"))
                            .split()[-1]))
    left = RUN_LIMIT_S - (time.monotonic() - budget_start)
    java(args + ["--launch-ns", str(time.time_ns())], timeout=max(10.0, left),
         out=str(OUT / f"{tag}.log"))
    steal1 = steal_s()
    rec = json.loads(rec_file.read_text())
    rec["setup_samples"] = setups + [rec["setup_s"]]

    problems = dict(rec["errors"])
    if rec["keys"] != keys:
        problems["*"] = "the run reported other keys than the workload declares"
    for k in keys:
        if k not in problems and rec["digests"].get(k) != expected.get(k):
            problems[k] = f"digest {rec['digests'].get(k)} != expected {expected.get(k)}"
    violations = rec.get("violations", [])
    failed = len(problems)
    e2e = end_to_end(rec, failed, len(keys))
    rec.update({
        "sf": SF, "git_rev": git_rev(), "src_sha256": src_sha,
        "problems": problems,
        "host_steal_s": None if steal0 is None or steal1 is None else steal1 - steal0,
        "warm_samples": sum(len(v) for v in rec["warm"].values()),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "wall_s": time.monotonic() - t_start,
    })
    if trace:
        rec["layer_metrics"] = {k: {"value": rec["layers"].get(k), "unit": u}
                                for k, u in LAYER_UNITS.items()}
    rec_file.write_text(json.dumps(rec, indent=1))
    log(f"{workload}: {len(keys)} keys, {rec['warm_passes']} warm passes, "
        f"{rec['warm_samples']} warm samples, wall {rec['wall_s']:.1f} s")
    for k, v in list(problems.items())[:10]:
        log(f"FAILED {k}: {v}")
    for v in violations[:10]:
        log(f"TRACE CHECK: {v}")
    metrics = rec["layer_metrics"] if trace else rec["metrics"]
    return {
        "correct": failed == 0 and not violations,
        "attempted": len(keys),
        "failed": failed,
        "metrics": metrics,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)), flush=True)


if __name__ == "__main__":
    main()
