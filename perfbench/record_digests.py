#!/usr/bin/env python3
"""Records perfbench/expected_digests.json from oracle-checked outputs.

    python3 perfbench/record_digests.py

For every key of every workload it runs graft.Verify on the benchmark's
tables, compares each result with DuckDB through tools/check.py, and only if
every key passes, digests the checked result files (the same Digest the
benchmark applies to its live results) and writes the expected file.
Needs Python with duckdb, numpy and pandas, which run.py itself does not.
"""
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def main():
    run.OUT.mkdir(exist_ok=True)
    run.ensure_built()
    run.ensure_data()
    spec = json.loads((HERE / "workloads.json").read_text())["workloads"]
    keys = [k for w in spec.values() for k in w["keys"]]
    verify = run.OUT / "verify"
    shutil.rmtree(verify, ignore_errors=True)
    run.java([str(run.DATA), str(verify), ",".join(keys)], timeout=1800,
             out=str(run.OUT / "verify.log"), main="graft.Verify",
             env={"SPARK_GRAFT_CPUS": str(os.cpu_count())})
    r = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check.py"), str(verify),
                        str(run.DATA)], stdout=subprocess.PIPE, text=True)
    verdict = {}
    for line in r.stdout.splitlines():
        m = re.match(r"^(PASS|FAIL) ([^\s:]+)", line)
        if m:
            verdict[m.group(2)] = (m.group(1), line)
    bad = [verdict.get(k, ("FAIL", f"FAIL {k}: not checked"))[1]
           for k in keys if verdict.get(k, ("FAIL",))[0] != "PASS"]
    if bad:
        print("\n".join(bad))
        sys.exit(f"record_digests: {len(bad)} keys did not match DuckDB; nothing written")
    out = run.OUT / "verify-digests.json"
    run.java(["digest", "--verify", str(verify),
              "--keys", ",".join(keys), "--out", str(out)], timeout=900)
    digests = json.loads(out.read_text())
    (HERE / "expected_digests.json").write_text(
        json.dumps({k: digests[k] for k in sorted(digests)}, indent=1) + "\n")
    print(f"{len(keys)} keys matched DuckDB; expected_digests.json written")


if __name__ == "__main__":
    main()
