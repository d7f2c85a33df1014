#!/usr/bin/env python3
"""Regenerates perfbench/fingerprints.json, the reference outputs the
query_surface workload checks against.

Usage (from the repository root):

    python3 perfbench/fingerprints.py [--verify]

Runs every ``SparkEntry.queries`` entry on the benchmark's fixed corpus
twice, in two JVMs with different core counts (4 and 2) and opposite
query orders, and records each query's row count, schema and
order-insensitive row hash. A hash that differs between the two passes
marks the output as not bit-stable (``"stable": false``): the check
then compares row count and schema only. ``--verify`` also dumps every
query's output with ``graft.Verify`` and runs ``scripts/check.py``, the
DuckDB oracle compare, on the same corpus, and refuses to write the
file unless it passes.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)
import run  # noqa: E402


def prints(classpath, work, data, cores, order):
    out = os.path.join(work, f"prints-{cores}.json")
    args = dict(workload="query_surface", seed=0, seconds=0, trace=0, cores=cores, data=data,
                mode="fingerprint", setups=1, order=order, prints=out)
    run.run_jvm(classpath, work, args, timeout=3600)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--verify", action="store_true")
    a = ap.parse_args()
    classpath = run.build()
    work = os.path.join(run.BUILD, "fingerprints")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    os.symlink(run.corpus(), os.path.join(data, "corpus"))
    if a.verify:
        dump = os.path.join(work, "verify")
        cmd = (["java", "-Xmx3g"] + run.jvm_opens() +
               ["-cp", classpath, "graft.Verify", os.path.join(data, "corpus"), dump])
        subprocess.run(cmd, check=True, env=dict(os.environ, SPARK_GRAFT_CPUS=str(run.CORES)))
        res = subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "check.py"),
                              os.path.join(data, "corpus"), dump],
                             capture_output=True, text=True)
        sys.stderr.write(res.stdout[-3000:] + res.stderr[-3000:])
        if res.returncode != 0:
            raise SystemExit("oracle check failed; fingerprints not written")
    first = prints(classpath, work, data, run.CORES, 1)
    second = prints(classpath, work, data, 2, -1)
    out = {}
    for name in sorted(first):
        p, q = first[name], second.get(name, {})
        if "error" in p or "error" in q:
            raise SystemExit(f"{name} failed: {p.get('error') or q.get('error')}")
        if (p["rows"], p["schema"]) != (q["rows"], q["schema"]):
            raise SystemExit(f"{name}: row count or schema differs between passes")
        out[name] = {"rows": p["rows"], "schema": p["schema"], "hash": p["hash"],
                     "stable": p["hash"] == q["hash"], "ms": round(p["ms"], 1)}
    with open(os.path.join(HERE, "fingerprints.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    unstable = sorted(n for n, v in out.items() if not v["stable"])
    print(f"{len(out)} queries, {len(unstable)} not bit-stable: {', '.join(unstable)}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
