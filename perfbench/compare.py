#!/usr/bin/env python3
"""Set two groups of benchmark results side by side.

Usage: python3 perfbench/compare.py <A> <B>
A and B are result files written by run.py (.bench_build/results/*.json)
or directories of them. For every workload present in both, prints the
median of each end-to-end and workload metric in A and B and their
ratio. When one side holds traced runs and the other untraced ones, the
ratio of op medians is the tracing overhead.

Refuses to compare results taken with different CPU counts (nproc or
SPARK_GRAFT_CPUS): such numbers are not comparable.
"""
import json
import statistics
import sys
from pathlib import Path


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    return [json.loads(f.read_text()) for f in files]


def cpus(results):
    return {(r["env"]["nproc"], r["env"]["spark_graft_cpus"]) for r in results}


def medians(results):
    vals = {}
    for r in results:
        # Median op time; in a traced run the ledger's copy of it.
        op = r["per_layer"]["trace.op_p50_ms"] if r["trace"] else r["op_p50_ms"]
        vals.setdefault("op_p50_ms", []).append(op)
        for group in ("end_to_end", "workload_metrics"):
            for k, v in r[group].items():
                vals.setdefault(k, []).append(v["value"])
    return {k: statistics.median(v) for k, v in vals.items()}


def main(a_arg, b_arg):
    a, b = load(a_arg), load(b_arg)
    ca, cb = cpus(a), cpus(b)
    if len(ca | cb) != 1:
        sys.exit(f"refusing to compare results from different CPU counts: {sorted(ca | cb)}")
    for w in sorted({r["workload"] for r in a} & {r["workload"] for r in b}):
        ra = [r for r in a if r["workload"] == w]
        rb = [r for r in b if r["workload"] == w]
        ma, mb = medians(ra), medians(rb)
        print(f"{w}: {len(ra)} vs {len(rb)} runs "
              f"(traced: {sorted({r['trace'] for r in ra})} vs {sorted({r['trace'] for r in rb})})")
        for k in sorted(ma.keys() & mb.keys()):
            ratio = mb[k] / ma[k] if ma[k] else float("nan")
            print(f"  {k:28s} {ma[k]:14.4f} {mb[k]:14.4f}  x{ratio:.3f}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
