#!/usr/bin/env python3
"""Compare two sets of perfbench results.

Usage:
  python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json ...

Each file is a result written by run.py under .perfbench/results/. Prints,
per metric, the median of each side and the ratio new/base. Every result
carries a host fingerprint (nproc, MemTotal, JDK and Spark versions); if
any two files differ in it, no ratio is reported and the exit code is 1,
since a ratio across hosts or runtimes measures the host, not the change.
The git commit (or source digest) is printed for each side but is what a
comparison is expected to differ in.
"""
import argparse
import json
import statistics
import sys

HOST_KEYS = ("nproc", "mem_total_kb", "jdk", "spark")


def load(paths):
    return [json.load(open(p)) for p in paths]


def host(r):
    return tuple((k, r["fingerprint"][k]) for k in HOST_KEYS)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    a = ap.parse_args()
    base, new = load(a.base), load(a.new)
    hosts = {host(r) for r in base + new}
    if len(hosts) > 1:
        print("refusing to compare: host fingerprints differ:")
        for h in sorted(hosts):
            print("  " + ", ".join(f"{k}={v}" for k, v in h))
        return 1
    workloads = {r["workload"] for r in base + new}
    if len(workloads) > 1:
        print(f"refusing to compare different workloads: {sorted(workloads)}")
        return 1
    for side, rs in (("base", base), ("new", new)):
        commits = sorted({r["fingerprint"]["git_commit"] or
                          r["fingerprint"]["source_sha256"][:12] for r in rs})
        print(f"{side}: {len(rs)} runs of {commits}")
    names = [k for k in base[0]["metrics"] if all(k in r["metrics"] for r in new)]
    for k in names:
        mb = statistics.median(r["metrics"][k]["value"] for r in base)
        mn = statistics.median(r["metrics"][k]["value"] for r in new)
        unit = base[0]["metrics"][k]["unit"]
        ratio = f"{mn / mb:.3f}" if mb else "n/a (base is 0)"
        print(f"{k:34s} base {mb:12.6g} new {mn:12.6g} {unit:8s} new/base {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
