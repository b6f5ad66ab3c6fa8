#!/usr/bin/env python3
"""Diff the Spark counters of two traced benchmark records.

    python3 perfbench/diff_counters.py BASE.json CAND.json [--repeat BASE2.json]

The records are the files a traced run leaves in .bench_build/records/
(`<workload>-seed<n>-trace1.json`); compare records of the same workload and
seed. Every count of the first timed pass, per operation, is compared: jobs,
stages, tasks, rows and bytes read, written and shuffled, plan node counts,
streaming batches and per-table scan rows and bytes. Timings (GC, executor
CPU and run time) are never counts. With --repeat, a second record of the
base code marks every count that did not repeat exactly as non-deterministic;
those are listed apart and not reported as changes. Exits 1 if any
deterministic count changed.
"""
import argparse
import json
import sys

TIMINGS = {"gc_ms", "executor_cpu_ns", "executor_run_ms"}


def counts(path):
    with open(path) as f:
        rec = json.load(f)
    out = {}
    for op, cs in rec["counters"].items():
        for name, v in cs.items():
            if name not in TIMINGS:
                out[(op, name)] = v
    return rec["workload"], rec["seed"], out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("cand")
    ap.add_argument("--repeat", help="a second traced record of the base code")
    a = ap.parse_args()
    wb, sb, base = counts(a.base)
    wc, sc, cand = counts(a.cand)
    if (wb, sb) != (wc, sc):
        sys.exit(f"records differ in workload or seed: {wb}/{sb} vs {wc}/{sc}")
    unstable = set()
    if a.repeat:
        wr, sr, rep = counts(a.repeat)
        if (wr, sr) != (wb, sb):
            sys.exit(f"repeat record is {wr}/{sr}, not {wb}/{sb}")
        unstable = {k for k in base.keys() | rep.keys() if base.get(k) != rep.get(k)}
    changed = [(k, base.get(k), cand.get(k)) for k in sorted(base.keys() | cand.keys())
               if k not in unstable and base.get(k) != cand.get(k)]
    print(f"{wb} seed {sb}: {len(changed)} changed counts, "
          f"{len(unstable)} marked non-deterministic")
    for (op, name), b, c in changed:
        print(f"  {op:28s} {name:28s} {b} -> {c}")
    for op, name in sorted(unstable):
        print(f"  non-deterministic: {op} {name}")
    sys.exit(1 if changed else 0)


if __name__ == "__main__":
    main()
