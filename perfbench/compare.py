#!/usr/bin/env python3
"""Compare two run reports written by run.py to .perfbench/results/.

    python3 perfbench/compare.py A.json B.json

Prints each end-to-end metric of both runs and B's change against A.
When A is untraced and B traced (same workload and seed), that change
is the tracing overhead.  When both are traced, it lists every op whose
Spark job, stage or task count differs between the two runs.
"""

from __future__ import annotations

import json
import sys


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv)
    if a["workload"] != b["workload"]:
        print("reports are of different workloads", file=sys.stderr)
        return 2
    what = "tracing overhead" if (a["trace"], b["trace"]) == (0, 1) else "B vs A"
    print(f"{a['workload']}: seed {a['seed']} trace {a['trace']} -> "
          f"seed {b['seed']} trace {b['trace']} ({what})")
    for k, va in a["e2e"].items():
        vb = b["e2e"][k]
        print(f"  {k:14s} {va:12.4f} {vb:12.4f} {(vb - va) / va:+8.1%}")
    if "op_counters" in a and "op_counters" in b:
        ca = {(r[0], r[1]): r[2:] for r in a["op_counters"]}
        cb = {(r[0], r[1]): r[2:] for r in b["op_counters"]}
        varying = [(op, ca[op], cb[op]) for op in sorted(ca.keys() & cb.keys()) if ca[op] != cb[op]]
        print(f"  ops compared: {len(ca.keys() & cb.keys())}; with differing "
              f"[jobs, stages, tasks]: {len(varying)}")
        for op, x, y in varying:
            print(f"    {op[0]:4d} {op[1]:34s} {x} -> {y}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
