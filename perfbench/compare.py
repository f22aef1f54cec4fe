#!/usr/bin/env python3
"""Compare stamped results written by perfbench/run.py.

    python3 perfbench/compare.py A1.json [A2.json ...] -- B1.json [B2.json ...]

Prints, per metric, the median of each side, their quartiles and B/A.
Refuses (exit code 2) to compare results whose workload, cpus, scale, run
length, trace mode or use of the class-data archive differ: numbers
measured at different CPU counts, input sizes or JVM start-up are not
comparable.
"""
import json
import statistics
import sys

MUST_MATCH = ("workload", "cpus", "scale", "seconds", "trace", "cds")


def load(path):
    with open(path) as f:
        d = json.load(f)
    return d["stamp"], d["metrics"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    sides = [[load(p) for p in argv[:cut]], [load(p) for p in argv[cut + 1:]]]
    if not sides[0] or not sides[1]:
        sys.exit(__doc__)
    first = sides[0][0][0]
    for stamp, _ in sides[0] + sides[1]:
        for k in MUST_MATCH:
            if stamp.get(k) != first.get(k):
                print("refusing to compare: %s differs (%r vs %r)"
                      % (k, first.get(k), stamp.get(k)), file=sys.stderr)
                sys.exit(2)
    # context, not compared: on a shared host, times rise with steal
    steal = [statistics.median(st.get("host_steal_pct", 0.0) for st, _ in side)
             for side in sides]
    print("host_steal_pct median: A %.1f  B %.1f" % tuple(steal))
    print("%-30s %14s %14s %8s  unit" % ("metric", "median A", "median B", "B/A"))
    for name, m in sides[0][0][1].items():
        vals = [[r[1][name]["value"] for r in side if name in r[1]]
                for side in sides]
        if not vals[0] or not vals[1]:
            continue
        a, b = statistics.median(vals[0]), statistics.median(vals[1])
        ratio = "%.3f" % (b / a) if a else "n/a"
        qa, qb = quartiles(vals[0]), quartiles(vals[1])
        print("%-30s %14.6g %14.6g %8s  %s   A q1..q3 %.6g..%.6g  B q1..q3 %.6g..%.6g"
              % (name, a, b, ratio, m["unit"], qa[0], qa[1], qb[0], qb[1]))


if __name__ == "__main__":
    main(sys.argv[1:])
