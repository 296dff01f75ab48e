#!/usr/bin/env python3
"""Compare two benchmark result files, per workload and per operation.

    python3 perfbench/diff.py OLD NEW

OLD and NEW are result files that run.py writes to
.bench_build/results/<workload>-seed<N>-trace<0|1>.json, or two such
directories, in which case the files are paired by workload and trace flag.
For traced results it lists, per operation kind, every per-layer number that
changed, and flags each increase in an exact count (layers.EXACT: jobs,
stages, tasks, exchanges, file-system operations, files created). Those
repeat exactly from run to run of the same code, where wall time does not,
so an increase is a regression whatever the clock says. The end-to-end and
named metrics are listed with their ratio, for information. The exit code
is 1 when any exact count increased.
"""
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from layers import EXACT  # noqa: E402


def pairs(old, new):
    if os.path.isfile(old) and os.path.isfile(new):
        return [(old, new)]
    def index(d):
        out = {}
        for f in sorted(glob.glob(f"{d}/*.json")):
            env = json.load(open(f))["env"]
            out.setdefault((env["workload"], env["trace"]), f)
        return out
    a, b = index(old), index(new)
    return [(a[k], b[k]) for k in sorted(a) if k in b]


def compare(fa, fb):
    a, b = json.load(open(fa)), json.load(open(fb))
    w = a["env"]["workload"]
    print(f"== {w} (trace={a['env']['trace']}): {fa} -> {fb}")
    flagged = 0
    for k in sorted(set(a["named"]) & set(b["named"])):
        x, y = a["named"][k]["value"], b["named"][k]["value"]
        ratio = f"{y / x:.3f}x" if x else "n/a"
        print(f"   {k:24s} {x:12.4g} -> {y:12.4g} {a['named'][k]['unit']:6s} {ratio}")
    for op in sorted(set(a["per_op"]) & set(b["per_op"])):
        pa, pb = a["per_op"][op], b["per_op"][op]
        for k in sorted(set(pa) & set(pb)):
            if k == "n" or abs(pb[k] - pa[k]) < 1e-9:
                continue
            exact = k in EXACT
            up = exact and pb[k] > pa[k] + 1e-9
            flagged += up
            if exact or abs(pb[k] - pa[k]) > 0.1 * max(abs(pa[k]), 1e-9):
                mark = "INCREASE" if up else ("decrease" if exact else "")
                print(f"   {op:22s} {k:34s} {pa[k]:12.4g} -> {pb[k]:12.4g} {mark}")
    for op in sorted(set(a["per_op"]) ^ set(b["per_op"])):
        print(f"   {op}: only in {'old' if op in a['per_op'] else 'new'}")
    return flagged


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    ps = pairs(sys.argv[1], sys.argv[2])
    if not ps:
        sys.exit("no result files to pair")
    flagged = sum(compare(fa, fb) for fa, fb in ps)
    print(f"{flagged} exact-count increase(s)")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
