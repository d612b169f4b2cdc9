#!/usr/bin/env python3
"""Compares benchmark artifacts of two commits, metric by metric.

    python3 perfbench/compare.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Each argument is an artifact that run.py leaves in perfbench/work/
(<workload>-seed<n>-trace<t>.json). Artifacts are grouped by workload and
trace flag; for each metric the script prints both medians, the change
relative to the base median and the base's own spread (quartile distance
over median). It refuses to compare artifacts taken with a different core
count or JVM heap, because their numbers measure different machines.
"""
import json
import statistics
import sys

MACHINE_KEYS = ("nproc", "heap_max_mb")


def load(paths):
    arts = []
    for p in paths:
        with open(p) as f:
            arts.append(json.load(f))
    return arts


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else float("nan")


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    i = argv.index("--")
    base, new = load(argv[:i]), load(argv[i + 1:])
    if not base or not new:
        sys.exit(__doc__)
    machines = {tuple(a["header"][k] for k in MACHINE_KEYS) for a in base + new}
    if len(machines) > 1:
        sys.exit("refused: artifacts come from different machines "
                 f"({', '.join(MACHINE_KEYS)} = {sorted(machines)})")
    groups = sorted({(a["workload"], a["trace"]) for a in base + new})
    for workload, trace in groups:
        section = "per_layer" if trace else "end_to_end"
        b = [a for a in base if (a["workload"], a["trace"]) == (workload, trace)]
        n = [a for a in new if (a["workload"], a["trace"]) == (workload, trace)]
        if not b or not n:
            continue
        print(f"== {workload} ({section}, {len(b)} base runs, {len(n)} new runs)")
        for metric, v in b[0][section].items():
            bx = [a[section][metric]["value"] for a in b if a[section].get(metric)]
            nx = [a[section][metric]["value"] for a in n if a[section].get(metric)]
            if not bx or not nx:
                continue
            bm, nm = statistics.median(bx), statistics.median(nx)
            change = (nm - bm) / bm if bm else float("nan")
            print(f"{metric:34} {bm:12.4f} -> {nm:12.4f} {v['unit']:6} "
                  f"{change:+8.1%}  base spread {spread(bx):.1%}")


if __name__ == "__main__":
    main(sys.argv[1:])
