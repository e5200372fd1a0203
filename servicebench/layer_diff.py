#!/usr/bin/env python3
"""Compare two sets of service-benchmark records, workload by workload
and layer by layer.

    python3 servicebench/layer_diff.py BASE NEW

BASE and NEW are each a record file written by run.py or a directory of
them (servicebench/records/). Records of the same workload on one side
are folded to the median of each figure. For every workload on both
sides, every end-to-end, per-layer and workload-own figure is printed
with its base value, its new value and the ratio new/base; the layer is
the part of a per-layer name before its first dot.
"""
import json
import os
import statistics
import sys

SECTIONS = ("end_to_end", "per_layer", "own")


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json"))
    by_workload = {}
    for f in files:
        with open(f) as h:
            rec = json.load(h)
        by_workload.setdefault(rec["workload"], []).append(rec)
    return by_workload


def fold(records):
    """Per section and figure: (median value, unit, number of records)."""
    out = {s: {} for s in SECTIONS}
    for s in SECTIONS:
        names = sorted({n for r in records for n in r.get(s, {})})
        for n in names:
            vals = [r[s][n]["value"] for r in records if n in r.get(s, {})]
            unit = next(r[s][n]["unit"] for r in records if n in r.get(s, {}))
            out[s][n] = (statistics.median(vals), unit, len(vals))
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    base, new = load(argv[1]), load(argv[2])
    for wl in sorted(set(base) & set(new)):
        b, n = fold(base[wl]), fold(new[wl])
        print(f"== {wl}: {len(base[wl])} base record(s), {len(new[wl])} new record(s)")
        print(f"  {'layer':10s} {'figure':34s} {'base':>14s}    {'new':>14s} {'unit':8s} new/base")
        for s in SECTIONS:
            rows = []
            for name in sorted(set(b[s]) & set(n[s])):
                bv, unit, _ = b[s][name]
                nv = n[s][name][0]
                ratio = f"{nv / bv:8.3f}" if bv else "     n/a"
                layer = name.split(".")[0] if s == "per_layer" else s
                rows.append(f"  {layer:10s} {name:34s} {bv:14.4f} -> {nv:14.4f} {unit:8s} x{ratio}")
            if rows:
                print("\n".join(rows))
    only = sorted(set(base) ^ set(new))
    if only:
        print("workloads on one side only: " + ", ".join(only))


if __name__ == "__main__":
    main(sys.argv)
