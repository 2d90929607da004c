#!/usr/bin/env python3
"""Fold a sweep's per-gate medians into a reference floor table.

Usage:
  tools/fold_floors.py <record.json> <sf>            # min-fold every gate
  tools/fold_floors.py <record.json> <sf> --replace g1,g2
      # additionally REPLACE the named gates' floors with the record's
      # value even when it is HIGHER — the re-baselining path for a
      # floor no later sweep lands near (a lucky minimum)

<record.json> is a Bench emit (bench_full.json or a BENCH_*.json with a
"queries" map); <sf> picks the floor table next to this script
(bench_expected_sf0.1.json / bench_expected_sf1.json). The table stays a
per-gate MINIMUM otherwise: it is reference data for reading a sweep's
wall-clock, and Bench itself does not read it.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    record_path, sf = sys.argv[1], sys.argv[2]
    replace = set()
    extra = sys.argv[3:]
    if extra:
        # strict: a mistyped/incomplete --replace silently min-folding
        # would leave the operator believing a re-baseline happened
        if len(extra) != 2 or extra[0] != "--replace" or not extra[1]:
            print(f"unrecognized arguments: {' '.join(extra)}\n")
            print(__doc__)
            return 2
        replace = set(extra[1].split(","))

    rec = json.load(open(record_path))
    queries = rec["queries"] if "queries" in rec else rec
    floor_path = os.path.join(HERE, f"bench_expected_{sf}.json")
    floors = json.load(open(floor_path))

    folded, replaced = [], []
    for g, v in queries.items():
        v = float(v)
        if v <= 0:
            continue  # crashed child sentinel
        if g in replace:
            if abs(floors.get(g, -1) - v) > 1e-9:
                replaced.append((g, floors.get(g), v))
                floors[g] = v
        elif g not in floors or v < floors[g] - 1e-9:
            folded.append((g, floors.get(g), v))
            floors[g] = v

    with open(floor_path, "w") as fh:
        fh.write("{\n")
        fh.write(",\n".join(
            f' "{g}": {floors[g]}' for g in sorted(floors)))
        fh.write("\n}\n")

    for g, old, new in folded:
        print(f"fold {g}: {old} -> {new}")
    for g, old, new in replaced:
        print(f"REPLACE {g}: {old} -> {new}")
    if not folded and not replaced:
        print("no floors changed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
