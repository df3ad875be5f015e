#!/usr/bin/env python3
"""Draws the catalog workload's entry subset from a full recording.

    python3 perfbench/tools/select_subset.py <record.json>

<record.json> is the output of `record_catalog.py sf0.1` over every entry.
Entries are grouped by family (the name up to the first '_'); each family
gets round(n / 30) entries, at least one, taken at evenly spaced quantiles
of the family's recorded summary times, so both floor-bound entries and the
family's heavy tail are represented. Every entry is eligible, whatever its
oracle verdict. Prints the subset as a JSON list.
"""
import json
import sys


def select(record, share=30):
    fams = {}
    for name, e in record.items():
        fams.setdefault(name.split("_")[0], []).append((e["summary_ms"], name))
    subset = []
    for fam, entries in sorted(fams.items()):
        entries.sort()
        k = max(1, round(len(entries) / share))
        subset += [entries[int((j + 0.5) * len(entries) / k)][1] for j in range(k)]
    return sorted(subset)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        print(json.dumps(select(json.load(f))))
