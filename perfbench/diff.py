#!/usr/bin/env python3
"""Counter diff of two sets of traced benchmark results.

Usage:

    python3 perfbench/diff.py A B

A and B are directories holding one `<workload>.json` per workload, each
the last stdout line of a traced run (`run.py --trace 1`). For every
workload in both, and every layer, the tool compares the work counters
(jobs, tasks, shuffle bytes, bytes and files written, pairs, live store
size) and lists every counter that moved, with both values. Counters that
repeat exactly between two runs of the same code give a regression signal
without wall-clock noise. Exits 1 when any counter moved.
"""
import json
import os
import sys

COUNTER_SUFFIXES = (".jobs", ".tasks", ".shuffle_read_bytes",
                    ".shuffle_write_bytes", ".shuffle_bytes",
                    ".bytes_written", ".files_written", ".pairs",
                    ".bytes_live", ".files_live", "unattributed_jobs")


def is_counter(name):
    return name.endswith(COUNTER_SUFFIXES)


def load(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                lines = [l for l in fh.read().splitlines() if l.strip()]
            out[f[:-len(".json")]] = json.loads(lines[-1])["metrics"]
    return out


def diff(a, b):
    """(workload, counter, value in A, value in B) for every counter that
    differs, and the number of counters compared."""
    moved, compared = [], 0
    for w in sorted(set(a) & set(b)):
        for name in sorted(set(a[w]) | set(b[w])):
            if not is_counter(name):
                continue
            va = a[w].get(name, {}).get("value")
            vb = b[w].get(name, {}).get("value")
            compared += 1
            if va != vb:
                moved.append((w, name, va, vb))
    return moved, compared


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = load(argv[1]), load(argv[2])
    moved, compared = diff(a, b)
    for w, name, va, vb in moved:
        layer = name.split(".")[0]
        print(f"{w:12s} {layer:10s} {name:34s} {va!r:>16} -> {vb!r}")
    print(f"{len(moved)} of {compared} counters moved")
    return 1 if moved else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
