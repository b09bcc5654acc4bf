#!/usr/bin/env python3
"""Compare the Spark counters of two traced benchmark runs.

    python3 perfbench/counter_diff.py OLD NEW

OLD and NEW are traced-run records (`run.py --trace 1` writes them to
perfbench/out/<workload>-trace-seed<n>.json) or directories of them; files
of the same workload and seed are paired. For every (workload, span) it
prints the counts that should repeat for the same program and input, and
flags each one that changed: jobs, stages, tasks and IF entries at all,
byte counts by more than 1% (a task's result also carries its metric
updates, whose encoded size moves by a few bytes from run to run). Exit
status 1 when any changed.
"""
import json
import os
import sys

COUNTS = ("jobs", "stages", "tasks", "if_entries", "result_bytes",
          "shuffle_write_bytes")
BYTES_TOLERANCE = 0.01


def changed(count, a, b):
    if a is None or b is None or not count.endswith("_bytes"):
        return a != b
    return abs(a - b) > BYTES_TOLERANCE * max(abs(a), abs(b), 1.0)


def records(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if f.endswith(".json")] if os.path.isdir(path) else [path])
    out = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        d = rec.get("detail", {})
        if "spans" in d:
            out[(d["workload"], d["seed"])] = rec["metrics"]
    return out


def span_counts(metrics):
    """{span: {count: value}} from a record's per-layer medians."""
    spans = {}
    for name, m in metrics.items():
        span, _, count = name.rpartition(".")
        if count in COUNTS:
            spans.setdefault(span, {})[count] = m["value"]
    return spans


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    old, new = records(sys.argv[1]), records(sys.argv[2])
    pairs = sorted(set(old) & set(new))
    if not pairs:
        sys.exit("no traced records of the same workload and seed to compare")
    n_changed = 0
    for key in pairs:
        a, b = span_counts(old[key]), span_counts(new[key])
        print(f"{key[0]} (seed {key[1]})")
        for span in sorted(set(a) | set(b)):
            diffs = [f"{c} {a.get(span, {}).get(c)} -> {b.get(span, {}).get(c)}"
                     for c in COUNTS
                     if changed(c, a.get(span, {}).get(c), b.get(span, {}).get(c))]
            n_changed += bool(diffs)
            print(f"  {'CHANGED' if diffs else 'same   '} {span:16} "
                  + ("; ".join(diffs)))
    for key in sorted(set(old) ^ set(new)):
        print(f"{key[0]} (seed {key[1]}): only in one of the two")
    print(f"{n_changed} (workload, span) pairs changed")
    sys.exit(1 if n_changed else 0)


if __name__ == "__main__":
    main()
