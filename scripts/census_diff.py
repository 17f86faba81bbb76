#!/usr/bin/env python3
"""Compare the per-layer census of two traced benchmark runs.

    python3 scripts/census_diff.py parent.json change.json

Each file holds the output of one `python3 perfbench/run.py ... --trace 1`
run (the whole stdout, or just its last line): the result line is the last
line that parses as a JSON object with a `metrics` field. Every metric is
printed with both values and the change. The counts that must never grow
(`spark.jobs`, `table.jobs_per_commit`, `table.fs_ops_per_commit`) are
flagged when they do, and the exit code is then 1; it is 0 otherwise and 2
when a file holds no result line.
"""
import json
import sys

GUARDED = ("spark.jobs", "table.jobs_per_commit", "table.fs_ops_per_commit")


def result_line(path):
    with open(path) as f:
        lines = f.read().splitlines()
    for line in reversed(lines):
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            doc = json.loads(line)
        except ValueError:
            continue
        if isinstance(doc, dict) and isinstance(doc.get("metrics"), dict):
            return doc
    sys.exit(f"census_diff: no result line in {path}")


def values(doc):
    return {k: (v.get("value"), v.get("unit", "")) for k, v in doc["metrics"].items()}


def fmt(x):
    return "n/a" if x is None else f"{x:.3f}"


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    parent, change = (values(result_line(p)) for p in argv[1:])
    regressions = []
    print(f"{'metric':40} {'parent':>12} {'change':>12} {'delta':>12}  unit")
    for name in sorted(set(parent) | set(change)):
        a, unit = parent.get(name, (None, ""))
        b, unit = change.get(name, (None, unit))
        delta = None if a is None or b is None else b - a
        flag = ""
        if name in GUARDED and delta is not None and delta > 0:
            flag = "  <-- increase"
            regressions.append(name)
        print(f"{name:40} {fmt(a):>12} {fmt(b):>12} {fmt(delta):>12}  {unit}{flag}")
    if regressions:
        print(f"census_diff: count regression in {', '.join(regressions)}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
