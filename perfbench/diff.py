#!/usr/bin/env python3
"""Compares the exact counters of two traced result files.

    python3 perfbench/run.py --workload etl-closure --seed 1 --seconds 10 \\
        --trace 1 --out before.json
    ... change the engine ...
    python3 perfbench/run.py ... --out after.json
    python3 perfbench/diff.py before.json after.json

Job, stage and task counts, shuffle records and closure rounds are fixed
for a given plan and input, so box noise cannot move them. Any change of
one of them between two files of the same workload and seed is reported
as a plan change, and the exit code is 1. Every other metric that differs
is listed beside them for reading, never judged.
"""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from metrics import EXACT_COUNTERS  # noqa: E402


def load(path):
    d = json.loads(Path(path).read_text())
    if not d.get("per_layer"):
        raise SystemExit("%s has no per-layer metrics: record it with --trace 1" % path)
    return d


def compare(a, b):
    """Lines describing the differences, and whether any counter changed."""
    lines = []
    if (a["workload"], a["seed"]) != (b["workload"], b["seed"]):
        lines.append("warning: comparing %s seed %s with %s seed %s; counters only "
                     "agree for the same workload and seed"
                     % (a["workload"], a["seed"], b["workload"], b["seed"]))
    changed = False
    la, lb = a["per_layer"], b["per_layer"]
    for k in EXACT_COUNTERS:
        va, vb = la.get(k), lb.get(k)
        if va != vb:
            changed = True
            lines.append("PLAN CHANGE  %-28s %s -> %s" % (k, va, vb))
    for k in sorted(set(la) & set(lb)):
        if k not in EXACT_COUNTERS and la[k] != lb[k]:
            kind = "time" if k.endswith(("_s", ".s")) else "other"
            lines.append("%-12s %-28s %.4g -> %.4g" % (kind, k, la[k], lb[k]))
    if not changed:
        lines.insert(0, "no plan change: every exact counter is identical")
    return lines, changed


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    lines, changed = compare(load(argv[1]), load(argv[2]))
    print("\n".join(lines))
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
