#!/usr/bin/env python3
"""Compare the Spark job counts of two sets of graft.Bench runs.

Usage: python3 tools/profile_diff.py <parentLog> <changeLog>

Each log is the captured stderr of one or more `runMain graft.Bench`
invocations (concatenate several runs into one file). Bench prints one
`[bench] profile <name> {json}` line per query, whose JSON holds one
value per measured run under each field. A run's job count is
`construct_jobs + exec_jobs`.

Per query, prints the min and max job count over every run on each side.
A query is HIGHER only when the change's min exceeds the parent's max:
some queries launch a varying number of jobs from run to run with an
unchanged plan, so one run per side does not settle a difference. Such
queries are marked `varies`. A query profiled on one side only is
MISSING.

Exits 1 if any query is higher or missing, else 0.

Dev tooling only: the Scala library has no Python dependency.
"""
import json
import sys

MARK = "[bench] profile "


def job_counts(path):
    """Query name -> list of per-run job counts, over every profile line."""
    runs = {}
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            at = line.find(MARK)
            if at < 0:
                continue
            name, _, payload = line[at + len(MARK):].strip().partition(" ")
            row = json.loads(payload)
            totals = [c + e for c, e in zip(row["construct_jobs"], row["exec_jobs"])]
            runs.setdefault(name, []).extend(totals)
    return runs


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = job_counts(sys.argv[1]), job_counts(sys.argv[2])
    bad = 0
    for name in sorted(parent.keys() | change.keys()):
        if name not in parent or name not in change:
            side = "parent" if name not in parent else "change"
            print(f"MISSING {name}: no {side} profile")
            bad += 1
            continue
        p, c = parent[name], change[name]
        higher = min(c) > max(p)
        varies = min(p) != max(p) or min(c) != max(c)
        status = "HIGHER" if higher else "ok"
        note = "  varies" if varies else ""
        print(f"{status:6} {name}: parent jobs {min(p)}-{max(p)} ({len(p)} runs), "
              f"change {min(c)}-{max(c)} ({len(c)} runs){note}")
        bad += higher
    total = len(parent.keys() | change.keys())
    print(f"{total - bad} of {total} queries no higher, {bad} higher or missing")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
