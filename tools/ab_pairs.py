#!/usr/bin/env python3
"""Alternating A/B runs of one perfbench workload on two checkouts.

Usage: python3 tools/ab_pairs.py <parentDir> <changeDir> <workload> [pairs] [outDir]

Each directory is a full clean checkout (e.g. `git archive <rev> | tar -x
-C <dir>`). Pair i runs `perfbench/run.py --workload <workload> --seconds
15 --trace 0` once in each, parent first on odd pairs and change first on
even ones, and keeps each result object as <outDir>/<side>_<i>.json
(default pairs 10, outDir ab_out).

Prints per end-to-end metric (all four are lower-is-better) each side's
median and quartiles, the pairs the change won (ties count for neither)
and whether the median gap exceeds the parent's interquartile spread, and
the runs that were not correct or had failures.

Dev tooling only — the Scala library has no Python dependency.
"""
import json
import os
import statistics
import subprocess
import sys

METRICS = ["pass_s", "op_p50_s", "peak_rss_mb", "setup_s"]


def run(checkout, workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seconds", "15", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else {"correct": False, "failed": -1,
                                                 "metrics": {}}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def main():
    if len(sys.argv) < 4:
        print(__doc__)
        return 2
    parent, change, workload = sys.argv[1:4]
    pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 10
    out = sys.argv[5] if len(sys.argv) > 5 else "ab_out"
    os.makedirs(out, exist_ok=True)
    sides = {"parent": parent, "change": change}
    res = {"parent": [], "change": []}
    for i in range(1, pairs + 1):
        order = ["parent", "change"] if i % 2 else ["change", "parent"]
        for side in order:
            r = run(sides[side], workload)
            res[side].append(r)
            with open(os.path.join(out, f"{side}_{i}.json"), "w") as f:
                json.dump(r, f)
        print(f"pair {i}: " + "  ".join(
            f"{s} pass_s={res[s][-1]['metrics'].get('pass_s', {}).get('value')}"
            for s in ("parent", "change")), flush=True)
    for side, rs in res.items():
        bad = [i + 1 for i, r in enumerate(rs) if not r.get("correct") or r.get("failed")]
        if bad:
            print(f"{side}: runs not correct or with failures: {bad}")
    for m in METRICS:
        p = [r["metrics"][m]["value"] for r in res["parent"] if m in r["metrics"]]
        c = [r["metrics"][m]["value"] for r in res["change"] if m in r["metrics"]]
        if len(p) < 2 or len(c) < 2 or len(p) != len(c):
            print(f"{m}: too few runs ({len(p)} parent, {len(c)} change)")
            continue
        (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
        wins = sum(1 for a, b in zip(p, c) if b < a)
        losses = sum(1 for a, b in zip(p, c) if b > a)
        print(f"{m}: parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  change {cm:.4g} "
              f"[{c1:.4g}, {c3:.4g}]  ratio {cm / pm:.3f}  change wins "
              f"{wins}/{len(p)} (loses {losses})  gap>parent IQR: "
              f"{pm - cm > p3 - p1}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
