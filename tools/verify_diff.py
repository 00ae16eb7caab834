#!/usr/bin/env python3
"""Compare two sets of graft.Verify dumps query by query.

Usage: python3 tools/verify_diff.py <parentDump> <changeDump>

Each dump directory holds one Parquet directory per query, as written by
`sbt "runMain graft.Verify <sfDir> <outDir>"`. For every query found on
either side, DuckDB computes the row count and an order-invariant row
hash: the xor of hash(row) over all rows, with the columns taken in name
order. Two dumps of the same query agree when both numbers match.

Prints one DIFF / MISSING line per disagreeing query and a summary line.
Exits 1 if any query differs or is dumped on one side only, else 0.

Dev tooling only — the Scala library has no Python dependency.
"""
import os
import sys

import duckdb


def dumps(root):
    """Query name -> dump directory, for every Parquet dump under root."""
    return {name: os.path.join(root, name) for name in os.listdir(root)
            if os.path.isdir(os.path.join(root, name))}


def fingerprint(con, path):
    src = f"read_parquet('{path}/*.parquet')"
    cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall())
    row = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(bit_xor(hash({row})), 0) FROM {src}").fetchone()
    return cols, n, h


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = dumps(sys.argv[1]), dumps(sys.argv[2])
    con = duckdb.connect()
    bad = 0
    for name in sorted(parent.keys() | change.keys()):
        if name not in parent or name not in change:
            side = "parent" if name not in parent else "change"
            print(f"MISSING {name}: no {side} dump")
            bad += 1
            continue
        a, b = fingerprint(con, parent[name]), fingerprint(con, change[name])
        if a != b:
            print(f"DIFF {name}: parent (cols {a[0]}, {a[1]} rows, hash {a[2]}) "
                  f"vs change (cols {b[0]}, {b[1]} rows, hash {b[2]})")
            bad += 1
    total = len(parent.keys() | change.keys())
    print(f"{total - bad} of {total} dumps identical, {bad} differ or are missing")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
