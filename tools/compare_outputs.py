#!/usr/bin/env python3
"""Compare two trees of parquet query outputs (e.g. two `graft.Verify` output
dirs, or two oracle side-table roots) by schema, rows and row order.

    python3 tools/compare_outputs.py <a> <b>

Every directory under <a> or <b> that holds `*.parquet` part files is one
table, keyed by its path relative to the tree root. For each table the two
schemas must be equal (names, types, nullability), and the rows, concatenated
in part-file name order, must be equal one for one. Part-file boundaries are
not compared: they may move with the session's RDD-id history
(`Par.rangeSpread`), while rows and order may not.

Prints one line per table and the first difference of each differing table;
exits 1 if any table differs or exists on one side only.
"""
import math
import os
import sys

import pyarrow.parquet as pq


def tables(root):
    out = {}
    for d, _, files in os.walk(root):
        parts = sorted(f for f in files if f.endswith(".parquet"))
        if parts:
            out[os.path.relpath(d, root)] = [os.path.join(d, f) for f in parts]
    return out


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return {k: norm(x) for k, x in v.items()}
    return v


def read(parts):
    schema = pq.read_schema(parts[0]).remove_metadata()
    rows = []
    for p in parts:
        rows.extend(norm(r) for r in pq.read_table(p).to_pylist())
    return schema, rows


def compare(pa, pb):
    sa, ra = read(pa)
    sb, rb = read(pb)
    if not sa.equals(sb):
        return f"schema differs:\n  a: {sa}\n  b: {sb}".replace("\n", "\n  "), len(ra)
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return f"row {i} differs:\n  a: {x}\n  b: {y}", len(ra)
    if len(ra) != len(rb):
        return f"row count differs: a={len(ra)} b={len(rb)}", len(ra)
    return None, len(ra)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    ta, tb = tables(sys.argv[1]), tables(sys.argv[2])
    diffs = 0
    for rel in sorted(set(ta) | set(tb)):
        if rel not in ta or rel not in tb:
            print(f"DIFF {rel}: only in {'a' if rel in ta else 'b'}")
            diffs += 1
            continue
        diff, n = compare(ta[rel], tb[rel])
        if diff:
            print(f"DIFF {rel}: {diff}")
            diffs += 1
        else:
            print(f"same {rel} ({n} rows)")
    print(f"{len(set(ta) | set(tb))} tables, {diffs} differ")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
