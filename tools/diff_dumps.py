#!/usr/bin/env python3
"""Cell-by-cell diff of two graft.Verify dumps.

Each query's parquet output is read from both dumps, sorted by every
column, and compared cell by cell (floats exactly, NaN == NaN). Use it
for the determinism double-run and the parallelism sweep: run Verify
twice (e.g. at SPARK_GRAFT_CPUS=2 and =4) into two dirs, then

    python3 tools/diff_dumps.py <dump_a> <dump_b>

Prints one line per query and exits non-zero when any query differs or
exists in only one dump.
"""
import os
import sys

import pandas as pd


def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def load(d, name):
    df = pd.read_parquet(os.path.join(d, name))
    cols = sorted(df.columns)
    return df[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)


def main(a, b):
    qa, qb = queries(a), queries(b)
    bad = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            print(f"{name}: only in {'a' if name in qa else 'b'}")
            bad += 1
            continue
        da, db = load(a, name), load(b, name)
        if list(da.columns) != list(db.columns) or len(da) != len(db):
            print(f"{name}: shape {da.shape} vs {db.shape}")
            bad += 1
            continue
        same = (da == db) | (da.isna() & db.isna())
        diff = int((~same).values.sum())
        print(f"{name}: {len(da)} rows, "
              + ("identical" if diff == 0 else f"{diff} cells differ"))
        bad += diff > 0
    print(f"{len(qa | qb) - bad} identical, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
