#!/usr/bin/env python3
"""Result-identity check between two graft.Verify output dirs.

    python3 tools/verify_diff.py <parent_out> <change_out> [key1,key2,...]

Each dir holds one parquet output per query key (as graft.Verify writes
them). The two dirs must hold the same key set, and every key must have
the same schema (column names in order, DuckDB types) and the same rows,
compared as sorted multisets (row order ignored; NaN equals NaN). Prints
one line per key and exits 0 only when every compared key is identical.
"""
import os
import sys

import duckdb
import pandas as pd


def keys_of(out):
    return {k for k in os.listdir(out) if os.path.isdir(os.path.join(out, k))}


def load(con, out, key):
    rel = con.sql(f"SELECT * FROM read_parquet('{os.path.join(out, key)}/*.parquet')")
    schema = list(zip(rel.columns, map(str, rel.types)))
    return schema, rel.order("ALL").df()


def diff_key(con, a, b, key):
    sa, da = load(con, a, key)
    sb, db = load(con, b, key)
    if sa != sb:
        return f"schema {sa} != {sb}"
    if len(da) != len(db):
        return f"rows {len(da)} != {len(db)}"
    for c in da.columns:
        ca, cb = da[c].reset_index(drop=True), db[c].reset_index(drop=True)
        if ca.dtype.kind == "f" or cb.dtype.kind == "f":
            same = (ca == cb) | (ca.isna() & cb.isna())
        else:
            same = pd.Series([repr(x) == repr(y) for x, y in zip(ca, cb)], dtype=bool)
        if not same.all():
            i = int((~same).values.argmax())
            return f"col {c}: {int((~same).sum())} diffs; row {i}: {ca[i]!r} != {cb[i]!r}"
    return None


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    ka, kb = keys_of(a), keys_of(b)
    keys = sys.argv[3].split(",") if len(sys.argv) > 3 else sorted(ka | kb)
    con = duckdb.connect()
    bad = 0
    for k in keys:
        if k not in ka or k not in kb:
            why = f"missing from {a if k not in ka else b}"
        else:
            why = diff_key(con, a, b, k)
        print(f"[{'DIFF' if why else 'same'}] {k}" + (f": {why}" if why else ""))
        bad += bool(why)
    print(f"{len(keys) - bad} identical, {bad} differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
