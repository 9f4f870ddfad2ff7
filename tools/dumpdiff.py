#!/usr/bin/env python3
"""Compare two graft.Verify output directories, result set by result set.

Usage: python3 tools/dumpdiff.py <outdir_a> <outdir_b>

A result set is a `<outdir>/<name>/` directory of parquet files. Each is
reduced to a SHA-256 over its column names and types (in sorted column
order) and its rows sorted, with values taken exactly as stored. Prints
one line per result set that differs or exists on one side only, then a
summary; exits 1 on any difference, 0 when every set is identical.
"""
import glob, hashlib, os, sys

import duckdb


def result_sets(outdir):
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(f"{outdir}/*/*.parquet")}


def digest(con, setdir):
    rel = con.sql(f"SELECT * FROM parquet_scan('{setdir}/*.parquet')")
    cols = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    head = [(rel.columns[i], str(rel.types[i])) for i in cols]
    rows = sorted(repr(tuple(r[i] for i in cols)) for r in rel.fetchall())
    h = hashlib.sha256(repr(head).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    names_a, names_b = result_sets(a), result_sets(b)
    n_same = n_diff = 0
    for name in sorted(names_a | names_b):
        if name not in names_a or name not in names_b:
            side = a if name in names_a else b
            print(f"ONLY {name}: present in {side} only")
            n_diff += 1
            continue
        (ha, na), (hb, nb) = digest(con, f"{a}/{name}"), digest(con, f"{b}/{name}")
        if ha != hb:
            print(f"DIFF {name}: {na} rows {ha[:12]} vs {nb} rows {hb[:12]}")
            n_diff += 1
        else:
            n_same += 1
    print(f"\n{n_same} identical, {n_diff} different")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
