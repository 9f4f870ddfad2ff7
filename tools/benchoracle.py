#!/usr/bin/env python3
"""Time each DuckDB oracle query at a given sf — the mechanical side of
BASELINE.md's "within 2x of the identical-algorithm DuckDB oracle at
the same sf" gate. Invoked by graft.Bench after its query loop (the
trained-state sidecars are written by the same session first); can
also be run standalone against a Verify outdir's oracle_sql.json.

Usage: python3 tools/benchoracle.py <sfdir> <oracle_sql.json> <out.txt> [budget_s]

Writes one line per query to <out.txt>: `<name> <seconds>` with
seconds = -1 for a failed oracle and -2 for one skipped because the
overall budget was spent. Stdout/stderr carry progress only.
"""
import sys, json, os, re, time

import duckdb

# Sidecar-based oracle SQL embeds the absolute oracle_aux root of the
# checkout that ran Verify, at sf0.01. Point every such path at this
# checkout's sidecars for the sf being checked.
AUX_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "target", "oracle_aux")
AUX_PREFIX = re.compile(r"'[^']*/oracle_aux/sf0\.01/")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main():
    sfdir, sqljson, outpath = sys.argv[1], sys.argv[2], sys.argv[3]
    budget = float(sys.argv[4]) if len(sys.argv) > 4 else 900.0
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(sqljson))
    sfbase = os.path.basename(sfdir.rstrip("/"))
    t_start = time.time()
    lines = []
    for name, sql in oracle.items():
        sql = AUX_PREFIX.sub(f"'{AUX_ROOT}/{sfbase}/", sql)
        if time.time() - t_start > budget:
            lines.append(f"{name} -2")
            continue
        t0 = time.time()
        try:
            con.execute(sql).fetchall()
            dt = time.time() - t0
            lines.append(f"{name} {dt:.3f}")
            print(f"[oracle] {name:<28} {dt:8.2f} s", file=sys.stderr)
        except Exception as e:
            lines.append(f"{name} -1")
            print(f"[oracle] {name:<28} FAILED {str(e)[:120]}", file=sys.stderr)
    with open(outpath, "w") as f:
        f.write("\n".join(lines) + "\n")

if __name__ == "__main__":
    main()
