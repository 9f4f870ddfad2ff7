#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/localverify.py [sfdir] [outdir]

Assumes `sbt "runMain graft.Verify <sfdir> <outdir>"` already produced
<outdir>/<name>/ parquet dirs + <outdir>/oracle_sql.json. Runs each
oracle SQL in DuckDB over views of the testdata tables, then compares
(sorted columns, sorted rows) against the Spark parquet output.
"""
import sys, json, glob, os, re
import duckdb

# Sidecar-based oracle SQL embeds the absolute oracle_aux root of the
# checkout that ran Verify, at sf0.01. Point every such path at this
# checkout's sidecars for the sf being checked.
AUX_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "target", "oracle_aux")
AUX_PREFIX = re.compile(r"'[^']*/oracle_aux/sf0\.01/")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if hasattr(v, "tolist"):  # numpy array
        return tuple(norm(x) for x in v.tolist())
    return v

def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    # Sidecar-based oracles read the sf0.01 aux path (the static SQL has
    # no directory parameter). When replicating the gate at another
    # scale, point them at the sidecars Verify just wrote for THIS sf.
    sfbase = os.path.basename(sfdir.rstrip("/"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        sql = AUX_PREFIX.sub(f"'{AUX_ROOT}/{sfbase}/", sql)
        spark_dir = f"{outdir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = con.execute(
                f"SELECT * FROM parquet_scan('{spark_dir}/*.parquet')").df()
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:200]}"); n_fail += 1; continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if [c.lower() for c in gc] != [c.lower() for c in wc]:
            print(f"FAIL {name}: columns {gc} vs {wc}"); n_fail += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); n_fail += 1; continue
        grows = sorted(tuple(norm(v) for v in r) for r in got[gc].itertuples(index=False))
        wrows = sorted(tuple(norm(v) for v in r) for r in want[wc].itertuples(index=False))
        if grows != wrows:
            bad = [(g, w) for g, w in zip(grows, wrows) if g != w][:3]
            print(f"FAIL {name}: value mismatch, e.g. {bad}")
            n_fail += 1
            continue
        # dtype check (warn only): driver may hash schemas strictly
        dt = [(c, str(got[c].dtype), str(want[c].dtype)) for c in gc
              if str(got[c].dtype) != str(want[c].dtype)]
        extra = f"  [dtype diff: {dt}]" if dt else ""
        print(f"PASS {name} ({len(got)} rows){extra}")
        n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
