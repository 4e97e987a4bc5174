#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: runs each
oracle_sql.json query in DuckDB over the same sf directory and compares
with the Spark parquet dump (columns sorted by name, rows sorted, values
hashed).

Usage: check.py <sfdir> <verify_out_dir> [--shard I/N] [queryName...]

--shard I/N checks only shard I (0-based) of N of the selected queries,
sorted by name, so the sf0.1 gate (dominated by independent DuckDB
replays) can run as N processes whose union is the unsharded result.

The summary also lists the dumped queries that have no oracle entry
(rows-only at the driver), under the same name and shard selection.
They do not affect the exit code."""
import argparse, json, sys, glob, os
import duckdb, pandas as pd, numpy as np

ap = argparse.ArgumentParser()
ap.add_argument("sfdir")
ap.add_argument("outdir")
ap.add_argument("names", nargs="*", help="check only these queries")
ap.add_argument("--shard", default="0/1", metavar="I/N")
a = ap.parse_args()
sfdir, outdir, only = a.sfdir, a.outdir, set(a.names)
shard, nshards = map(int, a.shard.split("/"))
if not 0 <= shard < nshards:
    ap.error(f"--shard {a.shard}: need 0 <= I < N")
con = duckdb.connect()
if os.environ.get("CHECK_THREADS"):
    con.execute(f"PRAGMA threads={int(os.environ['CHECK_THREADS'])}")
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
def select(keys):
    return [k for k in sorted(keys) if not only or k in only][shard::nshards]
names = select(oracle)
dumped = {os.path.basename(os.path.dirname(d)) for d in glob.glob(f"{outdir}/*/")}
unchecked = select(dumped - set(oracle))
fails = []
for name in names:
    sql = oracle[name]
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"MISSING  {name} (no spark output)"); fails.append(name); continue
    try:
        got = pd.read_parquet(f"{outdir}/{name}")
        exp = con.execute(sql).df()
    except Exception as e:
        print(f"ERROR    {name}: {e}"); fails.append(name); continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        print(f"SCHEMA   {name}: spark={list(got.columns)} oracle={list(exp.columns)}")
        fails.append(name); continue
    if len(got) != len(exp):
        print(f"ROWS     {name}: spark={len(got)} oracle={len(exp)}"); fails.append(name); continue
    g = got.sort_values(list(got.columns)).reset_index(drop=True)
    e = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    ok = True
    for c in g.columns:
        gv, ev = g[c], e[c].astype(g[c].dtype, errors="ignore") if hasattr(e[c], 'astype') else e[c]
        try:
            if gv.dtype.kind == 'f':
                # STRICT bitwise compare (mirrors the driver's hash gate):
                # the graft.Quant contract makes both engines agree exactly,
                # including -0.0 vs 0.0 and NULL placement
                a = np.asarray(gv, dtype=np.float64)
                b = np.asarray(pd.to_numeric(ev), dtype=np.float64)
                same = a.tobytes() == b.tobytes()
            else:
                same = gv.equals(ev) or (gv.astype(str) == ev.astype(str)).all()
        except Exception:
            same = False
        if not same:
            ok = False
            d = pd.DataFrame({"spark": gv, "oracle": ev})
            mism = d[d.spark.astype(str) != d.oracle.astype(str)]
            print(f"VALUES   {name}.{c}: {len(mism)} mismatched rows; head:\n{mism.head(3)}")
    if ok:
        print(f"OK       {name} ({len(got)} rows)")
    else:
        fails.append(name)
label = f"shard {shard}/{nshards}: " if nshards > 1 else ""
print(f"\n{label}{len(names)-len(fails)}/{len(names)} passed" + (f"; FAILED: {fails}" if fails else ""))
if unchecked:
    print(f"unchecked (no oracle): [{', '.join(unchecked)}]")
sys.exit(1 if fails else 0)
