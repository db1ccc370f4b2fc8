#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL
in DuckDB over the same parquet tables and compare against the parquet
dumped by graft.Verify. Strict compare: column names (sorted), row count,
and exact values after sorting rows by all columns. If this passes, any
reasonable hash compare passes."""
import duckdb, glob, json, math, os, sys
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
# thread-hungry oracle chains (kmeans cross joins) can hit pthread_create
# EAGAIN at DuckDB's default thread count on a loaded host
con.execute(f"SET threads TO {os.environ.get('DUCK_THREADS', '8')}")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fail = 0
ran = 0
# VERIFY_JSON=path freezes the per-query results as a committed
# artifact (CORRECTNESS_SELF_rN.json) — the self-evidencing gate:
# round 11's driver-side artifact arrived empty, so the repo now
# carries its own.
report = {}

def norm(df):
    df = df[sorted(df.columns)]
    key = pd.DataFrame(index=df.index)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        if df[c].dtype == object:
            key[c] = df[c].fillna("\x00<NULL>")
        else:
            key[c] = df[c]
    order = key.sort_values(by=list(key.columns), na_position="first").index
    return df.loc[order].reset_index(drop=True)

names = sys.argv[3].split(",") if len(sys.argv) > 3 else sorted(oracle)
for name in names:
    sql = oracle[name]
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output")
        report[name] = {"status": "fail", "detail": "no spark output"}
        fail += 1
        continue
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}")
        report[name] = {"status": "fail", "detail": f"oracle error: {e}"[:300]}
        fail += 1
        continue
    ran += 1
    if sorted(got.columns) != sorted(exp.columns):
        print(f"FAIL {name}: cols spark={sorted(got.columns)} duck={sorted(exp.columns)}")
        report[name] = {"status": "fail", "detail": "column mismatch"}
        fail += 1
        continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows spark={len(got)} duck={len(exp)}")
        report[name] = {"status": "fail",
                        "detail": f"rows spark={len(got)} duck={len(exp)}"}
        fail += 1
        continue
    g, e = norm(got.copy()), norm(exp.copy())
    bad = []
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            eq = (gv.astype("float64").fillna(math.nan)
                  .combine(ev.astype("float64").fillna(math.nan),
                           lambda a, b: (a == b) or (math.isnan(a) and math.isnan(b))))
        else:
            eq = (gv.astype(object).where(pd.notna(gv), "\x00<NULL>")
                  == ev.astype(object).where(pd.notna(ev), "\x00<NULL>"))
        if not eq.all():
            i = int((~eq).idxmax())
            bad.append(f"{c}[row {i}]: spark={g[c][i]!r} duck={e[c][i]!r}")
    if bad:
        print(f"FAIL {name}: " + "; ".join(bad[:3]))
        report[name] = {"status": "fail", "detail": "; ".join(bad[:3])[:300]}
        fail += 1
    else:
        print(f"ok   {name} ({len(got)} rows)")
        report[name] = {"status": "ok", "rows": int(len(got))}

# rows-only entries (queries without oracle)
for d in sorted(glob.glob(f"{out}/*/")):
    name = os.path.basename(d.rstrip("/"))
    if name not in oracle:
        n = sum(len(pd.read_parquet(f)) for f in glob.glob(f"{d}/*.parquet"))
        print(f"rows {name}: {n} rows {'(EMPTY!)' if n == 0 else ''}")
        report[name] = {"status": "rows_only" if n > 0 else "fail",
                        "rows": int(n)}
        if n == 0:
            fail += 1

print(f"\n{ran} oracle-checked, {fail} failures")
jpath = os.environ.get("VERIFY_JSON")
if jpath:
    json.dump({"sf": sfdir, "oracle_checked": ran, "failures": fail,
               "total_dumped": len(report), "compare": "exact-value",
               "queries": report}, open(jpath, "w"), indent=1)
    print(f"wrote {jpath}")
# close before exit: a connection left to interpreter teardown can end
# the process with SIGABRT ("terminate called without an active
# exception") after a clean summary
con.close()
sys.exit(1 if fail else 0)
