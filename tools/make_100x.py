#!/usr/bin/env python3
"""Build the 100x scale-slope corpus (two decades above the sf0.1
bench corpus): every table duplicated x100 in the same shifted-key
regime as make_10x.py — documents/embeddings get shifted ids (the
exact-duplication regime: near-dup families and vector clusters repeat
at 100x multiplicity), relational tables shift their full PK/FK chains
so join/group cardinalities scale too, events shift users so
session/window key counts scale. region/nation stay fixed (genuine
dimensions).

Usage: python3 tools/make_100x.py [src_sfdir] [out_dir]
Then:  SPARK_GRAFT_SF_DIR=<out_dir> sbt "runMain graft.Bench"
       (or graft.Dev run <query> <out_dir> 2 for per-query slopes)
"""
import duckdb, os, sys

src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1x100"
copies = int(os.environ.get("COPIES", "100"))
os.makedirs(out, exist_ok=True)
con = duckdb.connect()

def cnt(t):
    return con.execute(f"select count(*) from '{src}/{t}.parquet'").fetchone()[0]

n_doc, n_emb, n_ord = cnt("documents"), cnt("embeddings"), cnt("orders")
n_ev = cnt("events")
n_u = con.execute(f"select max(user_id)+1 from '{src}/events.parquet'").fetchone()[0]

con.execute(f"""COPY (SELECT doc_id + i*{n_doc} AS doc_id, text, lang, source, n_chars
  FROM '{src}/documents.parquet', range(0,{copies}) r(i))
  TO '{out}/documents.parquet' (FORMAT PARQUET)""")
con.execute(f"""COPY (SELECT vec_id + i*{n_emb} AS vec_id, embedding, label
  FROM '{src}/embeddings.parquet', range(0,{copies}) r(i))
  TO '{out}/embeddings.parquet' (FORMAT PARQUET)""")
con.execute(f"""COPY (SELECT event_id + i*{n_ev} AS event_id, ts,
    user_id + i*{n_u} AS user_id, event_type, value, props
  FROM '{src}/events.parquet', range(0,{copies}) r(i))
  TO '{out}/events.parquet' (FORMAT PARQUET)""")

n_supp, n_part = cnt("supplier"), cnt("part")
# derive the customer shift like every other key — a hard-coded stride
# would silently collide copies on any corpus with max custkey above it
n_cust = con.execute(f"select max(c_custkey)+1 from '{src}/customer.parquet'").fetchone()[0]
shifts = {
    "orders":   {"o_orderkey": f"o_orderkey + i*{n_ord}", "o_custkey": f"o_custkey + i*{n_cust}"},
    # the full FK chain shifts together, or part/supplier joins would
    # match only the i=0 copy and skew every probe key 100x
    "lineitem": {"l_orderkey": f"l_orderkey + i*{n_ord}",
                 "l_partkey": f"l_partkey + i*{n_part}",
                 "l_suppkey": f"l_suppkey + i*{n_supp}"},
    "customer": {"c_custkey": f"c_custkey + i*{n_cust}"},
    "supplier": {"s_suppkey": f"s_suppkey + i*{n_supp}"},
    "part":     {"p_partkey": f"p_partkey + i*{n_part}"},
}
for t, shift in shifts.items():
    cols = [c[0] for c in con.execute(f"describe select * from '{src}/{t}.parquet'").fetchall()]
    sel = ", ".join(f"{shift.get(c, c)} AS {c}" for c in cols)
    con.execute(f"COPY (SELECT {sel} FROM '{src}/{t}.parquet', range(0,{copies}) r(i)) "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)")
for t in ["region", "nation"]:
    con.execute(f"COPY (SELECT * FROM '{src}/{t}.parquet') TO '{out}/{t}.parquet' (FORMAT PARQUET)")
print("built", sorted(os.listdir(out)))
