#!/usr/bin/env python3
"""Dev-only self-check: replay oracle_sql.json in DuckDB against the same
parquet tables and diff with the Spark results (column-name sort, row sort,
float tolerance). Mirrors the driver's t2 gate closely enough to catch
schema/alias/value drift before a round lands. Queries that share one
oracle string share one replay; each OK/FAIL line carries the seconds the
replay took (or names the query whose replay it reused)."""
import json, sys, math, os, time
import duckdb
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = []
skipped = 0
replays = {}  # sql -> (result frame or the error it raised, seconds, first query)
def replay(name, sql):
    if sql not in replays:
        t0 = time.monotonic()
        try:
            res = con.execute(sql).df()
        except Exception as e:
            res = e
        replays[sql] = (res, time.monotonic() - t0, name)
        return replays[sql][0], f"{replays[sql][1]:.1f}s"
    res, _, first = replays[sql]
    return res, f"replay of {first}"
for name, sql in sorted(oracle.items()):
    if not os.path.exists(f"{outdir}/{name}"):
        skipped += 1; continue  # filtered Verify run — only check what was dumped
    when = "not replayed"
    try:
        got = pd.read_parquet(f"{outdir}/{name}")
        exp, when = replay(name, sql)
        if isinstance(exp, Exception): raise exp
    except Exception as e:
        fails.append((name, when, f"load/exec error: {e}")); continue
    g_cols, e_cols = sorted(got.columns), sorted(exp.columns)
    if g_cols != e_cols:
        fails.append((name, when, f"columns differ: spark={g_cols} duck={e_cols}")); continue
    got, exp = got[g_cols], exp[g_cols]
    if len(got) != len(exp):
        fails.append((name, when, f"row count differs: spark={len(got)} duck={len(exp)}")); continue
    def norm(df):
        df = df.copy()
        for c in df.columns:
            if str(df[c].dtype).startswith(("datetime", "object")):
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    g, e = norm(got), norm(exp)
    bad = None
    for c in g.columns:
        if g[c].dtype.kind == 'f' or e[c].dtype.kind == 'f':
            a = pd.to_numeric(g[c], errors="coerce")
            b = pd.to_numeric(e[c], errors="coerce")
            diff = (a - b).abs() / (b.abs().clip(lower=1.0))
            if (diff.fillna(0) > 1e-9).any():
                bad = f"col {c}: max relative diff {diff.max():.2e}"; break
        else:
            if not g[c].astype(str).equals(e[c].astype(str)):
                m = (g[c].astype(str) != e[c].astype(str))
                i = m.idxmax()
                bad = f"col {c}: first diff at row {i}: spark={g[c][i]!r} duck={e[c][i]!r}"; break
    if bad: fails.append((name, when, bad))
    else: print(f"  OK {name} ({len(got)} rows, {when})")

print()
if fails:
    for n, when, why in fails: print(f"FAIL {n} ({when}): {why}")
    sys.exit(1)
if skipped:
    print(f"all {len(oracle) - skipped} dumped oracle queries match ({skipped} not dumped, skipped)")
else:
    print(f"all {len(oracle)} oracle queries match")
