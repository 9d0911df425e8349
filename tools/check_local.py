#!/usr/bin/env python3
"""Local pre-validation mimicking the driver's correctness gate:
run graft.Verify at a given SF, run each oracle_sql.json entry in DuckDB
over the same parquet tables, and compare (columns sorted by name,
rows sorted, exact value compare + float max-diff report).

Usage: python3 tools/check_local.py [sfDir] [outDir] [--skip-verify] [--json PATH]

--json PATH writes the per-query replay verdicts as a committed-able
artifact ({"sf": ..., "queries": {name: {"ok": bool, "rows": n,
"detail": ...}}, "ok": n, "fail": n}) — VERDICT r8 #4: the dual-SF
hash-replay claim must be an artifact in-tree, not prose.
"""
import json, sys, glob, os, subprocess

import duckdb
import pandas as pd

_pos = [a for a in sys.argv[1:] if not a.startswith("--")]
JSON_OUT = None
if "--json" in sys.argv:
    JSON_OUT = sys.argv[sys.argv.index("--json") + 1]
    if JSON_OUT in _pos: _pos.remove(JSON_OUT)
SF = _pos[0] if len(_pos) > 0 else "/root/testdata/sf0.01"
OUT = _pos[1] if len(_pos) > 1 else "/tmp/verify_out"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        cwd="/root/repo", capture_output=True, text=True)
    sys.stdout.write("\n".join(l for l in r.stdout.splitlines() if "[verify]" in l or "error" in l.lower()) + "\n")
    if r.returncode != 0:
        print("VERIFY RUN FAILED"); print(r.stdout[-3000:]); print(r.stderr[-2000:]); sys.exit(1)

# Long-replay allocator hygiene (diagnosed round 11): a 217-query replay
# on one 32-thread connection exhausts vm.max_map_count (65 530) — glibc
# mmap fragmentation under DuckDB's threaded allocation churn climbs past
# 62k regions and then 16 KB mallocs fail ("Out of Memory Error: Failed
# to allocate block ... (bad allocation)" with >100 GB of real RAM free).
# threads=8 keeps the map count ~1k across the full suite (measured), and
# a periodic fresh connection caps any per-connection accumulation.
# Correctness unchanged; oracle wall time at this scale is IO-bound.
_RECONNECT_EVERY = 20
_executed = 0
con = None

def _connect():
    c = duckdb.connect()
    c.execute("SET threads=8")
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return c

def run_oracle(sql, fresh=False):
    global con, _executed
    if con is None or fresh or _executed >= _RECONNECT_EVERY:
        if con is not None:
            con.close()
        con = _connect()
        _executed = 0
    _executed += 1
    return con.execute(sql).fetchdf()

# A DuckDB allocation failure says nothing about the query: the same
# dumps have replayed clean right after one. Such a query runs once
# more, on a fresh connection, and its entry records "retried". A
# mismatch or any other error is a verdict and is never retried.
retried_names = set()

def run_oracle_retrying(name, sql):
    try:
        return run_oracle(sql)
    except duckdb.OutOfMemoryException:
        print(f"RETRY {name}")
        retried_names.add(name)
        return run_oracle(sql, fresh=True)

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
ok = fail = 0
report = {}
for name in sorted(oracle):
    sql = oracle[name]
    res_dir = f"{OUT}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark result written"); fail += 1
        report[name] = {"ok": False, "detail": "no spark result written"}; continue
    try:
        mine = pd.read_parquet(res_dir)
        want = run_oracle_retrying(name, sql)
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {str(e)[:200]}"); fail += 1
        report[name] = {"ok": False, "detail": f"{type(e).__name__}: {str(e)[:200]}"}; continue
    mine = mine[sorted(mine.columns)]
    want = want[sorted(want.columns)]
    if list(mine.columns) != list(want.columns):
        print(f"FAIL {name}: columns {list(mine.columns)} != {list(want.columns)}"); fail += 1
        report[name] = {"ok": False, "detail": f"columns {list(mine.columns)} != {list(want.columns)}"}; continue
    if len(mine) != len(want):
        print(f"FAIL {name}: rows {len(mine)} != {len(want)}"); fail += 1
        report[name] = {"ok": False, "detail": f"rows {len(mine)} != {len(want)}"}; continue
    mine = mine.sort_values(by=list(mine.columns)).reset_index(drop=True)
    want = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    mismatch = []
    for c in mine.columns:
        a, b = mine[c], want[c]
        try:
            ka, kb = a.dtype.kind, b.dtype.kind
            # dtype drift: the driver hashes TYPED values, so an integer
            # column on one side and a float/decimal on the other (e.g.
            # DuckDB sum(<int>) -> HUGEINT, rendered float64 by fetchdf)
            # is a driver hash-fail even when values match. Round 2's two
            # hash-fails slipped through exactly here.
            if ka in "iu" and kb == "f" or ka == "f" and kb in "iu":
                mismatch.append(f"{c}: dtype drift {a.dtype} vs {b.dtype} (driver hashes typed values)")
                continue
            # null masks first: NaN diffs are skipped by .max(skipna),
            # so a NULL-vs-value row would otherwise pass silently
            na, nb = a.isna(), b.isna()
            if not na.equals(nb):
                n = int((na != nb).sum())
                mismatch.append(f"{c}: {n} rows differ in nullness")
                continue
            a, b = a[~na], b[~na]
            if ka == "f" or kb == "f":
                diff = (a.astype(float) - b.astype(float)).abs().max()
                if len(a) > 0 and diff > 0:
                    mismatch.append(f"{c}: max float diff {diff}")
            else:
                if not a.astype(str).equals(b.astype(str)):
                    n = (a.astype(str) != b.astype(str)).sum()
                    mismatch.append(f"{c}: {n} differing values e.g. {a[a.astype(str)!=b.astype(str)].head(2).tolist()} vs {b[a.astype(str)!=b.astype(str)].head(2).tolist()}")
        except Exception as e:
            mismatch.append(f"{c}: compare error {e}")
    if mismatch:
        print(f"FAIL {name}: " + "; ".join(mismatch[:4])); fail += 1
        report[name] = {"ok": False, "rows": len(mine), "detail": "; ".join(mismatch[:4])}
    else:
        print(f"OK   {name}: {len(mine)} rows x {len(mine.columns)} cols"); ok += 1
        report[name] = {"ok": True, "rows": len(mine), "cols": len(mine.columns)}
for name in retried_names:
    report[name]["retried"] = True
print(f"\n{ok} ok, {fail} fail")
if JSON_OUT:
    with open(JSON_OUT, "w") as f:
        json.dump({"sf": SF, "n": ok + fail, "ok": ok, "fail": fail,
                   "queries": report}, f, indent=1, sort_keys=True)
    print(f"wrote {JSON_OUT}")
sys.exit(1 if fail else 0)
