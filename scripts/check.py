#!/usr/bin/env python3
"""Local differential check mimicking the driver's DuckDB oracle gate.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>
Reads each <verifyOutDir>/<name>/ parquet (Spark result) and runs the
matching oracle_sql.json query in DuckDB over <sfDir>'s tables, then
compares: row count, column names (sorted), and values (rows sorted by all
columns). Reports exact mismatches and max numeric deltas. A result with no
oracle fails. A row whose Spark result and oracle result are both empty
prints EMPTY, not PASS: it matches, but shows nothing. It is counted apart
and does not change the exit status.

The top-level invocation forks itself per batch of queries: this box's
sandbox starts failing small mallocs once a long-lived process has churned
through a couple hundred DuckDB/pyarrow queries (allocator state, not real
memory pressure — RSS stays <1GB), so each batch gets a fresh process.
"""
import json, sys, glob, os, subprocess

BATCH = 40

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def connect(sf_dir):
    import duckdb
    con = duckdb.connect()
    # threads capped too: the sandbox enforces a process-wide thread
    # budget and DuckDB's default (=nproc) trips EAGAIN under load
    con.execute("SET memory_limit='8GB'; SET threads=8")
    for tname in ["region","nation","customer","supplier","part","orders",
                  "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{tname}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{p}')")
    return con

def run_batch(sf_dir, out_dir, names):
    import pandas as pd
    import numpy as np
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_empty = 0
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL  {name}: no spark output", flush=True); n_fail += 1; continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
        if name not in oracle:
            print(f"FAIL  {name}: no oracle", flush=True); n_fail += 1; continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}", flush=True); n_fail += 1; continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(e.columns)}", flush=True)
            n_fail += 1; continue
        if len(g) != len(e):
            print(f"FAIL  {name}: rows {len(g)} vs {len(e)}", flush=True); n_fail += 1; continue
        if len(g) == 0:
            print(f"EMPTY {name}: rows=0 on both sides", flush=True); n_empty += 1; continue
        bad = []
        for c in g.columns:
            gc, ec = g[c], e[c]
            # Representation-strict: the driver hashes canonical string forms,
            # so int64 "12" vs float64 "12.0" is a driver mismatch even when
            # the values are equal. Fail on integer-vs-float dtype skew here
            # so local green predicts driver green (r10 lesson: 4 queries were
            # locally "value-exact" but driver-red purely on this skew).
            g_int = pd.api.types.is_integer_dtype(gc)
            e_int = pd.api.types.is_integer_dtype(ec)
            g_flt = pd.api.types.is_float_dtype(gc)
            e_flt = pd.api.types.is_float_dtype(ec)
            if (g_int and e_flt) or (g_flt and e_int):
                bad.append(f"{c} (DTYPE-SKEW spark={gc.dtype} oracle={ec.dtype}:"
                           f" cast the oracle expr, e.g. CAST(... AS BIGINT))")
                continue
            if g_flt or e_flt:
                gv = gc.astype(float).to_numpy(); ev = ec.astype(float).to_numpy()
                both_nan = np.isnan(gv) & np.isnan(ev)
                neq = ~both_nan & (gv != ev)
                if neq.any():
                    d = np.nanmax(np.abs(gv[neq] - ev[neq]))
                    bad.append(f"{c} (maxdiff={d:.3e}, n={neq.sum()})")
            else:
                gs = gc.astype(str); es = ec.astype(str)
                neq = (gs != es) & ~(gc.isna() & ec.isna())
                if neq.any():
                    i = neq.idxmax()
                    bad.append(f"{c} (n={neq.sum()}, e.g. {gc[i]!r} vs {ec[i]!r})")
        if bad:
            print(f"FAIL  {name}: value mismatch: {'; '.join(bad)}", flush=True); n_fail += 1
        else:
            print(f"PASS  {name}: rows={len(g)}", flush=True); n_pass += 1
    return n_pass, n_fail, n_empty

def main(sf_dir, out_dir):
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    if len(names) <= BATCH:
        n_pass, n_fail, n_empty = run_batch(sf_dir, out_dir, names)
        print(f"\n== {n_pass} pass, {n_fail} fail, {n_empty} empty ==")
        return 1 if n_fail else 0
    n_pass = n_fail = n_empty = 0
    for i in range(0, len(names), BATCH):
        chunk = names[i:i + BATCH]
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), sf_dir, out_dir,
             "--batch", ",".join(chunk)],
            capture_output=True, text=True)
        sys.stdout.write(r.stdout)
        # A child that died mid-batch (uncaught exception, OOM-kill,
        # allocator abort) still exits 1 like a normal some-fail run —
        # so completion is judged per NAME, not per exit code: every
        # query in the chunk must have produced its own status line,
        # and anything missing is an explicit failure.
        seen = set()
        for line in r.stdout.splitlines():
            parts = line.split()
            if len(parts) >= 2 and parts[0] in ("PASS", "FAIL", "EMPTY"):
                seen.add(parts[1].rstrip(":"))
                if parts[0] == "PASS": n_pass += 1
                elif parts[0] == "FAIL": n_fail += 1
                else: n_empty += 1
        missing = [n for n in chunk if n not in seen]
        if missing:
            sys.stderr.write(r.stderr)
            for n in missing:
                print(f"FAIL  {n}: checker subprocess died before reaching it "
                      f"(rc={r.returncode})")
            n_fail += len(missing)
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_empty} empty ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    if len(sys.argv) >= 5 and sys.argv[3] == "--batch":
        n_pass, n_fail, _ = run_batch(sys.argv[1], sys.argv[2], sys.argv[4].split(","))
        sys.exit(1 if n_fail else 0)
    sys.exit(main(sys.argv[1], sys.argv[2]))
