#!/usr/bin/env python3
"""CI-style gate hygiene: did every registered query ship a verify export?

Round 9 registered two queries (`sql_lateral`, `text_zipf`) in the final
commits without regenerating target/verify_out, so they reached the
driver with no locally-proven output. This check makes that gap loud:

  python3 scripts/gate_hygiene.py [verifyOutDir]     # default target/verify_out

Failures (exit 1):
  - an oracle_sql.json key with no <out>/<name>/ parquet dir (registered
    but never exported);
  - a query dir whose newest parquet is OLDER than the last commit that
    touched src/main/scala (code moved, export didn't — stale evidence).
Warnings (exit 0): dirs with no oracle entry (check.py fails them).
"""
import json, os, subprocess, sys

def scan_dtype_skew(out_dir, names, sf_dir):
    """Compare each Spark export's column dtypes against the dtypes the
    oracle SQL would produce in DuckDB (schema-only: LIMIT 0, so cheap even
    at sf0.001). Returns [(name, col, spark_dtype, oracle_dtype)] for every
    integer-vs-float pair — the exact skew the driver's hash rejects."""
    try:
        import duckdb, pandas as pd, pyarrow.parquet as pq
    except ImportError as e:
        print(f"WARN  dtype-skew scan skipped ({e})")
        return []
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET memory_limit='4GB'; SET threads=4")
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = []
    for name in names:
        d = os.path.join(out_dir, name)
        pf = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        if not pf:
            continue
        spark_schema = pq.read_schema(os.path.join(d, pf[0]))
        sdt = {spark_schema.field(i).name: str(spark_schema.field(i).type)
               for i in range(len(spark_schema))}
        try:
            exp = con.execute(
                f"SELECT * FROM ({oracle[name]}) LIMIT 0").df()
        except Exception as e:
            # the full checker will report oracle errors; not a skew issue
            continue
        for col in exp.columns:
            if col not in sdt:
                continue
            o_flt = pd.api.types.is_float_dtype(exp[col])
            o_int = pd.api.types.is_integer_dtype(exp[col])
            s_int = sdt[col].startswith("int") or sdt[col].startswith("uint")
            s_flt = sdt[col] in ("float", "double", "halffloat")
            if (s_int and o_flt) or (s_flt and o_int):
                out.append((name, col, sdt[col], str(exp[col].dtype)))
    con.close()
    return out

def main(out_dir):
    oracle_path = os.path.join(out_dir, "oracle_sql.json")
    if not os.path.exists(oracle_path):
        print(f"FAIL  no {oracle_path} — run graft.Verify first")
        return 1
    oracle = set(json.load(open(oracle_path)))
    dirs = {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}
    rc = 0
    for name in sorted(oracle - dirs):
        print(f"FAIL  {name}: oracle registered but no verify export")
        rc = 1
    for name in sorted(dirs - oracle):
        print(f"WARN  {name}: export without oracle (check.py fails it)")
    # stale exports: newer code than evidence
    try:
        code_t = int(subprocess.run(
            ["git", "log", "-1", "--format=%ct", "--", "src/main/scala"],
            capture_output=True, text=True).stdout.strip() or "0")
    except Exception:
        code_t = 0
    stale = []
    for name in sorted(dirs & oracle):
        d = os.path.join(out_dir, name)
        newest = max((os.path.getmtime(os.path.join(d, f))
                      for f in os.listdir(d)), default=0)
        if newest < code_t:
            stale.append(name)
    if stale:
        rc = 1
        print(f"FAIL  {len(stale)} exports predate the last src commit "
              f"(re-run Verify): {', '.join(stale[:8])}"
              + (" …" if len(stale) > 8 else ""))
    # dtype-skew scan: the driver hashes canonical string forms, so an
    # integer column on one side rendered float on the other ("12" vs
    # "12.0") is a driver red even when values match. DuckDB SUM over
    # integers returns HUGEINT -> pandas float64; catch any oracle whose
    # schema would skew against the Spark export (r10: 4 such queries).
    sf_dir = os.environ.get("GATE_SF_DIR", "/root/testdata/sf0.001")
    skew = scan_dtype_skew(out_dir, sorted(dirs & oracle), sf_dir)
    if skew:
        rc = 1
        for name, col, sdt, odt in skew:
            print(f"FAIL  {name}: dtype skew on '{col}' spark={sdt} "
                  f"oracle={odt} — CAST the oracle expr (AS BIGINT)")
    # per-family runtime budget (VERDICT r10 #10): a family that blows its
    # sf0.1 budget should surface here, not in the driver tail. Opt-in via
    # --bench <BENCH json line file> since timings need a bench run.
    bench = None
    if "--bench" in sys.argv:
        bench = sys.argv[sys.argv.index("--bench") + 1]
    if bench and os.path.exists(bench):
        over = check_family_budgets(bench)
        for fam, tot, cap in over:
            rc = 1
            print(f"FAIL  family '{fam}' runtime {tot:.1f}s exceeds its "
                  f"{cap}s sf0.1 budget (scripts/family_budgets.json)")
    if rc == 0:
        print(f"OK    {len(oracle)} oracles, {len(dirs)} exports, none stale")
    return rc

def check_family_budgets(bench_path):
    """Aggregate BENCH per-query seconds by name prefix (q* rows fold into
    'tpch') and return [(family, total, budget)] for every family over its
    scripts/family_budgets.json cap."""
    line = open(bench_path).read()
    data = json.loads(line[line.index("{"):])
    budgets = json.load(open(os.path.join(os.path.dirname(__file__),
                                          "family_budgets.json")))
    # probe-normalize: the bench's constant-work probe moves with box
    # drift exactly as every family does, so scaling by _probe_ref/probe
    # (clamped to a [0.5, 2] correction) compares the family against its
    # budget as if run on the reference box — a 1.3x-noisy box no longer
    # false-fails every family at once, and a genuinely 2x-fast box
    # still flags a family that regressed into its old budget.
    scale = 1.0
    probe = data.get("probe_sec")
    ref = budgets.get("_probe_ref")
    if isinstance(probe, (int, float)) and probe > 0 and \
       isinstance(ref, (int, float)) and ref > 0:
        scale = min(2.0, max(0.5, ref / probe))
    totals = {}
    for q, t in data.get("queries", {}).items():
        if not isinstance(t, (int, float)) or t < 0:
            continue
        fam = "tpch" if q[0] == "q" and q[1].isdigit() else q.split("_")[0]
        totals[fam] = totals.get(fam, 0.0) + t * scale
    return [(f, tot, budgets[f]) for f, tot in sorted(totals.items())
            if f in budgets and tot > budgets[f]]

if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "target/verify_out"))
