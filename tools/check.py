#!/usr/bin/env python3
"""Local dev harness approximating the driver's t2 gate: for each query
output written by graft.Verify, run the oracle SQL in DuckDB over the same
sf dir and compare (columns sorted by name, rows sorted, values stringified).

Usage: python3 tools/check.py <sfDir> <outDir> [query ...]
Dev tooling only — the shipped Scala library has no Python dependency.
"""
import sys, os, json, math
import duckdb
import pyarrow as pa

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = set(sys.argv[3:])

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

con = duckdb.connect()
for t in TABLES:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def typecat(t):
    """Representation category of an arrow type. Integer WIDTHS are
    equivalent (int32 vs int64 stringify identically), but DECIMAL is its
    own category: DuckDB sum() returns HUGEINT = decimal128(38,0), whose
    values survive pandas as floats and would otherwise be collapsed by
    canon() below — the round-6 hash-fail the driver caught and this gate
    missed. See the Exact.scala oracle-authoring notes."""
    if pa.types.is_integer(t): return "int"
    if pa.types.is_floating(t): return "float"
    if pa.types.is_decimal(t): return f"decimal({t.precision},{t.scale})"
    if pa.types.is_boolean(t): return "bool"
    if pa.types.is_timestamp(t): return "ts"
    if pa.types.is_date(t): return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t): return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t): return "bin"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{typecat(t.value_type)}>"
    return str(t)

def typemap(tbl):
    return sorted((f.name, typecat(f.type)) for f in tbl.schema)

def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    def s(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return repr(v)
        if isinstance(v, bool):
            return str(v).lower()
        return str(v)
    rows = sorted(tuple(s(v) for v in row) for row in df.itertuples(index=False, name=None))
    return cols, rows

fails = []
for name in sorted(only - set(oracle)):
    print(f"NOORACLE {name} (named on the command line, not in oracle_sql.json)")
    fails.append(name)
for name in sorted(oracle):
    if only and name not in only:
        continue
    qdir = f"{outdir}/{name}"
    if not os.path.isdir(qdir):
        print(f"MISSING  {name} (no spark output)")
        fails.append(name)
        continue
    try:
        got_t = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").arrow()
        exp_t = con.execute(oracle[name]).arrow()
        got, exp = got_t.to_pandas(), exp_t.to_pandas()
    except Exception as e:
        print(f"ERROR    {name}: {str(e)[:200]}")
        fails.append(name)
        continue
    gc, gr = canon(got)
    ec, er = canon(exp)
    if gc != ec:
        print(f"SCHEMA   {name}: spark={gc} oracle={ec}")
        fails.append(name)
        continue
    gt, et = typemap(got_t), typemap(exp_t)
    if gt != et:
        diff = [(a, b) for a, b in zip(gt, et) if a != b]
        print(f"TYPEREP  {name}: {diff}")
        fails.append(name)
        continue
    if len(gr) != len(er):
        print(f"ROWCOUNT {name}: spark={len(gr)} oracle={len(er)}")
        fails.append(name)
        continue
    if gr != er:
        bad = [(a, b) for a, b in zip(gr, er) if a != b][:3]
        print(f"VALUES   {name}: {len([1 for a,b in zip(gr,er) if a!=b])}/{len(gr)} rows differ; first: {bad}")
        fails.append(name)
        continue
    print(f"OK       {name} ({len(gr)} rows)")

spark_only = sorted(set(os.listdir(outdir)) - set(oracle) - {"oracle_sql.json"}) if os.path.isdir(outdir) else []
if spark_only:
    print("rows-only (no oracle):", spark_only)
print(f"\n{len(fails)} failures" if fails else "\nall green")
sys.exit(1 if fails else 0)
