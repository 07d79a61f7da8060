import duckdb, json, glob, os, sys
d = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
con = duckdb.connect()
for p in glob.glob(f"{d}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
oracle = json.load(open(f"{out}/oracle_sql.json"))
def canon(rel):
    df = rel.df()
    df = df[sorted(df.columns)]
    vals = df.astype(str).values.tolist()
    vals.sort()
    return sorted(df.columns), vals
def check(name):
    # Verify writes nothing for a query that throws
    if not glob.glob(f"{out}/{name}/*.parquet"):
        return "MISSING (no Spark output)"
    spark = con.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
    sc, sv = canon(spark); oc, ov = canon(con.sql(oracle[name]))
    if sc != oc:
        return f"SCHEMA MISMATCH spark={sc} oracle={oc}"
    if len(sv) != len(ov):
        return f"ROWCOUNT MISMATCH spark={len(sv)} oracle={len(ov)}"
    if sv != ov:
        bad = [(a, b) for a, b in zip(sv, ov) if a != b][:3]
        return f"VALUE MISMATCH rows={len(sv)} first_diffs={bad}"
    return f"values=OK rows={len(sv)}"
# walk the oracle names, not the output directories, so a query that
# produced no output is reported instead of skipped
failed = 0
for name in sorted(oracle):
    result = check(name)
    print(f"{name}: {result}")
    failed += not result.startswith("values=OK")
sys.exit(1 if failed else 0)
