#!/usr/bin/env python3
"""Replicates the driver's DuckDB oracle compare (dev tool, not part of
the Scala library): registers the sf tables as DuckDB views, runs every
oracle_sql.json entry, and diffs column-sorted/row-sorted stringified
results against the Verify parquet dumps.

Usage: python3 tools/oracle_check.py [sfDir] [verifyOutDir]
Defaults: /root/testdata/sf0.01 /tmp/verify_out
(uses the driver-side python env: duckdb + pandas)

Exits 1 when any dump is a MISMATCH, an ORACLE_SQL_ERROR or rows_only (no
oracle); an oracle with no dump dir is counted as missing_dump but does not
fail the run, since SPARK_GRAFT_VERIFY_ONLY runs dump only some entries.
"""
import sys
import duckdb, json, glob, os, sys
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
tables = ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]

con = duckdb.connect()
for t in tables:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
results = {}
for name in sorted(os.listdir(out)):
    d = os.path.join(out, name)
    if not os.path.isdir(d):
        continue
    files = glob.glob(f"{d}/*.parquet")
    spark_df = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    if name not in oracle:
        results[name] = {"status": "rows_only", "rows": len(spark_df)}
        continue
    try:
        oracle_df = con.execute(oracle[name]).df()
    except Exception as e:
        results[name] = {"status": "ORACLE_SQL_ERROR", "err": str(e)[:200]}
        continue
    # sort columns by name
    s = spark_df[sorted(spark_df.columns)].copy()
    o = oracle_df[sorted(oracle_df.columns)].copy()
    schema_match = list(s.columns) == list(o.columns)
    rows_match = len(s) == len(o)
    hash_match = False
    detail = ""
    if schema_match and rows_match:
        # normalize: stringify everything, sort rows
        def norm(df):
            df2 = df.copy()
            for c in df2.columns:
                df2[c] = df2[c].map(lambda v: repr(v))
            return df2.sort_values(by=list(df2.columns)).reset_index(drop=True)
        sn, on_ = norm(s), norm(o)
        hash_match = sn.equals(on_)
        if not hash_match:
            neq = (sn != on_).any(axis=1)
            idx = sn.index[neq][:3]
            detail = f"first diffs: spark={sn.loc[idx].to_dict('records')} oracle={on_.loc[idx].to_dict('records')}"
    else:
        detail = f"spark_cols={list(s.columns)} oracle_cols={list(o.columns)} spark_rows={len(s)} oracle_rows={len(o)}"
    results[name] = {"status": "OK" if (schema_match and rows_match and hash_match) else "MISMATCH",
                     "schema": schema_match, "rows": rows_match, "hash": hash_match, "detail": detail[:500]}

# an oracle whose entry has no dump dir: the entry failed in Verify, or a
# SPARK_GRAFT_VERIFY_ONLY subset run skipped it; reported, never fatal
missing = sorted(set(oracle) - set(results))
for name in missing:
    print(name, json.dumps({"status": "missing_dump"}))
counts = {k: sum(1 for r in results.values() if r["status"] == k)
          for k in ("OK", "MISMATCH", "ORACLE_SQL_ERROR", "rows_only")}
print(f"\n{counts['OK']} OK / {counts['MISMATCH']} MISMATCH / "
      f"{counts['ORACLE_SQL_ERROR']} ORACLE_SQL_ERROR / {counts['rows_only']} rows_only / "
      f"{len(missing)} missing_dump")
# a dump the oracle disagrees with, cannot run against, or does not cover fails the check
sys.exit(1 if counts["MISMATCH"] or counts["ORACLE_SQL_ERROR"] or counts["rows_only"] else 0)
