#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: for each query
output dumped by graft.Verify, run the matching oracle SQL in DuckDB
over the same sf parquet tables and compare rows/schema/values.

Usage: compare.py <verify_out_dir> <sf_dir> [query ...]
"""
import sys, json, glob, os
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    results = {}
    for name in sorted(oracles):
        if only and name not in only:
            continue
        sql = oracles[name]
        qdir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(qdir, "*.parquet"))
        if not files:
            results[name] = {"err": "no_spark_output"}
            continue
        try:
            spark_df = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf()
        except Exception as e:
            results[name] = {"err": f"spark_read: {e}"}
            continue
        try:
            ora_df = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = {"err": f"oracle: {type(e).__name__}: {e}"}
            continue
        r = {"spark_rows": len(spark_df), "oracle_rows": len(ora_df)}
        s_cols = sorted(spark_df.columns)
        o_cols = sorted(ora_df.columns)
        r["schema_match"] = s_cols == o_cols
        if s_cols != o_cols:
            r["cols"] = {"spark": s_cols, "oracle": o_cols}
        else:
            # numeric columns compare after coercion to a common dtype
            # (the driver hashes values, not physical parquet types)
            for c in s_cols:
                sa, sb = spark_df[c], ora_df[c]
                if sa.dtype != sb.dtype:
                    if pd.api.types.is_numeric_dtype(sa) and                        pd.api.types.is_numeric_dtype(sb):
                        spark_df[c] = sa.astype("float64")
                        ora_df[c] = sb.astype("float64")
            # pandas equality treats -0.0 == 0.0: one sign-bit column per
            # float column (False for NaN) makes a signed zero a difference
            # and orders rows that differ only in a zero's sign
            keys = list(s_cols)
            a, b = spark_df[s_cols].copy(), ora_df[s_cols].copy()
            for c in s_cols:
                if pd.api.types.is_float_dtype(a[c]) and \
                        pd.api.types.is_float_dtype(b[c]):
                    for df in (a, b):
                        v = df[c].to_numpy(dtype="float64", na_value=np.nan)
                        df["signbit(" + c + ")"] = np.signbit(v) & ~np.isnan(v)
                    keys.append("signbit(" + c + ")")
            a = a.sort_values(keys).reset_index(drop=True)
            b = b.sort_values(keys).reset_index(drop=True)
            r["rows_match"] = len(a) == len(b)
            r["hash_match"] = bool(len(a) == len(b) and a.equals(b))
            if not r["hash_match"] and len(a) == len(b):
                diff = (a != b) & ~(a.isna() & b.isna())
                bad = diff.any(axis=1)
                r["n_diff_rows"] = int(bad.sum())
                if bad.any():
                    i = bad.idxmax()
                    r["first_diff"] = {"spark": a.loc[i].to_dict(),
                                       "oracle": b.loc[i].to_dict()}
        results[name] = r
    ok = all(v.get("hash_match") for v in results.values())
    for name, v in results.items():
        status = "OK " if v.get("hash_match") else "FAIL"
        print(f"{status} {name}: {json.dumps(v, default=str)[:500]}")
    print("ALL OK" if ok else "SOME FAILED")

if __name__ == "__main__":
    main()
