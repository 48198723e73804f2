#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check.py [sf_dir] [out_dir]
  1. (caller ran)  sbt "runMain graft.Verify <sf_dir> <out_dir>"
  2. this script:  for each <out_dir>/<name> parquet + oracle_sql.json
                   entry, run the SQL in DuckDB over views named after
                   the tables in <sf_dir>, sort columns by name, sort
                   rows, compare values exactly.
  When Verify wrote <out_dir>/verify_manifest.json, every query it
  marks "failed" (oracle-less ones included) is reported as FAIL too.
Exits 1 if any query fails.
"""
import json
import os
import sys

import duckdb
import pandas as pd

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main() -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    oracle = json.load(open(f"{OUT_DIR}/oracle_sql.json"))
    failed = []
    manifest_path = f"{OUT_DIR}/verify_manifest.json"
    manifest = json.load(open(manifest_path)) if os.path.exists(manifest_path) else {}
    threw = {n: e for n, e in manifest.items() if e["status"] == "failed"}
    for name in sorted(threw):
        print(f"FAIL {name}: Verify: {threw[name]['error']}")
    for name, sql in sorted(oracle.items()):
        if name in threw:
            failed.append(name)
            continue
        try:
            spark_df = canon(con.execute(
                f"SELECT * FROM read_parquet('{OUT_DIR}/{name}/*.parquet')").df())
            duck_df = canon(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: error {e}")
            failed.append(name)
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"FAIL {name}: columns spark={list(spark_df.columns)} duck={list(duck_df.columns)}")
            failed.append(name)
            continue
        if len(spark_df) != len(duck_df):
            print(f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}")
            failed.append(name)
            continue
        bad = None
        for c in spark_df.columns:
            a, b = spark_df[c], duck_df[c]
            try:
                if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                    eq = ((a.astype("float64") == b.astype("float64"))
                          | (a.isna() & b.isna()))
                    if not eq.all():
                        d = (a.astype("float64") - b.astype("float64")).abs().max()
                        bad = f"col {c}: float mismatch max|diff|={d}"
                        break
                else:
                    ae, be = a.astype(str), b.astype(str)
                    if not (ae == be).all():
                        i = (ae != be).idxmax()
                        bad = f"col {c}: row {i}: spark={a[i]!r} duck={b[i]!r}"
                        break
            except Exception as e:  # noqa: BLE001
                bad = f"col {c}: compare error {e}"
                break
        if bad:
            print(f"FAIL {name}: {bad}")
            failed.append(name)
        else:
            print(f"PASS {name} ({len(spark_df)} rows)")
    print(f"\n{len(oracle) - len(failed)}/{len(oracle)} queries pass")
    unchecked = sorted(set(threw) - set(oracle))
    if unchecked:
        print(f"{len(unchecked)} query(ies) without an oracle failed in Verify: "
              + ", ".join(unchecked))
    return 1 if failed or unchecked else 0


if __name__ == "__main__":
    sys.exit(main())
