"""Local emulation of the driver's correctness gate.

Runs every queries() entry on Spark and, where an oracle exists, the
matching SQL on DuckDB over the same parquet tables; compares row count,
column names, and order-insensitive values (exact for ints/strings,
1e-9 for floats — the driver hashes exact values, so any float diff is
reported loudly).

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[ns]").astype(np.int64)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    s, o = canon(sdf), canon(odf)
    if len(s) == len(o):
        for c in s.columns:
            if np.issubdtype(s[c].dtype, np.floating) or np.issubdtype(o[c].dtype, np.floating):
                sv = s[c].astype(float).to_numpy()
                ov = o[c].astype(float).to_numpy()
                bad = ~np.isclose(sv, ov, rtol=0, atol=1e-9, equal_nan=True)
                if bad.any():
                    i = int(np.argmax(bad))
                    problems.append(f"col {c}: {int(bad.sum())} float diffs, "
                                    f"e.g. row {i}: {sv[i]!r} vs {ov[i]!r}")
                elif not (sv == ov).all():
                    n = int((sv != ov).sum())
                    problems.append(f"col {c}: {n} sub-1e-9 float diffs "
                                    f"(HASH WOULD MISMATCH)")
            else:
                if not s[c].equals(o[c]):
                    bad = s[c] != o[c]
                    i = int(np.argmax(bad.to_numpy()))
                    problems.append(f"col {c}: {int(bad.sum())} diffs, e.g. "
                                    f"row {i}: {s[c].iloc[i]!r} vs {o[c].iloc[i]!r}")
    return problems


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_out = None
    for a in sys.argv[1:]:
        if a.startswith("--json="):
            json_out = a.split("=", 1)[1]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # oracles that embed data-derived literals (IVF centroids) must be
    # generated against the SAME scale the queries run at
    import os
    os.environ["PEARS_ORACLE_SF_DIR"] = sf_dir
    results: dict = {}
    import __spark_entry__ as entrymod
    from pears_lite_spark.session import get_spark
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duck_con(sf_dir)
    fails = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": None,
                             "oracle_rows": None, "err": str(e)[:300]}
            fails += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows "
                  f"({time.time()-t0:.1f}s)")
            results[name] = {"rows_only": True, "spark_rows": len(sdf),
                             "err": None}
            continue
        try:
            odf = con.execute(oracles[name]).fetch_df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": len(sdf),
                             "oracle_rows": None,
                             "err": f"oracle: {str(e)[:300]}"}
            fails += 1
            continue
        problems = compare(name, sdf, odf)
        results[name] = {
            "rows_match": len(sdf) == len(odf),
            "schema_match": sorted(sdf.columns) == sorted(odf.columns),
            "hash_match": not problems,
            "spark_rows": len(sdf), "oracle_rows": len(odf), "err": None}
        if problems:
            fails += 1
            print(f"FAIL {name} ({len(sdf)} rows):")
            for p in problems:
                print(f"   - {p}")
        else:
            print(f"ok   {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
    # entry smoke
    if not only:
        edf = entrymod.entry(spark).toPandas()
        print(f"entry: {len(edf)} rows, schema {list(edf.columns)}")
    print("FAILURES:", fails)
    if json_out:
        import json
        with open(json_out, "w") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {json_out}")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
