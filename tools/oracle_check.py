#!/usr/bin/env python3
"""Local pre-check of the driver's DuckDB-oracle compare.

Usage: oracle_check.py <sfDir> <verifyOutDir> [name,name,...]

Reads each <verifyOutDir>/<name>/ parquet (Spark result) and runs the
matching SQL from oracle_sql.json in DuckDB with views over the sfDir
tables; compares after sorting columns by name and rows by all values.
The optional third argument re-checks only the named queries. Exits 1
on any failure.
"""
import json
import os
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows):
    def key(row):
        return tuple("\x00" if v is None else repr(v) for v in row)
    return sorted(rows, key=key)


def eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def main(sf_dir, out_dir, names=None):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are DIRECTORIES of part files (the sf1
        # scaling fixture); the driver's are single files
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in names or sorted(oracle):
        sql = oracle[name]
        try:
            spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            cols_s = sorted(spark_rel.columns)
            spark_rows = con.sql(
                "SELECT " + ", ".join(f'"{c}"' for c in cols_s)
                + f" FROM '{out_dir}/{name}/*.parquet'").fetchall()
            duck_rel = con.sql(sql)
            cols_d = sorted(duck_rel.columns)
            idx = [duck_rel.columns.index(c) for c in cols_d]
            duck_rows = [tuple(r[i] for i in idx) for r in duck_rel.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: ERROR {e}", flush=True)
            n_fail += 1
            continue
        if cols_s != cols_d:
            print(f"FAIL {name}: columns {cols_s} != {cols_d}", flush=True)
            n_fail += 1
            continue
        a, b = canon(spark_rows), canon(duck_rows)
        if len(a) != len(b):
            print(f"FAIL {name}: rowcount {len(a)} != {len(b)}", flush=True)
            n_fail += 1
            continue
        bad = None
        for i, (ra, rb) in enumerate(zip(a, b)):
            if not all(eq(x, y) for x, y in zip(ra, rb)):
                bad = (i, ra, rb)
                break
        if bad:
            print(f"FAIL {name}: first diff row {bad[0]}:\n  spark={bad[1]}\n  duck ={bad[2]}",
                  flush=True)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(a)} rows, cols={cols_s})", flush=True)
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
