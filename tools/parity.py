#!/usr/bin/env python3
"""Local pre-check mimicking the driver's DuckDB oracle compare.

Usage: python3 tools/parity.py <sfDir> <verifyOutDir>

Reads each <out>/<name> parquet dir written by graft.Verify, runs the
matching oracle SQL from oracle_sql.json in DuckDB (tables registered
as views over <sfDir>/*.parquet), sorts columns by name + rows, and
compares values. Prints each query's oracle time (both DuckDB runs of
its SQL) and, at the end, the five slowest oracles. Dev tool only —
NOT part of the shipped library.
"""
import json
import math
import sys
import time

import duckdb
import pyarrow.parquet as pq
import pyarrow.dataset as ds

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    oracle_s = {}
    import os
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        tbl = ds.dataset(os.path.join(out_dir, name), format="parquet").to_table()
        spark_cols = list(tbl.column_names)
        spark_rows = [tuple(r[c] for c in spark_cols)
                      for r in tbl.to_pylist()]
        spark_rows = [tuple(r[c] for c in spark_cols) for r in tbl.to_pylist()]
        sc, sr = canon(spark_cols, spark_rows)
        if name not in oracle:
            print(f"  ~ {name}: rows-only ({len(sr)} rows)"
                  + (" EMPTY!" if not sr else ""))
            continue
        start = time.monotonic()
        try:
            res = con.execute(oracle[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            oracle_s[name] = time.monotonic() - start
            print(f"  ✗ {name}: oracle SQL failed after "
                  f"{oracle_s[name]:.2f} s: {e}", flush=True)
            n_fail += 1
            continue
        dc, dr = canon(dcols, drows)
        # dtype parity: the driver's compare goes through pandas, where
        # e.g. DuckDB HUGEINT becomes float64 and hash-mismatches a
        # Spark BIGINT even when values print identically (r2 bug).
        # Must run on the FULL result: pandas dtypes are value-
        # dependent (a nullable BIGINT is int64 with no nulls present
        # but float64 with them), so a LIMIT-0 probe reports types the
        # driver would never see. Dev-tool cost, fidelity first.
        duck_df = con.execute(oracle[name]).df()
        oracle_s[name] = time.monotonic() - start
        took = f"oracle {oracle_s[name]:.2f} s"
        spark_pd = tbl.to_pandas()
        dtype_diffs = {
            c: (str(spark_pd.dtypes.get(c)), str(duck_df.dtypes.get(c)))
            for c in set(duck_df.columns) | set(spark_pd.columns)
            if str(spark_pd.dtypes.get(c)) != str(duck_df.dtypes.get(c))}
        if dtype_diffs:
            print(f"  ✗ {name}: dtype mismatch (spark,duck): {dtype_diffs}; "
                  f"{took}", flush=True)
            n_fail += 1
            continue
        if sc != dc:
            print(f"  ✗ {name}: column mismatch spark={sc} duck={dc}; {took}",
                  flush=True)
            n_fail += 1
        elif sr != dr:
            n_fail += 1
            diff = [(a, b) for a, b in zip(sr, dr) if a != b]
            print((f"  ✗ {name}: {len(sr)} vs {len(dr)} rows; "
                   f"first diffs: {diff[:3]}"
                   if len(sr) == len(dr) else
                   f"  ✗ {name}: row count {len(sr)} vs {len(dr)}")
                  + f"; {took}", flush=True)
        else:
            n_pass += 1
            print(f"  ✓ {name} ({len(sr)} rows, {took})", flush=True)
    slowest = sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]
    print("slowest oracles: "
          + ", ".join(f"{n} {s:.2f} s" for n, s in slowest))
    print(f"parity: {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
