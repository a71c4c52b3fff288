#!/usr/bin/env python3
"""Local pre-flight mirror of the driver's t2 correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`: loads each
<outDir>/<name> parquet (Spark result), runs the matching oracle SQL from
<outDir>/oracle_sql.json in DuckDB over the same sf dir, and compares
row count, schema (column names), and values (columns sorted by name,
rows sorted, floats rounded).

Usage: python3 tools/check_correctness.py <sfDir> <outDir>
"""
import json
import math
import sys

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize float-ish columns
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main() -> int:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # "__only" marks a partial (SPARK_GRAFT_VERIFY_ONLY) dump — surface it
    only = oracle.pop("__only", None)
    if only:
        print(f"NOTE partial verify run (__only={only})")
    # "__extra_conf" records SPARK_GRAFT_EXTRA_CONF overrides the dump ran under
    extra_conf = oracle.pop("__extra_conf", None)
    if extra_conf:
        print(f"NOTE verify run under SPARK_GRAFT_EXTRA_CONF overrides (__extra_conf={extra_conf})")
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_fail = 0
    norm = {"int64": "BIGINT", "int32": "INTEGER", "double": "DOUBLE",
            "string": "VARCHAR", "large_string": "VARCHAR", "float": "FLOAT",
            "bool": "BOOLEAN"}
    for name in sorted(oracle):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_fail += 1
            continue
        # strict type parity: pandas canonicalization below would mask
        # e.g. INT32-vs-BIGINT drift (row_number differs across engines)
        try:
            import glob as _glob
            import pyarrow.parquet as _pq
            pf = _glob.glob(f"{out_dir}/{name}/*.parquet")
            sschema = {f.name: str(f.type) for f in _pq.ParquetFile(pf[0]).schema_arrow}
            dd = con.execute(
                f"DESCRIBE SELECT * FROM ({oracle[name]}) LIMIT 0").df()
            dschema = dict(zip(dd.column_name, dd.column_type))
            for c, t in sschema.items():
                if norm.get(t, t) != dschema.get(c, "MISSING"):
                    print(f"WARN {name}: type drift on {c}: spark={t} "
                          f"oracle={dschema.get(c)}")
        except Exception:
            pass
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {str(e)[:200]}")
            n_fail += 1
            continue
        g, e_ = canon(got), canon(exp)
        if list(g.columns) != list(e_.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e_.columns)}")
            n_fail += 1
            continue
        if len(g) != len(e_):
            print(f"FAIL {name}: rows {len(g)} vs {len(e_)}")
            n_fail += 1
            continue
        mismatch = None
        for c in g.columns:
            a, b = g[c].tolist(), e_[c].tolist()
            for i, (x, y) in enumerate(zip(a, b)):
                xnan = isinstance(x, float) and math.isnan(x)
                ynan = isinstance(y, float) and math.isnan(y)
                if x is None and y is None or (xnan and ynan):
                    continue
                if isinstance(x, float) or isinstance(y, float):
                    if x is None or y is None or abs(float(x) - float(y)) > 1e-9:
                        mismatch = (c, i, x, y)
                        break
                elif str(x) != str(y):
                    mismatch = (c, i, x, y)
                    break
            if mismatch:
                break
        if mismatch:
            c, i, x, y = mismatch
            print(f"FAIL {name}: col {c} row {i}: spark={x!r} oracle={y!r}")
            n_fail += 1
        else:
            print(f"OK   {name}: {len(g)} rows")
    print(f"{'ALL GREEN' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
