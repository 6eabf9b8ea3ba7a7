"""Drive the driver contract end-to-end: entry() smoke + every
queries()[name] vs oracle_sql()[name] via DuckDB, value-compared.

Usage: python scripts/verify_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import importlib.util
import pandas as pd


def load_entry():
    spec = importlib.util.spec_from_file_location("entry_mod", "__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def duck_con(sf: str):
    con = duckdb.connect()
    for t in ["region", "nation", "supplier", "customer", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    m = load_entry()

    from olive_spark.session import get_spark

    # no console progress bar: it is drawn onto the result lines below,
    # which a `grep -v "WARN\|Stage"` over the output would then drop
    spark = get_spark(app_name="verify_contract", master="local[8]",
                      shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})

    t0 = time.time()
    res = m.entry(spark)
    rows = res.count()
    print(f"entry(): {rows} rows, schema={res.schema.simpleString()}, "
          f"{time.time()-t0:.1f}s")
    assert rows > 0

    con = duck_con(sf)
    oracles = m.oracle_sql()
    failures = []
    for name, fn in m.queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as e:
            print(f"{name:22s} SPARK ERROR: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name:22s} rows={len(sdf):6d} (no oracle; rows-only) "
                  f"{time.time()-t0:5.1f}s")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        s, o = normalize(sdf), normalize(odf)
        ok_shape = list(s.columns) == list(o.columns) and len(s) == len(o)
        ok_vals = ok_shape and s.equals(o.astype(s.dtypes.to_dict()))
        status = "MATCH" if ok_vals else "MISMATCH"
        print(f"{name:22s} rows={len(s):6d}/{len(o):6d} {status} "
              f"{time.time()-t0:5.1f}s")
        if not ok_vals:
            failures.append(name)
            if ok_shape:
                neq = (s != o).any(axis=1)
                print("  spark:\n", s[neq].head(5))
                print("  oracle:\n", o[neq].head(5))
            else:
                print(f"  spark cols={list(s.columns)} oracle cols={list(o.columns)}")
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
