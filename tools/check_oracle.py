"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet tables; compare row count, column names, and
order-insensitive values (floats to 9 significant digits).

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
(with query names given, only those queries are checked)
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "orders", "lineitem", "events", "documents"]


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if np.issubdtype(s.dtype, np.integer):
            df[c] = s.astype("int64")
            continue
        if s.dtype == object:
            df[c] = s.astype(str)
        elif np.issubdtype(s.dtype, np.floating):
            x = s.to_numpy(dtype=float)
            with np.errstate(divide="ignore", invalid="ignore"):
                mag = np.floor(np.log10(np.abs(x) + 1e-300))
            scale = np.power(10.0, np.clip(8 - mag, -18, 18))
            df[c] = np.round(x * scale) / scale
        elif str(s.dtype).startswith("datetime"):
            df[c] = s.astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main(sf_dir: str, only: list[str] | None = None) -> int:
    from osm_replication_rust_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("oracle-check", cpus=8, shuffle_partitions=8)
    con = duck_conn(sf_dir)

    # smoke: entry()
    edf = entrymod.entry(spark)
    erows = edf.limit(5).collect()
    print(f"entry(): ok, schema={[f.name for f in edf.schema.fields]}, sample={len(erows)} rows")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    failures = 0
    for name, fn in qs.items():
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(got)} rows")
            continue
        want = con.execute(oracles[name]).fetchdf()
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            failures += 1
        elif len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            failures += 1
        elif not g.equals(w):
            neq = (g != w).any(axis=1)
            print(f"FAIL {name}: {int(neq.sum())}/{len(g)} mismatched rows")
            print(pd.concat([g[neq].head(3), w[neq].head(3)], keys=["spark", "duckdb"]))
            failures += 1
        else:
            print(f"OK   {name}: {len(g)} rows match")
    print(f"\n{len(qs) - failures}/{len(qs)} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    # usage check: --help and unknown flags exit here, before Spark
    # starts; the arguments themselves are read positionally below
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sf_dir", nargs="?", help="parquet tables (default: the sf0.01 set)")
    p.add_argument("query", nargs="*", help="check only these queries")
    p.parse_args()
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            sys.argv[2:] or None,
        )
    )
