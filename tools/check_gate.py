"""Local harness mimicking the driver's correctness gate.

Runs each __spark_entry__.queries()[name] at a given sf dir, runs the
matching oracle_sql() in DuckDB with the parquet tables registered as
views, and compares row count, schema (column names), and an
order-insensitive value hash (rows sorted, columns sorted by name,
floats stringified at full precision after the query's own rounding).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb
import pandas as pd

# the checkout this script lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        "|".join(norm_cell(v) for v in row) for row in df.itertuples(index=False)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main(sf_dir: str, only: list[str]):
    import __spark_entry__ as E
    from lucene_solr_old_spark.session import get_spark

    spark = get_spark("gate-check", master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        except Exception:
            pass

    qs = E.queries()
    oracles = E.oracle_sql()
    from lucene_solr_old_spark.gate import DRIVER_WINDOW
    if len(qs) > DRIVER_WINDOW:
        outside = list(qs)[DRIVER_WINDOW:]
        print(f"NOTE: {len(qs)} gates registered but the driver checks only "
              f"the first {DRIVER_WINDOW}; outside the window (must all be "
              f"previously-certified): {outside}")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"SKIP-ORACLE {name}: rows={len(sdf)}")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            continue
        ok_rows = len(sdf) == len(odf)
        ok_schema = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = frame_hash(sdf) == frame_hash(odf) if ok_schema else False
        status = "OK" if (ok_rows and ok_schema and ok_hash) else "MISMATCH"
        if status != "OK":
            failures.append(name)
        print(f"{status:8s} {name:24s} rows {len(sdf)}/{len(odf)} "
              f"schema={ok_schema} hash={ok_hash} ({time.time()-t0:.1f}s)")
        if status != "OK" and len(sdf) < 30:
            print(" spark:", sdf.to_dict("records")[:8])
            print(" duck :", odf.to_dict("records")[:8])
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.exit(main(sf, sys.argv[2:]))
