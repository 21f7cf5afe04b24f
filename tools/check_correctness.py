"""Local mimic of the driver's correctness gate: run every
__spark_entry__ query at sf0.01 AND its DuckDB oracle, compare
row-count / column names / values (order-insensitive, float-rounded).

Usage: python tools/check_correctness.py [sf_dir] [query ...]

Query ids are checked against the registry before Spark starts; any
unknown id exits 2 and names it, so a mistyped id never passes by
running nothing.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from protosc_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    unknown = sorted(only - set(entrymod.queries()))
    if unknown:
        print(f"unknown query ids: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            status = "ROWS-ONLY"
            print(f"{status:9s} {name}: {len(got)} rows  ({time.time()-t0:.1f}s)")
            if len(got) == 0:
                failures.append(name)
            continue
        want = con.execute(oracles[name]).df()
        g, w = normalize(got), normalize(want)
        ok_rows = len(g) == len(w)
        ok_cols = list(g.columns) == list(w.columns)
        ok_vals = False
        if ok_rows and ok_cols:
            try:
                pd.testing.assert_frame_equal(
                    g, w, check_dtype=False, check_exact=False, atol=1e-6
                )
                ok_vals = True
            except AssertionError as e:
                msg = str(e)[:300]
        if ok_rows and ok_cols and ok_vals:
            print(f"OK        {name}: {len(g)} rows  ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
            print(
                f"FAIL      {name}: rows {len(g)}/{len(w)} cols_ok={ok_cols} "
                f"vals_ok={ok_vals}"
            )
            if ok_rows and ok_cols:
                print("   " + msg.replace("\n", " | "))
            else:
                print(f"   spark cols: {list(g.columns)}")
                print(f"   duck  cols: {list(w.columns)}")
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
