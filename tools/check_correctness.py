#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Runs every query in plans/queries.py on Spark AND its DuckDB oracle
over the same parquet tables, then compares row count, column names,
and an order-insensitive value multiset (floats compared at full
precision via repr — queries already round at aggregation boundaries,
so full-precision comparison stays float-noise-safe while catching the
real divergences that a 6-sig-digit canonicalization masks, e.g. a
4th-decimal rounding tie). Covers all 128 registered queries. Use
while iterating:

    python tools/check_correctness.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from esg_decarbonization_data_integration_and_data_pipline_spark.session import get_spark  # noqa: E402
from esg_decarbonization_data_integration_and_data_pipline_spark.plans.queries import REGISTRY  # noqa: E402
from esg_decarbonization_data_integration_and_data_pipline_spark.tables import TABLE_NAMES  # noqa: E402


def _canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if pd.isna(v):
        return "<NULL>"
    if isinstance(v, float):
        if v == 0:
            return "0"
        return repr(v)
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = [tuple(_canon_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.01"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = args.names or list(REGISTRY)
    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    failures = []
    for name in names:
        spec = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = spec.fn(spark, args.sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if spec.oracle is None:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, "
                  f"{time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            ddf = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok = True
        if sorted(sdf.columns) != sorted(ddf.columns):
            print(f"FAIL {name}: columns spark={sorted(sdf.columns)} "
                  f"oracle={sorted(ddf.columns)}")
            ok = False
        elif len(sdf) != len(ddf):
            print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(ddf)}")
            ok = False
        else:
            srows, drows = canon_rows(sdf), canon_rows(ddf)
            if srows != drows:
                diffs = [(a, b) for a, b in zip(srows, drows) if a != b]
                print(f"FAIL {name}: {len(diffs)} differing rows; first: "
                      f"spark={diffs[0][0]} oracle={diffs[0][1]}")
                ok = False
        if ok:
            print(f"ok   {name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)

    print(f"\n{len(names)-len(failures)}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
