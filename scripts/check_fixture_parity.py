"""Verify every fixture raw table computes identically in Spark and DuckDB."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from aws_trusted_advisor_explorer_spark.plans import fixtures
from aws_trusted_advisor_explorer_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    spark = get_spark("fixture_parity", cpus=8)
    raw = fixtures.register_raw_tables(spark, SF_DIR)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    rc = 0
    for name, sql in fixtures.raw_table_sql().items():
        sdf = canon(raw[name].toPandas())
        ddf = canon(con.sql(sql).df())
        if sdf.shape != ddf.shape:
            print(f"FAIL {name}: shape {sdf.shape} vs {ddf.shape}")
            rc = 1
            continue
        if not sdf.equals(ddf):
            neq = (sdf != ddf).any(axis=0)
            bad_cols = list(neq[neq].index)
            print(f"FAIL {name}: value mismatch in columns {bad_cols}")
            for c in bad_cols[:3]:
                mask = sdf[c] != ddf[c]
                i = mask[mask].index[0]
                print(f"   {c}[{i}]: spark={sdf[c][i]!r} duckdb={ddf[c][i]!r}")
            rc = 1
        else:
            print(f"OK {name}: {len(sdf)} rows, {len(sdf.columns)} cols identical")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
