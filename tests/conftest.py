"""Shared fixtures: one SparkSession per test run, a DuckDB connection with
the driver tables registered, and a compare helper that mirrors the
driver's oracle gate (row count + sorted-column schema + order-insensitive
value comparison)."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

# the checkout these tests belong to, whatever directory it lives in
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from aws_trusted_advisor_explorer_spark.session import get_spark, load_tables

SF_DIR = "/root/testdata/sf0.001"
TABLE_NAMES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    load_tables(s, SF_DIR)
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, stringify, sort rows — the driver's compare shape."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: "NULL" if v is None or v != v else str(v))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def assert_matches_oracle(spark_df, con, oracle_sql: str, check_rows: bool = True):
    sdf = canonicalize(spark_df.toPandas())
    ddf = canonicalize(con.sql(oracle_sql).df())
    assert list(sdf.columns) == list(ddf.columns), (
        f"column mismatch:\n spark={list(sdf.columns)}\n duckdb={list(ddf.columns)}")
    assert len(sdf) == len(ddf), f"row count {len(sdf)} vs {len(ddf)}"
    if check_rows and len(sdf):
        neq = (sdf != ddf).any(axis=0)
        bad = list(neq[neq].index)
        if bad:
            c = bad[0]
            mask = sdf[c] != ddf[c]
            i = mask[mask].index[0]
            raise AssertionError(
                f"value mismatch in {bad}; first: {c}[{i}] "
                f"spark={sdf[c][i]!r} duckdb={ddf[c][i]!r}")
