"""Empirical check: the SQL subset used by the fixture layer computes
bit-identical results in Spark SQL and DuckDB on the driver's parquet.

Everything oracle-checked rests on this: the fixture CTEs (plans/fixtures.py)
run verbatim in both engines, so every function here must agree.
"""

from __future__ import annotations

import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from aws_trusted_advisor_explorer_spark.session import get_spark, load_tables

SF_DIR = "/root/testdata/sf0.001"

# Common-dialect expressions over `orders` — each must produce identical
# values in both engines.
EXPRS = [
    ("o_orderkey", "pk"),
    ("cast(o_orderkey as string)", "int_to_str"),
    ("lpad(cast(o_orderkey as string), 17, '0')", "lpad_str"),
    ("'i-' || lpad(cast(o_orderkey as string), 17, '0')", "concat_pipes"),
    ("substr('abcdefgh', 2, 3)", "substr_lit"),
    ("substr(cast(o_orderkey as string), 1, 3)", "substr_col"),
    ("replace(cast(o_orderkey as string), '0', '1')", "replace3"),
    ("o_orderkey % 7", "modulo"),
    ("cast(floor(o_totalprice) as bigint)", "floor_bigint"),
    ("cast(floor(o_totalprice) as bigint) % 10000", "floor_mod"),
    ("case when o_orderkey % 3 = 0 then 'a' else 'b' end", "case_when"),
    # decimal must be cast to double at the output boundary: Spark renders
    # decimal(10,4) as '12.3400' while duckdb's pandas path gives float
    ("cast(cast('12.34' as decimal(10,4)) as double)", "dec_cast_lit"),
    ("cast(cast(cast(cast(floor(o_totalprice) as bigint) % 1000 as string) || '.25' as decimal(18,2)) as double)", "dec_cast_built"),
    ("o_totalprice", "raw_double"),
    ("cast(sum(cast(o_totalprice as decimal(18,2))) over () as double)", "dec_sum_win"),
    ("rtrim('12.34  ')", "rtrim_lit"),
    ("upper(o_orderpriority)", "upper_col"),
    ("length(o_orderpriority)", "length_col"),
    ("cast(o_orderkey % 10 as string) || '.' || cast(o_orderkey % 7 as string) || '%  Low'", "cpu_str"),
    # timestamp read from parquet, formatted to string
    ("cast(o_orderdate as date)", "ts_to_date"),
    ("year(o_orderdate)", "ts_year"),
    ("month(o_orderdate)", "ts_month"),
    ("day(o_orderdate)", "ts_day"),
]


def main() -> int:
    spark = get_spark("dialect_parity", cpus=4)
    load_tables(spark, SF_DIR, names=("orders",))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM '{SF_DIR}/orders.parquet'")

    select = ", ".join(f"{e} AS {a}" for e, a in EXPRS)
    q = f"SELECT {select} FROM orders ORDER BY o_orderkey LIMIT 500"

    sdf = spark.sql(q).toPandas()
    ddf = con.sql(q).df()

    failures = []
    for _, alias in EXPRS:
        s = sdf[alias].astype(str).tolist()
        d = ddf[alias].astype(str).tolist()
        if s != d:
            bad = next((i, a, b) for i, (a, b) in enumerate(zip(s, d)) if a != b)
            failures.append((alias, bad))
    # timestamp parse parity (dialect-specific but must agree in value)
    sts = spark.sql(
        "SELECT to_timestamp('2025-08-01 09:30:00', 'yyyy-MM-dd HH:mm:ss') AS t"
    ).toPandas()["t"].astype(str).tolist()
    dts = con.sql(
        "SELECT strptime('2025-08-01 09:30:00', '%Y-%m-%d %H:%M:%S') AS t"
    ).df()["t"].astype(str).tolist()
    if sts != dts:
        failures.append(("ts_parse", (0, sts[0], dts[0])))

    if failures:
        for alias, (i, a, b) in failures:
            print(f"MISMATCH {alias} row {i}: spark={a!r} duckdb={b!r}")
        return 1
    print(f"OK: {len(EXPRS) + 1} expressions identical across engines over 500 rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
