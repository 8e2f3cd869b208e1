"""Partitioned table writers (SURVEY.md §2.2 K1-K4).

The reference writes CSV to ``<layer>/<table>/<yyyy>/<m>/<d>/``
(extract-ta-data-lambda.py:110-114, extract-tag-data-lambda.py:141) and
lets a Glue crawler discover partitions. Here the writer IS the catalog
step: explicit ``year/month/day`` partition columns + ``partitionBy`` so
date predicates prune at the source — the reference's views filter the
``datetime`` STRING column and get no pruning (SURVEY.md §4 row 1);
adding real partition columns is the scale fix.

Parquet is the default at 100 TB (columnar, pushdown, stats); CSV stays
as the reference-compatible interchange format. Raw column names carry
spaces/'-'/'/', which parquet field names reject — ``parquet_safe`` holds
a reversible rename policy applied on write and undone on read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

_SAFE = [(" ", "_sp_"), ("/", "_sl_"), ("-", "_dash_")]


def parquet_safe(name: str) -> str:
    for ch, tok in _SAFE:
        name = name.replace(ch, tok)
    return name


def parquet_unsafe(name: str) -> str:
    for ch, tok in _SAFE:
        name = name.replace(tok, ch)
    return name


def with_run_partitions(df: DataFrame) -> DataFrame:
    """Derive year/month/day partition columns from the run ``datetime``
    string."""
    return (df
            .withColumn("year", F.substring("datetime", 1, 4))
            .withColumn("month", F.substring("datetime", 6, 2))
            .withColumn("day", F.substring("datetime", 9, 2)))


def write_raw_table(df: DataFrame, path: str, fmt: str = "parquet",
                    mode: str = "overwrite") -> StructType:
    """K1+K3: land a raw table date-partitioned. Empty input writes no data
    files (the reference's len(rows)>1 guard is native here). Returns the
    schema of the frame written (renamed columns and partition columns
    included).

    ``mode="append"`` is the month-over-month accumulation path (the
    reference's monthly cron lands a NEW date prefix each run and never
    rewrites old ones); each run's partition values are distinct, so
    append adds partitions without touching history."""
    out = with_run_partitions(df)
    if fmt in ("parquet", "orc"):
        # one shared path: ORC field names share parquet's
        # no-special-chars restriction, so both get the safe rename
        out = out.toDF(*[parquet_safe(c) for c in out.columns])
        getattr(out.write.mode(mode).partitionBy("year", "month", "day"),
                fmt)(path)
    elif fmt == "csv":
        (out.write.mode(mode).option("header", True)
         .partitionBy("year", "month", "day").csv(path))
    else:
        raise ValueError(f"unsupported format {fmt}")
    return out.schema


def read_raw_table(spark: SparkSession, path: str, fmt: str = "parquet",
                   keep_partitions: bool = False,
                   merge_schema: bool = False) -> DataFrame:
    """Read back a raw table, undoing the parquet-safe rename.

    The year/month/day layout columns are dropped by default so the
    schema stays reference-faithful; pass ``keep_partitions=True`` (and
    filter on them before anything else) to get partition pruning.

    ``merge_schema=True`` models the Glue crawler's UPDATE_IN_DATABASE
    schema-change policy (SURVEY.md §1.3/S7): when a later month lands
    MORE columns (a newly interesting tag key pivots into the tags
    table), the union schema is reconstructed across partitions and
    earlier months read NULL for the new column — exactly what the
    crawler's re-crawl does to the catalog table. Off by default: the
    footer merge touches every file's metadata, so steady-state reads
    (stable schema) skip it and evolving tables pay it explicitly."""
    if fmt == "parquet":
        df = spark.read.option("mergeSchema", merge_schema).parquet(path)
    elif fmt == "orc":
        df = spark.read.option("mergeSchema", merge_schema).orc(path)
    else:
        df = spark.read.option("header", True).csv(path)
    return _raw_columns(df, keep_partitions)


def _raw_columns(df: DataFrame, keep_partitions: bool = False) -> DataFrame:
    if not keep_partitions:
        df = df.drop("year", "month", "day")
    return df.toDF(*[parquet_unsafe(c) for c in df.columns])


def land_raw_table(spark: SparkSession, df: DataFrame, path: str,
                   fmt: str = "parquet") -> DataFrame:
    """Write ``df`` with :func:`write_raw_table` and read it back as
    :func:`read_raw_table` does. Parquet and ORC are read with the
    schema just written (every field nullable, as a file read makes
    it), so no footer-inference job runs; CSV keeps the header read,
    since an explicit schema would change its all-string column types."""
    written = write_raw_table(df, path, fmt=fmt)
    if fmt == "csv":
        return read_raw_table(spark, path, fmt=fmt)
    schema = StructType([StructField(f.name, f.dataType) for f in written])
    return _raw_columns(spark.read.schema(schema).format(fmt).load(path))
