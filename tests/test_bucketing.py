"""Raw-table sinks: the date-partitioned parquet/ORC round trips, the
crawler's schema-evolution policy, and the session's scale configs."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_trusted_advisor_explorer_spark.sinks import writers


def test_partitioned_write_round_trip(spark, tmp_path):
    df = spark.table("documents").limit(50).select(
        "doc_id",
        F.lit("2025-06-01 09:00:00").alias("datetime"),
        F.col("text").alias("doc text"))  # space -> parquet_safe path
    writers.write_raw_table(df, str(tmp_path / "t"))
    back = writers.read_raw_table(spark, str(tmp_path / "t"))
    assert set(back.columns) == {"doc_id", "datetime", "doc text"}
    assert back.count() == 50


def test_schema_evolution_across_months(spark, tmp_path):
    """S7 crawler schema-change policy (UPDATE_IN_DATABASE), modeled:
    month 2 lands an ADDITIONAL pivoted tag column; merge_schema read
    reconstructs the union schema with NULL backfill for month 1, and
    partition pruning on month still works on the evolved table."""
    path = str(tmp_path / "tags")
    m1 = spark.createDataFrame(
        [("r1", "2025-05-01 09:00:00", "prod"),
         ("r2", "2025-05-01 09:00:00", "dev")],
        ["resourceid", "datetime", "env"])
    m2 = spark.createDataFrame(
        [("r1", "2025-06-01 09:00:00", "prod", "core"),
         ("r3", "2025-06-01 09:00:00", "dev", "data")],
        ["resourceid", "datetime", "env", "team"])
    writers.write_raw_table(m1, path)
    writers.write_raw_table(m2, path, mode="append")

    merged = writers.read_raw_table(spark, path, merge_schema=True)
    assert set(merged.columns) == {"resourceid", "datetime", "env", "team"}
    rows = {r.resourceid + r.datetime[5:7]: r.team for r in merged.collect()}
    assert rows == {"r105": None, "r205": None, "r106": "core", "r306": "data"}

    pruned = writers.read_raw_table(spark, path, keep_partitions=True,
                                    merge_schema=True)
    one_month = pruned.filter("month = '06'")
    assert one_month.count() == 2
    scan = one_month._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in scan and "month" in scan.split(
        "PartitionFilters")[1][:120]


def test_orc_round_trip(spark, tmp_path):
    """ORC is the second columnar interchange format (same safe-rename
    and partition layout policy as parquet). Its read-back with the
    written schema equals the inferring read."""
    df = spark.table("documents").limit(40).select(
        "doc_id",
        F.lit("2025-06-01 09:00:00").alias("datetime"),
        F.col("text").alias("doc text"))
    landed = writers.land_raw_table(spark, df, str(tmp_path / "t_orc"), fmt="orc")
    back = writers.read_raw_table(spark, str(tmp_path / "t_orc"), fmt="orc")
    assert ([(f.name, f.dataType) for f in landed.schema]
            == [(f.name, f.dataType) for f in back.schema])
    assert sorted(map(tuple, landed.collect())) == sorted(map(tuple, back.collect()))
    assert set(back.columns) == {"doc_id", "datetime", "doc text"}
    assert back.count() == 40
    assert ({r.doc_id for r in back.collect()} ==
            {r.doc_id for r in df.collect()})


def test_session_scale_configs(spark):
    """The session factory locks the measured tunings: 64MB dimension
    broadcast headroom (tags-dim joins) and an enlarged generated-class
    cache (no recompile churn across the full query surface)."""
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == str(64 * 1024 * 1024)
    assert spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold") == str(64 * 1024 * 1024)
    # r12: 8000 — the 202-key suite's per-pass codegen working set
    # exceeded the 2000-entry LRU (pass-start recompile stalls)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8000"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

