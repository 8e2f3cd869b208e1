"""Bucketed co-located join (SCALE.md pattern): joining two tables
bucketed on the same key with equal bucket counts must produce a plan
with NO shuffle exchange on either side."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from aws_trusted_advisor_explorer_spark.sinks import writers


def test_bucketed_join_has_no_shuffle(spark):
    docs = spark.table("documents").select("doc_id", "n_chars")
    stats = spark.table("documents").select(
        "doc_id", F.length("text").alias("n_len"))

    with tempfile.TemporaryDirectory() as tmp:
        writers.write_bucketed_table(
            docs, "b_docs", ["doc_id"], n_buckets=8,
            sort_cols=["doc_id"], path=f"{tmp}/b_docs")
        writers.write_bucketed_table(
            stats, "b_stats", ["doc_id"], n_buckets=8,
            sort_cols=["doc_id"], path=f"{tmp}/b_stats")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # at test scale the planner rightly broadcasts the tiny side
            # (which skips bucketing); disable broadcast to exercise the
            # big-join path bucketing exists for
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = spark.table("b_docs").join(
                spark.table("b_stats"), "doc_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, (
                f"bucketed join still shuffles:\n{plan}")
            assert "SortMergeJoin" in plan
            n = joined.count()
            assert n == spark.table("documents").count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS b_docs")
            spark.sql("DROP TABLE IF EXISTS b_stats")


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


def _assert_no_shuffle(df, label):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ("ShuffleExchange" not in plan
            and "Exchange hashpartitioning" not in plan), (
        f"{label} still shuffles:\n{plan}")
    return plan


def test_bucketed_merge_cdc_full_outer_is_shuffle_free(spark):
    """docs_merge_cdc's scale claim, demonstrated: with the snapshot
    AND the change feed bucketed on doc_id (equal bucket counts), the
    MERGE's full-outer equi-join plans with NO exchange on either side
    — and the merged actions equal the unbucketed plan's."""
    snap = spark.table("documents").select("doc_id", "text")
    feed = spark.sql("""
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op,
          'v2 ' || text AS new_text
        FROM documents WHERE doc_id % 5 = 0""")

    def merge(s, c):
        return (s.join(c, "doc_id", "full_outer")
                .selectExpr(
                    "doc_id",
                    "CASE WHEN op = 'delete' THEN 'delete' "
                    "WHEN op IS NOT NULL AND text IS NOT NULL "
                    "THEN 'update' "
                    "WHEN op IS NOT NULL THEN 'insert' ELSE 'keep' "
                    "END AS action",
                    "coalesce(new_text, text) AS out_text")
                .where("action <> 'delete'"))

    want = {(r.doc_id, r.action, r.out_text)
            for r in merge(snap, feed).collect()}
    with tempfile.TemporaryDirectory() as tmp:
        writers.write_bucketed_table(snap, "b_snap", ["doc_id"],
                                     n_buckets=8, sort_cols=["doc_id"],
                                     path=f"{tmp}/b_snap")
        writers.write_bucketed_table(feed, "b_feed", ["doc_id"],
                                     n_buckets=8, sort_cols=["doc_id"],
                                     path=f"{tmp}/b_feed")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # a real daily feed broadcasts; disable to exercise the
            # co-located big-to-big merge path the claim is about
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            merged = merge(spark.table("b_snap"), spark.table("b_feed"))
            plan = _assert_no_shuffle(merged, "bucketed MERGE")
            assert "SortMergeJoin FullOuter" in plan or "FullOuter" in plan
            got = {(r.doc_id, r.action, r.out_text)
                   for r in merged.collect()}
            assert got == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS b_snap")
            spark.sql("DROP TABLE IF EXISTS b_feed")


def test_bucketed_embedding_integrity_audit_is_shuffle_free(spark):
    """docs_embedding_integrity's co-location claim, demonstrated:
    documents bucketed on doc_id and embeddings bucketed on vec_id
    (same bucket count) full-outer join + one-row audit with no
    exchange under the join — only the final single-row aggregate
    exchanges, which is the irreducible minimum."""
    docs = spark.table("documents").select("doc_id")
    vecs = spark.table("embeddings").select("vec_id")
    with tempfile.TemporaryDirectory() as tmp:
        writers.write_bucketed_table(docs, "b_docs2", ["doc_id"],
                                     n_buckets=8, sort_cols=["doc_id"],
                                     path=f"{tmp}/b_docs2")
        writers.write_bucketed_table(vecs, "b_vecs", ["vec_id"],
                                     n_buckets=8, sort_cols=["vec_id"],
                                     path=f"{tmp}/b_vecs")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = spark.table("b_docs2").join(
                spark.table("b_vecs"),
                F.col("doc_id") == F.col("vec_id"), "full_outer")
            _assert_no_shuffle(joined, "bucketed integrity join")
            audit = joined.selectExpr(
                "count(doc_id) AS n_docs", "count(vec_id) AS n_vecs",
                "sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL "
                "THEN 1 ELSE 0 END) AS n_matched").collect()[0]
            n_docs = spark.table("documents").count()
            n_vecs = spark.table("embeddings").count()
            assert (audit.n_docs, audit.n_vecs) == (n_docs, n_vecs)
            assert audit.n_matched == spark.sql(
                "SELECT count(*) n FROM documents d JOIN embeddings e "
                "ON e.vec_id = d.doc_id").collect()[0].n
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS b_docs2")
            spark.sql("DROP TABLE IF EXISTS b_vecs")
