"""The distributed running total (functions/ranged.py): results must
not depend on the range partition count. Each range-layout key is run
with ``session.range_partitions`` forced to 1 and to more partitions
than the session has cores, and checked against its single-window SQL
form or its DuckDB oracle."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from aws_trusted_advisor_explorer_spark import session
from aws_trusted_advisor_explorer_spark.session import drop_planes
from tests.conftest import SF_DIR, assert_matches_oracle

RANGED_KEYS = (
    "docs_pack_bins", "docs_pack_efficiency",
    "docs_quality_cutoff_calibration", "docs_release_manifest",
    "docs_release_refresh", "pairs_release_manifest",
    "pairs_release_refresh",
)
RANGED_PLANES = ("release_rel_ranged", "pairs_release_rel_ranged")


def test_prefix_total_matches_window(spark):
    """prefix_total with a grouping column and a base equals the
    exclusive running-sum window shifted by the base, on a relation
    with empty range partitions and a group missing from the base."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from aws_trusted_advisor_explorer_spark.functions.ranged import (
        prefix_total, range_layout,
    )

    rows = [(g, i, (i * 7) % 5) for g in ("a", "b", "c")
            for i in range(1, 40)]
    df = spark.createDataFrame(rows, "g string, i long, x long")
    base = spark.createDataFrame([("a", 100), ("b", 5)],
                                 "g string, base long")
    ranged = range_layout(df.repartition(16), "g", "i") \
        .localCheckpoint(eager=False)
    got = prefix_total(ranged, ["i"], F.col("x"), by=["g"], base=base)
    w = (Window.partitionBy("g").orderBy("i")
         .rowsBetween(Window.unboundedPreceding, -1))
    want = (df.join(base, "g", "left").withColumn(
        "prior", F.coalesce(F.sum("x").over(w), F.lit(0))
        + F.coalesce("base", F.lit(0))))
    assert ({(r.g, r.i, r.prior) for r in got.collect()}
            == {(r.g, r.i, r.prior) for r in want.collect()})


@pytest.mark.parametrize("layout", ["one_partition", "twice_the_cores"])
def test_range_keys_independent_of_partition_count(spark, ddb, monkeypatch,
                                                   layout):
    from aws_trusted_advisor_explorer_spark.operators import corpusops

    cores = max(os.cpu_count(), spark.sparkContext.defaultParallelism)
    n_parts = 1 if layout == "one_partition" else 2 * cores
    q, o = entrymod.queries(), entrymod.oracle_sql()
    monkeypatch.setattr(session, "range_partitions", lambda _s: n_parts)
    drop_planes(spark, *RANGED_PLANES)
    try:
        for key in RANGED_KEYS:
            assert_matches_oracle(q[key](spark, SF_DIR), ddb, o[key])
        # the forced count reached the plane's layout
        pids = spark.table(corpusops.RELEASE_REL_VIEW).select("pid")
        assert pids.distinct().count() == n_parts
    finally:
        # the planes hold the forced layout; later tests rebuild them
        drop_planes(spark, *RANGED_PLANES)
