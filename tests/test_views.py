"""Oracle tests for the 10 reference views (SURVEY.md §2.6), both shapes
(tag join + degraded no-tags), against DuckDB over the same fixture
derivations."""

from __future__ import annotations

import pytest

from aws_trusted_advisor_explorer_spark.plans import fixtures, views
from tests.conftest import SF_DIR, assert_matches_oracle


@pytest.fixture(scope="module", autouse=True)
def raw_tables(spark):
    fixtures.register_raw_tables(spark, SF_DIR)


@pytest.mark.parametrize("name", sorted(views.VIEWS))
def test_view_with_tags(spark, ddb, name):
    df = views.view_df(spark, name)
    assert_matches_oracle(df, ddb, views.view_oracle_sql(name))


@pytest.mark.parametrize("name", sorted(views.VIEWS))
def test_view_no_tags(spark, ddb, name):
    """Degradation path: InterestedTagKeys empty / tags table missing →
    plain typed scan (create-athena-views-lambda.py:91-93 else-branch)."""
    df = views.view_df(spark, name, with_tags=False)
    assert_matches_oracle(df, ddb, views.view_oracle_sql(name, with_tags=False))


def test_zero_guard_values(spark):
    """F8: resourcesprocessed 0→1, 10→11, 100→111, 200→211."""
    from aws_trusted_advisor_explorer_spark.functions.presto_compat import zero_guard_decimal
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("0",), ("10",), ("100",), ("200",)], ["x"])
    got = [r[0] for r in df.select(zero_guard_decimal(F.col("x")).alias("g")).collect()]
    assert [str(v) for v in got] == ["1.00", "11.00", "111.00", "211.00"]


def test_view_registration(spark):
    views.register_views(spark)
    for name in views.VIEWS:
        assert spark.table(name).count() > 0


def test_register_views_publishes_exactly_the_ingested_facts(spark):
    """register_views looks each fact up in the catalog and resolves the
    tags join once per call. In a fresh session holding two facts and no
    ``tags`` table it publishes exactly their two views, without tag
    columns; once ``tags`` is registered, the view with a join key
    carries the tag columns and the one without stays untagged."""
    ns = spark.newSession()
    raw = fixtures.register_raw_tables(ns, SF_DIR)
    facts = {"check_qch7dwoux1", "summary"}
    for name in set(raw) - facts:
        ns.catalog.dropTempView(name)
    tagged, untagged = "LowUtilizationAmazonEC2Instances_view", "summary_view"

    assert views.register_views(ns) == [tagged, untagged]
    for name in (tagged, untagged):
        assert not set(views.TAG_KEYS) & set(ns.table(name).columns), name

    raw["tags"].createOrReplaceTempView("tags")
    assert views.register_views(ns) == [tagged, untagged]
    assert set(views.TAG_KEYS) <= set(ns.table(tagged).columns)
    assert not set(views.TAG_KEYS) & set(ns.table(untagged).columns)
    assert ns.table(tagged).count() == raw["check_qch7dwoux1"].count()
