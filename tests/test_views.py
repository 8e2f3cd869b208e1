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


def test_zero_guard_values(spark, ddb):
    """F8: resourcesprocessed 0→1, 10→11, 100→111, 200→211, in both
    engines."""
    from aws_trusted_advisor_explorer_spark.functions.dual import DUCK, SPARK

    guard = views._zero_guard("x")
    for d, run in ((SPARK, lambda q: spark.sql(q).collect()),
                   (DUCK, lambda q: ddb.sql(q).fetchall())):
        got = [r[0] for r in run(
            f"SELECT {guard(d, lambda _: 'x')} AS g "
            f"FROM (VALUES ('0'), ('10'), ('100'), ('200')) AS t(x)")]
        assert [str(v) for v in got] == ["1.00", "11.00", "111.00", "211.00"], d.name


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


def test_register_views_builds_no_column_trees(spark, monkeypatch):
    """Publishing renders each view as SQL text: a catalog lookup, one
    ``spark.sql`` and one temp-view registration per view, with no
    Column tree built through py4j column by column. Bound: at most 10
    py4j commands per published view. Only this thread's commands count:
    py4j's finalizer thread sends the deletes of objects freed earlier,
    once a second, whenever it wakes."""
    import threading

    from py4j.java_gateway import GatewayClient

    calls = []
    send = GatewayClient.send_command
    caller = threading.current_thread()

    def counting(self, *args, **kwargs):
        if threading.current_thread() is caller:
            calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    published = views.register_views(spark)
    monkeypatch.undo()
    assert len(published) == len(views.VIEWS)
    assert len(calls) <= 10 * len(published), len(calls)
