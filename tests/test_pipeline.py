"""End-to-end pipeline test (SURVEY.md §5.2 item 2): API-shaped docs →
raw layer on disk → views registered → view over freshly-ingested data
matches DuckDB over the same written files."""

from __future__ import annotations

import pytest

from aws_trusted_advisor_explorer_spark import pipeline, registry
from aws_trusted_advisor_explorer_spark.sinks import writers
from aws_trusted_advisor_explorer_spark.sources import tag_api
from tests.conftest import assert_matches_oracle


def _eip_doc(i: int, run: str):
    return {
        "AccountId": f"6100000000{i:02d}", "AccountName": f"Account {i}",
        "AccountEmail": f"acct{i}@example.com",
        "Date": "08-01-2025", "DateTime": run,
        "CheckName": "Unassociated Elastic IP Addresses",
        "result": {
            "checkId": "Z4AUBRNSmz", "status": "warning",
            "resourcesSummary": {"resourcesProcessed": 10 * i, "resourcesFlagged": i,
                                 "resourcesIgnored": 0, "resourcesSuppressed": 0},
            "categorySpecificSummary": {"costOptimizing": {
                "estimatedMonthlySavings": 1.5 * i,
                "estimatedPercentMonthlySavings": 0.01 * i}},
            "flaggedResources": [
                {"status": "warning", "region": "us-east-1",
                 "metadata": ["us-east-1", f"52.0.{i}.{j}"]} for j in range(3)
            ],
        },
    }


def test_ingest_to_views(spark, ddb, tmp_path):
    docs = [_eip_doc(i, "2025-08-01 09:00:00") for i in range(1, 4)]
    docs.append(_eip_doc(9, "2025-07-01 09:00:00"))
    # a check with zero flagged resources writes no detail file
    empty = _eip_doc(5, "2025-08-01 09:00:00")
    empty["result"]["flaggedResources"] = []
    empty["result"]["checkId"] = "hjLMh88uM8"
    docs.append(empty)

    out = pipeline.run_ingest(spark, docs, str(tmp_path / "lake"))
    assert "check_z4aubrnsmz" in out
    assert "check_hjlmh88um8" not in out          # empty → not written
    assert out["check_z4aubrnsmz"].count() == 12  # 4 docs × 3 resources
    assert out["summary"].count() == 5

    # partition layout on disk: year/month/day directories
    base = tmp_path / "lake" / "check_z4aubrnsmz"
    assert (base / "year=2025" / "month=08" / "day=01").exists()
    assert (base / "year=2025" / "month=07" / "day=01").exists()

    # view over the freshly ingested raw table matches DuckDB on the same files
    pipeline.publish_views(spark, with_tags=False)
    vdf = spark.table("UnassociatedElasticIPAddresses_view")
    ddb.sql(f"CREATE OR REPLACE VIEW _ingested AS SELECT * FROM read_parquet('{base}/**/*.parquet', hive_partitioning=false)")
    oracle = """
        SELECT "date", "datetime", checkname, status, region,
               "ip_sp_address" AS "ip address", accountid, accountname,
               accountemail,
               strptime(substr("datetime", 1, 19), '%Y-%m-%d %H:%M:%S') AS date_time
        FROM _ingested
    """
    assert_matches_oracle(vdf, ddb, oracle)


def _long_tags(spark):
    rows = [
        ("08-01-2025", "2025-08-01 09:00:00", "610000000001", "Account 1",
         "a1@example.com", "us-east-1", "ec2:instance",
         "arn:aws:ec2:us-east-1:610000000001:instance/i-0001", "env", "prod"),
        ("08-01-2025", "2025-08-01 09:00:00", "610000000001", "Account 1",
         "a1@example.com", "us-east-1", "ec2:instance",
         "arn:aws:ec2:us-east-1:610000000001:instance/i-0001", "env", "dev"),  # last wins
        ("08-01-2025", "2025-08-01 09:00:00", "610000000001", "Account 1",
         "a1@example.com", "us-east-1", "ec2:instance",
         "arn:aws:ec2:us-east-1:610000000001:instance/i-0001", "costcenter", "cc-1"),
        ("08-01-2025", "2025-08-01 09:00:00", "610000000001", "Account 1",
         "a1@example.com", "us-east-1", "rds:db",
         "arn:aws:rds:us-east-1:610000000001:db:mydb", "env", "staging"),
    ]
    cols = ["Date", "DateTime", "AccountId", "AccountName", "AccountEmail",
            "RegionName", "ResourceType", "ResourceArn", "key", "value",
            "ResourceId"]
    return spark.createDataFrame(
        [r + (tag_api._resource_id(r[7]),) for r in rows], cols)


def test_tag_pivot_pipeline(spark, tmp_path):
    long_tags = _long_tags(spark)
    wide = pipeline.run_tag_ingest(spark, long_tags, ["env", "costcenter"],
                                   str(tmp_path / "lake"))
    got = {r["resourceid"]: r for r in wide.collect()}
    assert got["i-0001"]["costcenter"] == "cc-1"
    # last-write-wins deterministically: ingest order is stamped before
    # the shuffle (max_by on _ingest_ord), so the later 'dev' row wins
    assert got["i-0001"]["env"] == "dev"
    assert got["mydb"]["env"] == "staging"          # ':'-path ARN extraction
    assert got["mydb"]["costcenter"] is None


def test_arn_extraction_p7():
    cases = [
        ("arn:aws:ec2:us-east-1:1:instance/i-abc", "i-abc"),
        ("arn:aws:rds:us-east-1:1:db:mydb", "mydb"),
        ("no-separators-at-all", ""),
        ("trailing/slash/", ""),
        ("a:b/c:d", "c:d"),  # '/' pattern wins even if ':' comes later
    ]
    assert [tag_api._resource_id(a) for a, _ in cases] == [e for _, e in cases]


def _ec2_doc(run_date: str, run_dt: str, instance_meta: list[list[str]]):
    return {
        "AccountId": "610000000001", "AccountName": "Account 1",
        "AccountEmail": "a1@example.com",
        "Date": run_date, "DateTime": run_dt,
        "CheckName": "Low Utilization Amazon EC2 Instances",
        "result": {
            "checkId": "Qch7DwouX1", "status": "warning",
            "resourcesSummary": {"resourcesProcessed": 10, "resourcesFlagged": 3,
                                 "resourcesIgnored": 0, "resourcesSuppressed": 0},
            "categorySpecificSummary": {"costOptimizing": {
                "estimatedMonthlySavings": 12.34,
                "estimatedPercentMonthlySavings": 0.1}},
            "flaggedResources": [
                {"status": "warning", "region": m[0][:-1], "metadata": m}
                for m in instance_meta
            ],
        },
    }


def test_s6_fetch_to_ec2_view_end_to_end(spark, tmp_path):
    """S6 end-to-end (VERDICT r1 #4): P11 work list → mapInPandas tag
    fetcher (pluggable transport, TagFilters pushdown, retry) → P8
    pivot → tags table → EC2 view joins the fetched tags. Also proves
    the pushdown contract: the un-requested 'team' tag never leaves the
    source, and transient transport failures are retried."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.plans import views
    from aws_trusted_advisor_explorer_spark.sources import ta_api

    acct = ("610000000001", "Account 1", "a1@example.com")
    run_date, run_dt = "08-01-2025", "2025-08-01 09:00:00"

    types_df = spark.createDataFrame([("ec2:instance",)], ["ResourceType"])
    regions = ta_api.regions_df(spark, ["us-east-1", "us-west-2"])
    identity = spark.createDataFrame(
        [(run_date, run_dt) + acct],
        ["Date", "DateTime", "AccountId", "AccountName", "AccountEmail"])
    work = (types_df.crossJoin(regions).crossJoin(identity)
            .repartition(1))

    def arn(region, iid):
        return f"arn:aws:ec2:{region}:610000000001:instance/{iid}"

    transport = tag_api.FixtureTransport({
        (acct[0], "us-east-1", "ec2:instance"): [
            {"ResourceARN": arn("us-east-1", "i-0001"),
             "Tags": [{"Key": "env", "Value": "prod"},
                      {"Key": "costcenter", "Value": "cc-1"},
                      {"Key": "team", "Value": "not-requested"}]},
            {"ResourceARN": arn("us-east-1", "i-0002"),
             "Tags": [{"Key": "env", "Value": "dev"}]},
        ],
        (acct[0], "us-west-2", "ec2:instance"): [
            {"ResourceARN": arn("us-west-2", "i-0003"),
             "Tags": [{"Key": "costcenter", "Value": "cc-9"}]},
        ],
    }, page_size=1, fail_first=2)

    long_tags = tag_api.fetch_tags(work, ["env", "costcenter"], transport,
                                   max_retries=3, backoff_s=0.0)
    got = {(r.ResourceId, r.key): r.value for r in long_tags.collect()}
    assert got == {("i-0001", "env"): "prod",
                   ("i-0001", "costcenter"): "cc-1",
                   ("i-0002", "env"): "dev",
                   ("i-0003", "costcenter"): "cc-9"}  # no 'team' rows

    pipeline.run_tag_ingest(spark, long_tags, ["env", "costcenter"],
                            str(tmp_path / "lake"))

    meta = [
        ["us-east-1a", "i-0001", "web-1", "t3.large", "$12.34"]
        + [f"{d}.0%" for d in range(1, 15)] + ["2.3%", "4.52%", "14"],
        ["us-east-1a", "i-0002", "web-2", "t3.small", "$3.21"]
        + [f"{d}.0%" for d in range(1, 15)] + ["9.9%", "1.23%", "10"],
        ["us-west-2b", "i-0003", "db-1", "m5.large", "$45.00"]
        + [f"{d}.0%" for d in range(1, 15)] + ["7.7%", "2.25%", "12"],
    ]
    pipeline.run_ingest(spark, [_ec2_doc(run_date, run_dt, meta)],
                        str(tmp_path / "lake2"))

    vdf = views.view_df(spark, "LowUtilizationAmazonEC2Instances_view",
                        with_tags=True)
    rows = {r["instance id"]: r for r in vdf.collect()}
    assert set(rows) == {"i-0001", "i-0002", "i-0003"}
    assert rows["i-0001"]["env"] == "prod"
    assert rows["i-0001"]["costcenter"] == "cc-1"
    assert rows["i-0002"]["env"] == "dev"
    assert rows["i-0002"]["costcenter"] is None
    assert rows["i-0003"]["costcenter"] == "cc-9"
    # retry really happened: first two transport calls raised
    assert transport.fail_first == 2


def _two_check_docs():
    """Docs of two checks (EIP, EC2) over two runs: three tables."""
    meta = [["us-east-1a", f"i-000{i}", f"web-{i}", "t3.large", "$1,234.50"]
            + [f"{d}.0%" for d in range(1, 15)] + ["2.3%", "4.52%", "14"]
            for i in range(1, 4)]
    return ([_eip_doc(i, "2025-08-01 09:00:00") for i in range(1, 3)]
            + [_eip_doc(3, "2025-07-01 09:00:00"),
               _ec2_doc("08-01-2025", "2025-08-01 09:00:00", meta)])


def test_ingest_read_back_matches_the_inferred_schema(spark, tmp_path):
    """Every table run_ingest and run_tag_ingest return, read back with
    the schema just written, has the column names and types the
    footer-inferring read of the same path finds."""
    lake = tmp_path / "lake"
    out = pipeline.run_ingest(spark, _two_check_docs(), str(lake))
    assert list(out) == ["check_qch7dwoux1", "check_z4aubrnsmz", "summary"]
    out["tags"] = pipeline.run_tag_ingest(spark, _long_tags(spark),
                                          ["env", "costcenter"], str(lake))
    for name, df in out.items():
        inferred = writers.read_raw_table(spark, str(lake / name))
        assert ([(f.name, f.dataType) for f in df.schema]
                == [(f.name, f.dataType) for f in inferred.schema]), name


def test_ingest_jobs_keep_the_callers_job_group(spark, tmp_path):
    """The pooled table units run their jobs under the caller's job
    group: the group holds at least one job per written table, and the
    call starts no job outside it (so a traced key's counts and a
    group cancel reach every unit)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup("ingest-group-test", "run_ingest")
    try:
        out = pipeline.run_ingest(spark, _two_check_docs(), str(tmp_path / "lake"))
    finally:
        sc._jsc.clearJobGroup()
    assert len(st.getJobIdsForGroup("ingest-group-test")) >= len(out) == 3
    assert set(st.getJobIdsForGroup(None)) <= ungrouped


def test_ingest_raises_a_failed_table_write(spark, tmp_path, monkeypatch):
    """A unit that fails in the pool fails run_ingest with its own
    error, and no table of that run is registered."""
    real = writers.write_raw_table

    def write(df, path, **kw):
        if path.endswith("check_qch7dwoux1"):
            raise RuntimeError("planted write failure")
        return real(df, path, **kw)

    monkeypatch.setattr(writers, "write_raw_table", write)
    spark.catalog.dropTempView("check_qch7dwoux1")
    with pytest.raises(RuntimeError, match="planted write failure"):
        pipeline.run_ingest(spark, _two_check_docs(), str(tmp_path / "lake"))
    assert not spark.catalog.tableExists("check_qch7dwoux1")


def test_ingest_runs_with_pinned_threads_off(spark, tmp_path, monkeypatch):
    """With pinned threads off, PySpark's ``inheritable_thread_target``
    returns the session it was given instead of a wrapper; run_ingest
    then runs its units unwrapped rather than calling the session."""
    monkeypatch.setattr(pipeline, "inheritable_thread_target", lambda f: f)
    out = pipeline.run_ingest(spark, _two_check_docs(), str(tmp_path / "lake"))
    assert list(out) == ["check_qch7dwoux1", "check_z4aubrnsmz", "summary"]
    assert out["check_z4aubrnsmz"].count() == 9
