"""Extract-plane tests (P1-P6, S1-S5, K1-K3): API-shaped fixture docs →
raw tables, with every reference edge case from FIXTURES.md."""

from __future__ import annotations

import pytest

from aws_trusted_advisor_explorer_spark import registry
from aws_trusted_advisor_explorer_spark.operators import extract as X
from aws_trusted_advisor_explorer_spark.sources import ta_api


def _doc(check_id="Z4AUBRNSmz", check_name="Unassociated Elastic IP Addresses",
         flagged=None, cost_optimizing=True, status="warning"):
    d = {
        "AccountId": "610000000001", "AccountName": "Account 1",
        "AccountEmail": "acct1@example.com",
        "Date": "08-01-2025", "DateTime": "2025-08-01 09:00:00",
        "CheckName": check_name,
        "result": {
            "checkId": check_id, "status": status,
            "resourcesSummary": {"resourcesProcessed": 120, "resourcesFlagged": 4,
                                 "resourcesIgnored": 1, "resourcesSuppressed": 0},
            "categorySpecificSummary": {},
            "flaggedResources": flagged if flagged is not None else [],
        },
    }
    if cost_optimizing:
        d["result"]["categorySpecificSummary"] = {
            "costOptimizing": {"estimatedMonthlySavings": 123.45,
                               "estimatedPercentMonthlySavings": 0.07}}
    return d


# Z4AUBRNSmz schema: status,0,1 → header Status,Region,IP Address
EIP_FLAGGED = [
    {"status": "warning", "region": "us-east-1",
     "metadata": ["us-east-1", "52.1.2.3"]},
    {"status": "error", "region": "us-east-1",
     "metadata": ["us-west-2", "52.4,5.6"]},     # comma must be stripped
    {"status": "ok", "region": "eu-west-1",
     "metadata": ["eu-west-1", "52.9.9.9"]},     # filtered out (P1)
    {"status": "warning", "region": "eu-west-1",
     "metadata": [None, "52.7.7.7"]},            # None passes through (P2)
]


def test_flagged_resources_short_metadata_array_yields_null(spark):
    """Regression (review finding): a metadata array SHORTER than the
    registry schema's max index must land NULL for the missing cell
    (try_element_at) instead of throwing INVALID_ARRAY_INDEX under
    ANSI and killing the whole ingest batch — the reference lambda's
    IndexError failed only that one (account, check) extract."""
    flagged = [
        {"status": "warning", "region": "us-east-1",
         "metadata": ["us-east-1"]},          # index 1 missing
        {"status": "warning", "region": "us-east-1",
         "metadata": []},                     # both missing
    ]
    results = ta_api.check_results_df(spark, [_doc(flagged=flagged)])
    rows = sorted(X.flagged_resources_table(results, "Z4AUBRNSmz").collect(),
                  key=lambda r: str(r["region"]))
    assert len(rows) == 2
    assert rows[0]["region"] is None and rows[0]["ip address"] is None
    assert rows[1]["region"] == "us-east-1"
    assert rows[1]["ip address"] is None


def test_flagged_resources_p1_p2_p3_p4(spark):
    results = ta_api.check_results_df(spark, [_doc(flagged=EIP_FLAGGED)])
    df = X.flagged_resources_table(results, "Z4AUBRNSmz")
    rows = sorted(df.collect(), key=lambda r: str(r["ip address"]))
    assert df.columns == ["date", "datetime", "checkname", "status", "region",
                          "ip address", "accountid", "accountname", "accountemail"]
    assert len(rows) == 3  # 'ok' dropped
    assert rows[0]["ip address"] == "52.1.2.3"
    assert rows[1]["ip address"] == "52.45.6"      # comma stripped
    assert rows[2]["ip address"] == "52.7.7.7"
    assert rows[2]["region"] is None               # None metadata passthrough
    assert rows[0]["date"] == "08-01-2025"
    assert rows[0]["accountid"] == "610000000001"  # identity suffix (P4)
    # named top-level field is taken from the resource, not metadata
    assert {r["status"] for r in rows} == {"warning", "error"}


def test_summary_p5_p6(spark):
    docs = [_doc(), _doc(cost_optimizing=False, check_id="hjLMh88uM8",
                         check_name="Idle Load Balancers")]
    results = ta_api.check_results_df(spark, docs)
    df = X.summary_table(results)
    rows = {r["checkid"]: r for r in df.collect()}
    assert rows["Z4AUBRNSmz"]["estimatedmonthlysavings"] == 123.45
    assert rows["hjLMh88uM8"]["estimatedmonthlysavings"] == 0.0  # default (P5)
    assert rows["hjLMh88uM8"]["estimatedpercentmonthlysavings"] == 0.0
    assert rows["Z4AUBRNSmz"]["resourcesprocessed"] == 120


def test_ingest_tables_build_no_column_trees(spark, monkeypatch):
    """Each check table and the summary are built from SQL expression
    text in one ``selectExpr``, with no Column tree built through py4j
    cell by cell. Bound: at most 50 py4j commands per table; Column
    trees took about 670. Only this thread's commands count: py4j's
    finalizer thread sends the deletes of objects freed earlier,
    whenever it wakes."""
    import threading

    from py4j.java_gateway import GatewayClient

    results = ta_api.check_results_df(spark, [_doc(flagged=EIP_FLAGGED)])
    checks = [c for c in registry.SUPPORTED_CHECKS + registry.EXTRACT_ONLY_CHECKS
              if c in registry.SCHEMAS]
    calls = []
    send = GatewayClient.send_command
    caller = threading.current_thread()

    def counting(self, *args, **kwargs):
        if threading.current_thread() is caller:
            calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    tables = [X.flagged_resources_table(results, c) for c in checks]
    tables.append(X.summary_table(results))
    monkeypatch.undo()
    assert len(tables) == len(checks) + 1
    assert len(calls) <= 50 * len(tables), len(calls)


def test_missing_registry_check_skipped(spark):
    results = ta_api.check_results_df(spark, [_doc(check_id="NotARealCheck")])
    with pytest.raises(KeyError):
        X.flagged_resources_table(results, "NotARealCheck")


def test_catalog_filter_s2(spark):
    catalog = spark.createDataFrame(
        [("Qch7DwouX1", "Low Utilization Amazon EC2 Instances", "cost_optimizing"),
         ("xyz", "Other Check", "cost_optimizing"),
         ("hjLMh88uM8", "Idle Load Balancers", "security")],
        ta_api.CHECK_CATALOG_SCHEMA)
    kept = ta_api.filter_supported_checks(
        catalog, registry.CATEGORY, registry.SUPPORTED_CHECKS).collect()
    assert [r["id"] for r in kept] == ["Qch7DwouX1"]


def test_accounts_s3(spark):
    accounts = spark.createDataFrame(
        [("1", "a", "a@x.com", "ACTIVE"), ("2", "b", "b@x.com", "SUSPENDED")],
        ta_api.ACCOUNT_SCHEMA)
    out = ta_api.active_accounts(accounts, "08-01-2025", "2025-08-01 09:00:00").collect()
    assert len(out) == 1 and out[0]["AccountId"] == "1"
    assert out[0]["Date"] == "08-01-2025"


def test_accounts_csv_s4(spark, tmp_path):
    p = str(tmp_path / "accounts.csv")
    with open(p, "w") as f:
        f.write("AccountEmail,ACCOUNTID,accountName\n")   # shuffled + mixed case
        f.write("a@x.com,610000000001,Acct A\n")
    out = ta_api.accounts_from_csv(spark, p, "08-01-2025", "2025-08-01 09:00:00").collect()
    assert out[0]["AccountId"] == "610000000001"
    assert out[0]["AccountName"] == "Acct A"

    bad = str(tmp_path / "bad.csv")
    with open(bad, "w") as f:
        f.write("AccountId,Wrong,AccountEmail\nx,y,z\n")
    with pytest.raises(ValueError):
        ta_api.accounts_from_csv(spark, bad, "08-01-2025", "2025-08-01 09:00:00")


def test_mask_pii_p9(spark):
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import masking

    spark.createDataFrame([("log for 610000000001 ok", "Alice Example")],
                          ["msg", "name"]).createOrReplaceTempView("p9_log")
    row = spark.sql(
        f"SELECT {masking._mask_id(SPARK, 'msg')} AS m, "
        f"{masking._mask_text('name')} AS n FROM p9_log").collect()[0]
    assert row["m"] == "log for 1XXXXXXX0001 ok"
    assert row["n"] == "Ali-MASKED-ple"


def test_refresh_wait_clamp_matches_reference(spark):
    """P12 (verify-ta-check-status-lambda.py:78-84): wait =
    round(millis/1000) with Python banker's rounding; waits > 3600s
    mean skip-refresh -> 0 (the reference branches, it does not clamp).
    Oracle = the reference's Python expression itself."""
    from aws_trusted_advisor_explorer_spark.sources.ta_api import (
        refresh_wait_seconds,
    )

    millis = [0, 499, 500, 1499, 1500, 2500, 3500,
              3_599_499, 3_599_500, 3_600_000, 3_600_499, 3_600_500,
              3_601_000, 7_200_000]
    df = spark.createDataFrame([(m,) for m in millis], ["millis"])
    got = {r.millis: r.wait
           for r in df.select("millis",
                              refresh_wait_seconds("millis").alias("wait"))
           .collect()}

    def ref(m):  # the reference's branch, verbatim semantics
        w = round(m / 1000)
        return w if w <= 3600 else 0

    assert got == {m: ref(m) for m in millis}
