"""Extract-plane row transforms (SURVEY.md §2.3 P1-P6), as DataFrame
expressions over the S1 source — no Python UDFs; everything stays inside
whole-stage codegen.

The reference walks ``result.flaggedResources[i]`` row-at-a-time in
Python (extract-ta-data-lambda.py:164-183); here the same semantics are
one ``explode`` + ``select`` that Catalyst pushes into a single stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from aws_trusted_advisor_explorer_spark import registry


def flagged_resources_table(results: DataFrame, check_id: str) -> DataFrame:
    """P1-P4: flagged resources of one check → the raw detail table.

    - P1 status filter: keep ``status ∈ {warning, error}``
      (extract-ta-data-lambda.py:165-166)
    - P2 schema-driven positional projection: digit entries index the
      ``metadata`` array, names take the top-level field (:169-177)
    - P3 comma-strip on every non-null metadata cell (:175) — named
      fields are NOT comma-stripped, faithfully to the reference
    - P4 identity prefix/suffix columns (:128-131,159-162,178-181)

    Returns one DataFrame per check with the Glue-normalized column
    names the view layer references.
    """
    if check_id not in registry.SCHEMAS:
        # missing Header_/Schema_ env → check skipped (extract-ta-data:197-224)
        raise KeyError(f"check {check_id} not in registry; skipping")
    schema = registry.SCHEMAS[check_id]
    headers = registry.HEADERS[check_id]

    r = (results.filter(F.col("result.checkId") == check_id)
         .select("Date", "DateTime", "CheckName",
                 "AccountId", "AccountName", "AccountEmail",
                 F.explode("result.flaggedResources").alias("fr"))
         .filter(F.col("fr.status").isin("warning", "error")))

    cols: list[Column] = [F.col("Date"), F.col("DateTime"), F.col("CheckName")]
    for header, entry in zip(headers, schema):
        if entry.isdigit():
            # 1-based, NULL-on-out-of-range (try_element_at): real TA
            # responses return short/variable metadata arrays, and the
            # plain element_at THROWS under ANSI (default-on in Spark
            # 4) — one short array would kill the whole ingest batch
            # where the reference lambda's IndexError failed only that
            # one (account, check) extract. None metadata cells pass
            # through untouched.
            cell = F.try_element_at("fr.metadata", F.lit(int(entry) + 1))
            cell = F.when(cell.isNull(), cell).otherwise(
                F.replace(cell, F.lit(","), F.lit("")))
        else:
            cell = F.col(f"fr.{entry}")
        cols.append(cell.alias(header))
    cols += [F.col("AccountId"), F.col("AccountName"), F.col("AccountEmail")]
    out = r.select(*cols)
    # one normalization pass over every column (incl. the identity
    # prefix/suffix), mirroring the crawler's header handling
    return out.toDF(*[registry.glue_normalize(c) for c in out.columns])


def summary_table(results: DataFrame) -> DataFrame:
    """P5+P6: per-(check, account, run) snapshot fact — NOT an aggregate;
    the counters land verbatim from the API (extract-ta-data-lambda.py:133-149).
    Missing ``costOptimizing`` → savings default to 0 (:139-147)."""
    cols = [
        F.col("Date"), F.col("DateTime"), F.col("CheckName"),
        F.col("result.checkId").alias("CheckId"),
        F.col("result.status").alias("Status"),
        F.col("result.resourcesSummary.resourcesProcessed").alias("ResourcesProcessed"),
        F.col("result.resourcesSummary.resourcesFlagged").alias("ResourcesFlagged"),
        F.col("result.resourcesSummary.resourcesIgnored").alias("ResourcesIgnored"),
        F.col("result.resourcesSummary.resourcesSuppressed").alias("ResourcesSuppressed"),
        F.coalesce(
            F.col("result.categorySpecificSummary.costOptimizing.estimatedMonthlySavings"),
            F.lit(0.0)).alias("EstimatedMonthlySavings"),
        F.coalesce(
            F.col("result.categorySpecificSummary.costOptimizing.estimatedPercentMonthlySavings"),
            F.lit(0.0)).alias("EstimatedPercentMonthlySavings"),
        F.col("AccountId"), F.col("AccountName"), F.col("AccountEmail"),
    ]
    out = results.select(*cols)
    return out.toDF(*[registry.glue_normalize(c) for c in out.columns])
