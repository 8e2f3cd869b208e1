"""Extract-plane row transforms (SURVEY.md §2.3 P1-P6), as DataFrame
expressions over the S1 source — no Python UDFs; everything stays inside
whole-stage codegen.

The reference walks ``result.flaggedResources[i]`` row-at-a-time in
Python (extract-ta-data-lambda.py:164-183); here the same semantics are
one ``explode`` + ``select`` that Catalyst pushes into a single stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

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

    r = (results.where(f"result.checkId = '{check_id}'")
         .selectExpr("Date", "DateTime", "CheckName",
                     "AccountId", "AccountName", "AccountEmail",
                     "explode(result.flaggedResources) AS fr")
         .where("fr.status IN ('warning', 'error')"))

    # every cell is SQL text in one selectExpr: a Column tree per cell
    # costs hundreds of py4j commands per check
    cells = [(c, c) for c in ("Date", "DateTime", "CheckName")]
    for header, entry in zip(headers, schema):
        if entry.isdigit():
            # 1-based, NULL-on-out-of-range (try_element_at): real TA
            # responses return short/variable metadata arrays, and the
            # plain element_at THROWS under ANSI (default-on in Spark
            # 4) — one short array would kill the whole ingest batch
            # where the reference lambda's IndexError failed only that
            # one (account, check) extract. None metadata cells pass
            # through untouched.
            cell = f"try_element_at(fr.metadata, {int(entry) + 1})"
            cell = f"CASE WHEN {cell} IS NULL THEN {cell} ELSE replace({cell}, ',', '') END"
        else:
            cell = f"fr.{entry}"
        cells.append((cell, header))
    cells += [(c, c) for c in ("AccountId", "AccountName", "AccountEmail")]
    return _select_normalized(r, cells)


def _select_normalized(df: DataFrame, cells: list[tuple[str, str]]) -> DataFrame:
    """One ``selectExpr`` of the ``(SQL expression, header)`` cells,
    each named by the crawler's header normalization, which covers the
    identity prefix/suffix columns too."""
    return df.selectExpr(*[f"{expr} AS `{registry.glue_normalize(header)}`"
                           for expr, header in cells])


def summary_table(results: DataFrame) -> DataFrame:
    """P5+P6: per-(check, account, run) snapshot fact — NOT an aggregate;
    the counters land verbatim from the API (extract-ta-data-lambda.py:133-149).
    Missing ``costOptimizing`` → savings default to 0 (:139-147)."""
    saving = "coalesce(result.categorySpecificSummary.costOptimizing.{}, 0.0D)"
    cells = [
        ("Date", "Date"), ("DateTime", "DateTime"), ("CheckName", "CheckName"),
        ("result.checkId", "CheckId"),
        ("result.status", "Status"),
        ("result.resourcesSummary.resourcesProcessed", "ResourcesProcessed"),
        ("result.resourcesSummary.resourcesFlagged", "ResourcesFlagged"),
        ("result.resourcesSummary.resourcesIgnored", "ResourcesIgnored"),
        ("result.resourcesSummary.resourcesSuppressed", "ResourcesSuppressed"),
        (saving.format("estimatedMonthlySavings"), "EstimatedMonthlySavings"),
        (saving.format("estimatedPercentMonthlySavings"),
         "EstimatedPercentMonthlySavings"),
        ("AccountId", "AccountId"), ("AccountName", "AccountName"),
        ("AccountEmail", "AccountEmail"),
    ]
    return _select_normalized(results, cells)
