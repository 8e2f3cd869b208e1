"""Tag-plane operators (SURVEY.md §2.3 P8).

The P8 tag pivot re-expresses extract-tag-data-lambda.py's per-ARN
dict accumulation as a DataFrame pivot — distributed, shuffle-once, no
Python loop. P7 (ARN→ResourceId) runs in the fetcher
(sources/tag_api.py ``_resource_id``), where each row is built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

IDENTITY_COLS = ["Date", "DateTime", "AccountId", "AccountName", "AccountEmail",
                 "RegionName", "ResourceType", "ResourceArn", "ResourceId"]


def pivot_tags(long_tags: DataFrame, customer_keys: list[str],
               order_col: str) -> DataFrame:
    """P8: long (ARN, key, value) rows → one row per resource with one
    column per requested tag key; last-write-wins per (ARN, key) like the
    reference's dict accumulation (extract-tag-data-lambda.py:74-88).

    ``order_col``, the ingest-order column, defines "last"
    (``max_by(value, order)``), so the reference's semantics hold
    deterministically — Spark's ``last()`` after a shuffle would pick
    an arbitrary row per run.

    Expects columns: the IDENTITY_COLS context + ``key`` + ``value``.
    The explicit ``customer_keys`` list keeps the output schema
    deterministic (InterestedTagKeys configuration, template:27-30) and
    lets Spark skip the extra distinct-values job a bare pivot() runs.
    One shuffle on the group keys; map-side combine applies.
    """
    present = [c for c in IDENTITY_COLS if c in long_tags.columns]
    return (long_tags
            .groupBy(*present)
            .pivot("key", customer_keys)
            .agg(F.expr(f"max_by(value, {order_col})")))
