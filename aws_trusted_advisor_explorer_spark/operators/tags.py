"""Tag-plane operators (SURVEY.md §2.3 P7-P8).

P7 ARN→ResourceId and P8 tag pivot re-express
extract-tag-data-lambda.py's per-ARN dict accumulation as DataFrame
expressions + a pivot — distributed, shuffle-once, no Python loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

IDENTITY_COLS = ["Date", "DateTime", "AccountId", "AccountName", "AccountEmail",
                 "RegionName", "ResourceType", "ResourceArn", "ResourceId"]


def arn_to_resource_id(arn: Column) -> Column:
    """P7: text after the last '/', else after the last ':', else ''
    (extract-tag-data-lambda.py:48-57, patterns ``.*\\/(.*$)`` then
    ``.*\\:(.*$)``)."""
    return (F.when(arn.rlike("/"), F.regexp_extract(arn, r".*/(.*)$", 1))
            .when(arn.rlike(":"), F.regexp_extract(arn, r".*:(.*)$", 1))
            .otherwise(F.lit("")))


def pivot_tags(long_tags: DataFrame, customer_keys: list[str],
               order_col: str | None = None) -> DataFrame:
    """P8: long (ARN, key, value) rows → one row per resource with one
    column per requested tag key; last-write-wins per (ARN, key) like the
    reference's dict accumulation (extract-tag-data-lambda.py:74-88).

    ``order_col`` defines "last": pass the ingest-order column to get
    the reference's semantics deterministically (``max_by(value,
    order)``). Without one there is no order to be last in — Spark's
    ``last()`` after a shuffle would pick an arbitrary row per run —
    so the fallback is ``max(value)``: deterministic, and identical to
    last-write-wins whenever a (resource, key) has one value.

    Expects columns: the IDENTITY_COLS context + ``key`` + ``value``.
    The explicit ``customer_keys`` list keeps the output schema
    deterministic (InterestedTagKeys configuration, template:27-30) and
    lets Spark skip the extra distinct-values job a bare pivot() runs.
    One shuffle on the group keys; map-side combine applies.
    """
    present = [c for c in IDENTITY_COLS if c in long_tags.columns]
    if order_col is None:
        import warnings
        warnings.warn(
            "pivot_tags without order_col uses max(value), which differs "
            "from the reference's last-write-wins whenever a (resource, "
            "key) has conflicting values; pass the ingest-order column "
            "for reference semantics", stacklevel=2)
    agg = (F.expr(f"max_by(value, {order_col})") if order_col
           else F.max("value"))
    return (long_tags
            .groupBy(*present)
            .pivot("key", customer_keys)
            .agg(agg))
