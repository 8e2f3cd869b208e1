"""S6 tag-scan source adapter (SURVEY.md §2.1 S6): the reference's
paged ``get_resources`` fetch with source-side filter pushdown
(extract-tag-data-lambda.py:60-89), re-expressed as a ``mapInPandas``
fetcher over the P11 work-item DataFrame.

Shape: the Step Functions Map state that fanned one Lambda out per
(account, region, resourceType) becomes task parallelism over the
work-item DataFrame — each Spark task walks its work items, asks the
transport for exactly the resources OF THAT TYPE carrying THAT TAG KEY
(``ResourceTypeFilters`` + ``TagFilters`` — the reference's only
pushdown pattern, :72), and streams the pages out as long
(identity, ARN, key, value) rows. The fetch volume is the matched
resources, never the account inventory.

The transport is pluggable (a picklable callable shipped to
executors): production would wrap the real paginated API client;
tests inject :class:`FixtureTransport`. Retry with exponential backoff
lives in the adapter — the reference delegates retries to its state
machine's Retry policy, so the adapter owns them here.

Output rows feed ``pipeline.run_tag_ingest`` (P8 pivot) unchanged:
columns are ``operators.tags.IDENTITY_COLS`` + ``key`` + ``value``,
with P7 ResourceId extraction applied fetch-side exactly as the
reference does (:77-82).
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame

# (account_id, region, resource_type, tag_key) -> iterable of pages,
# each page shaped like the reference API's response:
# {"ResourceTagMappingList": [{"ResourceARN": ..., "Tags": [{"Key":..,
# "Value":..}, ...]}, ...]}
Transport = Callable[[str, str, str, str], Iterable[dict]]

FETCH_COLS = ["Date", "DateTime", "AccountId", "AccountName",
              "AccountEmail", "RegionName", "ResourceType", "ResourceArn",
              "ResourceId", "key", "value"]
_SCHEMA = ", ".join(f"`{c}` string" for c in FETCH_COLS)

_PAT_SLASH = re.compile(r".*/(.*)$")
_PAT_COLON = re.compile(r".*:(.*)$")


def _resource_id(arn: str) -> str:
    """P7: the text after the last '/', else after the last ':', else
    '' — the reference's Python exactly (extract-tag-data-lambda.py:48-57,
    patterns ``.*\\/(.*$)`` then ``.*\\:(.*$)``)."""
    m = _PAT_SLASH.match(arn) or _PAT_COLON.match(arn)
    return m.group(1) if m else ""


def _fetch_with_retry(transport: Transport, args: tuple,
                      max_retries: int, backoff_s: float) -> list[dict]:
    """Materialize one (work item, key) fetch's pages, retrying the
    WHOLE fetch on failure (paged reads are idempotent) with
    exponential backoff. One fetch's pages are the matched resources of
    one (account, region, type, key) — bounded, and strictly less than
    the whole-account dict the reference Lambda holds in memory."""
    for attempt in range(max_retries + 1):
        try:
            return list(transport(*args))
        except Exception:
            if attempt == max_retries:
                raise
            if backoff_s:
                time.sleep(backoff_s * (2 ** attempt))
    raise AssertionError("unreachable")


def fetch_tags(work_items: DataFrame, customer_keys: list[str],
               transport: Transport, max_retries: int = 3,
               backoff_s: float = 0.0) -> DataFrame:
    """S6: work-item DataFrame -> long (identity, ARN, key, value) rows.

    ``work_items`` needs the identity context columns (Date, DateTime,
    AccountId, AccountName, AccountEmail) plus RegionName and
    ResourceType — i.e. P11's accounts × types × regions cross product.
    One output row per (resource, matched customer key), tag values
    taken only where ``tag.Key == customerKey`` exactly as the
    reference's accumulation loop (extract-tag-data-lambda.py:74-76).

    Executed as ``mapInPandas``: fetches run executor-side with task
    parallelism across work items; nothing rides through the driver.
    """
    keys = list(customer_keys)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for item in pdf.itertuples(index=False):
                for ck in keys:
                    pages = _fetch_with_retry(
                        transport,
                        (item.AccountId, item.RegionName,
                         item.ResourceType, ck),
                        max_retries, backoff_s)
                    for page in pages:
                        for res in page.get("ResourceTagMappingList", []):
                            for tag in res.get("Tags", []):
                                if tag["Key"] != ck:
                                    continue
                                arn = res["ResourceARN"]
                                rows.append({
                                    "Date": item.Date,
                                    "DateTime": item.DateTime,
                                    "AccountId": item.AccountId,
                                    "AccountName": item.AccountName,
                                    "AccountEmail": item.AccountEmail,
                                    "RegionName": item.RegionName,
                                    "ResourceType": item.ResourceType,
                                    "ResourceArn": arn,
                                    "ResourceId": _resource_id(arn),
                                    "key": ck,
                                    "value": tag["Value"],
                                })
            yield pd.DataFrame(rows, columns=FETCH_COLS)

    return work_items.mapInPandas(gen, schema=_SCHEMA)


class FixtureTransport:
    """Deterministic in-memory transport for tests: resources keyed by
    (account_id, region, resource_type); honors the TagFilters pushdown
    contract (only resources carrying the requested key are returned)
    and paginates like the real API. ``fail_first`` makes the first N
    calls raise, to exercise the adapter's retry path. Picklable, so it
    ships to executors inside the mapInPandas closure."""

    def __init__(self, resources: dict[tuple[str, str, str], list[dict]],
                 page_size: int = 2, fail_first: int = 0):
        self.resources = resources
        self.page_size = page_size
        self.fail_first = fail_first
        self.calls = 0

    def __call__(self, account_id: str, region: str, resource_type: str,
                 tag_key: str) -> Iterable[dict]:
        self.calls += 1
        if self.calls <= self.fail_first:
            raise ConnectionError(
                f"fixture transport transient failure #{self.calls}")
        matched = [
            r for r in self.resources.get(
                (account_id, region, resource_type), [])
            if any(t["Key"] == tag_key for t in r.get("Tags", []))
        ]
        for i in range(0, len(matched), self.page_size):
            yield {"ResourceTagMappingList": matched[i:i + self.page_size]}
