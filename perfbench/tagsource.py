"""Benchmark-owned tag-API transport, shipped to executors inside the
``fetch_tags`` closure (kept free of heavy imports: each Python worker
unpickles it)."""

from __future__ import annotations

import zlib


class InventoryTransport:
    """Tag-API transport over a generated inventory. Honors the
    TagFilters pushdown (only resources carrying the requested key),
    pages like the real API, and fails the first attempt of about one
    work item in eight so the adapter's retry path runs. Counts calls
    and injected failures in Spark accumulators."""

    def __init__(self, inventory: dict, seed: int, calls, retries,
                 page_size: int = 50):
        self.inventory, self.seed = inventory, seed
        self.calls, self.retries = calls, retries
        self.page_size = page_size
        self._seen: set = set()

    def __call__(self, account_id, region, resource_type, tag_key):
        self.calls.add(1)
        item = (account_id, region, resource_type, tag_key)
        first = item not in self._seen
        self._seen.add(item)
        if first and zlib.crc32(repr((self.seed,) + item).encode()) % 8 == 0:
            self.retries.add(1)
            raise ConnectionError(f"injected transient failure for {item}")
        matched = [r for r in self.inventory.get((account_id, region, resource_type), [])
                   if any(t["Key"] == tag_key for t in r["Tags"])]
        for i in range(0, len(matched), self.page_size):
            yield {"ResourceTagMappingList": matched[i:i + self.page_size]}
