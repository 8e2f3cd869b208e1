"""End-to-end batch pipeline — the four Step Functions state machines
collapsed into driver code (SURVEY.md §3).

Reference flow (monthly cron): accounts → per-account check list →
per-(account,check) extract → raw CSV partitions → crawler → views.
Spark flow: the per-account Map-state fan-out becomes DataFrame task
parallelism, and the per-check fan-out becomes a driver thread pool
that submits each table's write and read-back jobs at once; the
crawler disappears (the writer registers tables); views are
``createOrReplaceTempView`` once every table has landed. The TA refresh
polling loop (refresh/verify lambdas + Wait states) is control-plane-only
and stays a driver-side loop in a live deployment; it has no data-plane
analog here.
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from aws_trusted_advisor_explorer_spark import registry
from aws_trusted_advisor_explorer_spark.operators import extract as X
from aws_trusted_advisor_explorer_spark.operators import tags as TG
from aws_trusted_advisor_explorer_spark.sinks import writers
from aws_trusted_advisor_explorer_spark.sources import ta_api


def run_ingest(spark: SparkSession, check_result_docs,
               out_dir: str) -> dict[str, DataFrame]:
    """Entry point A (scheduled TA ingestion): API-shaped docs → raw layer.

    Returns the written raw tables re-read from disk and registered in
    the catalog under their reference names (check_<id>, summary), in
    registry order. Each table is built, written and read back as one
    unit; the units run at once from a driver pool with one thread per
    table, so their small jobs overlap instead of queueing behind each
    other (the reference's Map-state fan-out). The paths are disjoint,
    so the lake does not depend on the interleaving."""
    results = ta_api.check_results_df(spark, check_result_docs)
    results.cache()  # reused once per check + once for summary

    # ONE batched probe for "which checks have any flagged resource"
    # (extract-ta-data:187-189 writes no file for empty checks) instead
    # of a limit(1).count() job per check id. The collect is per-check
    # METADATA (a few counter rows), not data. It also fills the cache
    # before the pool's units read it.
    nonempty = {
        r["check_id"]
        for r in (results
                  .select(F.col("result.checkId").alias("check_id"),
                          F.explode("result.flaggedResources").alias("fr"))
                  .filter(F.col("fr.status").isin("warning", "error"))
                  .groupBy("check_id").count().collect())
    }
    # a check without Header_/Schema_ config is skipped
    # (extract-ta-data:197-224), as is one with no flagged resources
    builds = {f"check_{c.lower()}": functools.partial(X.flagged_resources_table, results, c)
              for c in registry.SUPPORTED_CHECKS + registry.EXTRACT_ONLY_CHECKS
              if c in registry.SCHEMAS and c in nonempty}
    builds["summary"] = functools.partial(X.summary_table, results)

    def land(name: str) -> DataFrame:
        return writers.land_raw_table(spark, builds[name](),
                                      os.path.join(out_dir, name))

    # the session form copies the caller's job group and tags into each
    # pool thread, so the units' jobs stay attributable and cancellable.
    # With pinned threads off (PYSPARK_PIN_THREAD=false) it returns the
    # session itself: there are no per-thread properties to copy then
    wrap = inheritable_thread_target(spark)
    target = land if wrap is spark else wrap(land)
    try:
        with ThreadPoolExecutor(max_workers=len(builds)) as pool:
            out = dict(zip(builds, pool.map(target, builds)))
    finally:
        results.unpersist()
    for name, df in out.items():
        df.createOrReplaceTempView(name)
    return out


def run_tag_ingest(spark: SparkSession, long_tags: DataFrame,
                   customer_keys: list[str], out_dir: str) -> DataFrame:
    """Entry point B (tag ingestion): long (resource, key, value) rows →
    pivoted tags dimension, written + registered. Ingest order is
    stamped before the shuffle so the pivot's last-write-wins matches
    the reference's dict accumulation deterministically."""
    ordered = long_tags.withColumn("_ingest_ord", F.monotonically_increasing_id())
    wide = TG.pivot_tags(ordered, customer_keys, order_col="_ingest_ord")
    # normalize BEFORE landing, like run_ingest's glue_normalize pass:
    # pre-fix the raw tags layer landed CamelCase and only the re-read
    # view was lowercased, so a fresh session reading the landed
    # dataset saw columns no view could resolve (review finding — the
    # two entry points modeled the crawler inconsistently)
    wide = wide.toDF(*[c.lower() for c in wide.columns])
    df = writers.land_raw_table(spark, wide, os.path.join(out_dir, "tags"))
    df.createOrReplaceTempView("tags")
    return df


def publish_views(spark: SparkSession, with_tags: bool | None = None) -> None:
    """Entry point C: catalog + view refresh (no crawler needed)."""
    from aws_trusted_advisor_explorer_spark.plans import views

    views.register_views(spark, with_tags=with_tags)
