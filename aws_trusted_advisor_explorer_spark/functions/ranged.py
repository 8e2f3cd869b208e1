"""Global-order running totals without a single-partition window.

A running sum over a corpus-sized relation in one global order is, as
a plain ``OVER (ORDER BY ...)`` window, a sort of the whole relation
on one task. The two-phase form here computes the same integers
distributed:

1. :func:`range_layout` range-partitions the relation by the order and
   freezes each row's partition index as ``pid``, so ``pid`` is
   monotone in the order.
2. :func:`prefix_total` sums the measure per ``pid`` (one row per range
   partition), turns those sums into exclusive prefix offsets with a
   window over that partition-count-sized relation, broadcasts them
   back and adds the in-partition running sum.

The result depends only on the global order, never on the partition
count (``session.range_partitions`` is a parallelism knob), and a
filtered slice of a layout is still a layout, so one materialized
layout serves every slice a query packs.
"""

from __future__ import annotations


def range_layout(df, *order):
    """``df`` range-partitioned by ``order`` into
    ``session.range_partitions`` partitions, with each row's partition
    index frozen as the ``pid`` column (callers checkpoint it, so every
    later read sees the same ``pid``)."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark import session

    return (df.repartitionByRange(
        session.range_partitions(df.sparkSession), *order)
        .withColumn("pid", F.spark_partition_id()))


def prefix_total(ranged, order, measure, by=(), base=None):
    """``ranged`` (a :func:`range_layout` relation, or a filtered slice
    of one) with ``prior``: the exclusive running sum of the Column
    ``measure`` in ``order`` within ``by``, shifted by ``base``'s
    per-``by`` ``base`` column (0 where ``base`` has no row). ``order``
    must be unique within ``by``; a count rank is ``prior + 1`` with
    ``measure = lit(1)``.

    The offsets window runs over one row per (``by``, range partition)
    — bounded by the partition count, never by the corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    by = list(by)
    zero = F.lit(0)
    totals = ranged.groupBy(*by, "pid").agg(F.sum(measure).alias("part"))
    w_off = (Window.partitionBy(*by).orderBy("pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        *by, "pid",
        F.coalesce(F.sum("part").over(w_off), zero).alias("offset"))
    if base is not None:
        offsets = (offsets.join(F.broadcast(base), by, "left")
                   .select(*by, "pid",
                           (F.col("offset") + F.coalesce("base", zero))
                           .alias("offset")))
    w_in = (Window.partitionBy(*by, "pid").orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, -1))
    return (ranged.join(F.broadcast(offsets), [*by, "pid"])
            .withColumn("prior", F.col("offset")
                        + F.coalesce(F.sum(measure).over(w_in), zero))
            .drop("offset"))
