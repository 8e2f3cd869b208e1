"""Partitioned table writers (SURVEY.md §2.2 K1-K4).

The reference writes CSV to ``<layer>/<table>/<yyyy>/<m>/<d>/``
(extract-ta-data-lambda.py:110-114, extract-tag-data-lambda.py:141) and
lets a Glue crawler discover partitions. Here the writer IS the catalog
step: explicit ``year/month/day`` partition columns + ``partitionBy`` so
date predicates prune at the source — the reference's views filter the
``datetime`` STRING column and get no pruning (SURVEY.md §4 row 1);
adding real partition columns is the scale fix.

Parquet is the default at 100 TB (columnar, pushdown, stats); CSV stays
as the reference-compatible interchange format. Raw column names carry
spaces/'-'/'/', which parquet field names reject — ``parquet_safe`` holds
a reversible rename policy applied on write and undone on read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

_SAFE = [(" ", "_sp_"), ("/", "_sl_"), ("-", "_dash_")]


def parquet_safe(name: str) -> str:
    for ch, tok in _SAFE:
        name = name.replace(ch, tok)
    return name


def parquet_unsafe(name: str) -> str:
    for ch, tok in _SAFE:
        name = name.replace(tok, ch)
    return name


def with_run_partitions(df: DataFrame, date_col: str = "datetime") -> DataFrame:
    """Derive year/month/day partition columns from the run datetime string."""
    return (df
            .withColumn("year", F.substring(date_col, 1, 4))
            .withColumn("month", F.substring(date_col, 6, 2))
            .withColumn("day", F.substring(date_col, 9, 2)))


def write_raw_table(df: DataFrame, path: str, fmt: str = "parquet",
                    partitioned: bool = True, mode: str = "overwrite") -> StructType:
    """K1+K3: land a raw table date-partitioned. Empty input writes no data
    files (the reference's len(rows)>1 guard is native here). Returns the
    schema of the frame written (renamed columns and partition columns
    included).

    ``mode="append"`` is the month-over-month accumulation path (the
    reference's monthly cron lands a NEW date prefix each run and never
    rewrites old ones); each run's partition values are distinct, so
    append adds partitions without touching history."""
    out = with_run_partitions(df) if partitioned else df
    if fmt in ("parquet", "orc"):
        # one shared path: ORC field names share parquet's
        # no-special-chars restriction, so both get the safe rename
        out = out.toDF(*[parquet_safe(c) for c in out.columns])
        w = out.write.mode(mode)
        if partitioned:
            w = w.partitionBy("year", "month", "day")
        getattr(w, fmt)(path)
    elif fmt == "csv":
        w = out.write.mode(mode).option("header", True)
        if partitioned:
            w = w.partitionBy("year", "month", "day")
        w.csv(path)
    else:
        raise ValueError(f"unsupported format {fmt}")
    return out.schema


def read_raw_table(spark: SparkSession, path: str, fmt: str = "parquet",
                   keep_partitions: bool = False,
                   merge_schema: bool = False) -> DataFrame:
    """Read back a raw table, undoing the parquet-safe rename.

    The year/month/day layout columns are dropped by default so the
    schema stays reference-faithful; pass ``keep_partitions=True`` (and
    filter on them before anything else) to get partition pruning.

    ``merge_schema=True`` models the Glue crawler's UPDATE_IN_DATABASE
    schema-change policy (SURVEY.md §1.3/S7): when a later month lands
    MORE columns (a newly interesting tag key pivots into the tags
    table), the union schema is reconstructed across partitions and
    earlier months read NULL for the new column — exactly what the
    crawler's re-crawl does to the catalog table. Off by default: the
    footer merge touches every file's metadata, so steady-state reads
    (stable schema) skip it and evolving tables pay it explicitly."""
    if fmt == "parquet":
        df = spark.read.option("mergeSchema", merge_schema).parquet(path)
    elif fmt == "orc":
        df = spark.read.option("mergeSchema", merge_schema).orc(path)
    else:
        df = spark.read.option("header", True).csv(path)
    return _raw_columns(df, keep_partitions)


def _raw_columns(df: DataFrame, keep_partitions: bool = False) -> DataFrame:
    if not keep_partitions:
        df = df.drop("year", "month", "day")
    return df.toDF(*[parquet_unsafe(c) for c in df.columns])


def land_raw_table(spark: SparkSession, df: DataFrame, path: str,
                   fmt: str = "parquet") -> DataFrame:
    """Write ``df`` with :func:`write_raw_table` and read it back as
    :func:`read_raw_table` does. Parquet and ORC are read with the
    schema just written (every field nullable, as a file read makes
    it), so no footer-inference job runs; CSV keeps the header read,
    since an explicit schema would change its all-string column types."""
    written = write_raw_table(df, path, fmt=fmt)
    if fmt == "csv":
        return read_raw_table(spark, path, fmt=fmt)
    schema = StructType([StructField(f.name, f.dataType) for f in written])
    return _raw_columns(spark.read.schema(schema).format(fmt).load(path))


def write_bucketed_table(df: DataFrame, name: str, bucket_cols: list[str],
                         n_buckets: int = 32, sort_cols: list[str] | None = None,
                         path: str | None = None) -> None:
    """Bucketed + sorted table write (scale pattern, SCALE.md): two
    tables bucketed on the same join key with the same bucket count
    join WITHOUT a shuffle — at 100 TB that removes the dominant
    exchange from every fact-to-fact equi-join that repeats a key
    (sort-merge runs directly on co-located, pre-sorted buckets).
    ``path`` makes it an external table (tests point this at a tmpdir).
    """
    w = df.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(name)


def compact_table(spark: SparkSession, path: str,
                  target_file_bytes: int = 128 * 1024 * 1024,
                  fmt: str = "parquet") -> int:
    """Small-file compaction (the data-lake maintenance pass): rewrite
    a table directory into files of ~``target_file_bytes``. Landed
    layers accumulate per-task files (repeated appends, fanned-out
    ingests); scans then pay per-file open/footer costs and lose
    row-group-sized reads. Compaction restores scan efficiency without
    touching semantics.

    File count is sized from the ACTUAL on-disk bytes (not row counts),
    the same rule a table service (OPTIMIZE/rewriteDataFiles) applies;
    the rewrite is one shuffle-free coalesce when shrinking file count,
    or a round-robin repartition when growing it. Returns the new file
    count. At 100 TB this runs per partition directory, parallelized
    over partitions — this helper is the single-directory kernel."""
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, -(-total // target_file_bytes))  # ceil, >= 1
    # CSV tables carry a header row per part file: read it as a header
    # (not data) and write it back, matching write_raw_table/
    # read_raw_table — a headerless round-trip would fold each part
    # file's header line into the data and shift the columns
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", True)
    df = reader.load(path)
    cur = df.rdd.getNumPartitions()
    # n_files == cur takes the narrow no-op coalesce, never a full
    # round-robin shuffle that rewrites identical partitioning
    out = df.coalesce(n_files) if n_files <= cur else df.repartition(n_files)
    tmp = path.rstrip("/") + "._compact_tmp"
    writer = out.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    writer.save(tmp)
    # atomic-ish swap: the window with no live directory is one rename
    import shutil

    bak = path.rstrip("/") + "._compact_old"
    shutil.move(path, bak)
    shutil.move(tmp, path)
    shutil.rmtree(bak)
    written = [f for f in os.listdir(path)
               if f.endswith(f".{fmt}") or f.startswith("part-")]
    return len([f for f in written if not f.startswith(("_", "."))])


def write_range_sorted(df: DataFrame, path: str, col: str,
                       n_files: int = 32) -> None:
    """Range-partitioned, sorted layout (the time-series scan layout):
    ``repartitionByRange`` gives each output file a DISJOINT value
    range of ``col`` and ``sortWithinPartitions`` orders rows inside,
    so parquet footer min/max stats let a range predicate skip every
    non-overlapping file (and row-groups within the one it hits) —
    the same effect as Delta/Iceberg OPTIMIZE ZORDER on one column.
    At 100 TB this is the difference between scanning a day and
    scanning the archive; the write costs one range-exchange (sampled
    boundaries) which the first filtered read pays back."""
    (df.repartitionByRange(n_files, col)
       .sortWithinPartitions(col)
       .write.mode("overwrite").parquet(path))


def zorder_key_expr(col_a: str, col_b: str,
                    bounds: tuple[int, int, int, int], bits: int = 16):
    """Morton (Z-order) key for two integer columns: each value is
    affinely scaled to a ``bits``-wide grid cell using the given
    ``(min_a, max_a, min_b, max_b)`` bounds, then the two cell numbers
    are bit-interleaved (a takes the odd bit positions). Nearby (a, b)
    points get nearby keys, so ONE sort order gives locality on BOTH
    columns."""
    lo_a, hi_a, lo_b, hi_b = bounds
    span_a = max(hi_a - lo_a, 1)
    span_b = max(hi_b - lo_b, 1)
    grid = (1 << bits) - 1
    # divide-by-stride, never multiply-by-grid: (v - lo) * grid
    # overflows int64 once the span passes ~1.4e14 (e.g. nanosecond
    # epochs) — ANSI mode would kill the write, non-ANSI would wrap
    # into garbage z-keys. The stride is computed here in unbounded
    # Python ints and must be the CEILING of span/grid: a floor stride
    # maps up to half the value domain onto the single top cell for
    # spans just past the grid (e.g. span 100k, grid 65535 -> floor
    # stride 1 clamps 34% of values to cell 65535 and their files all
    # share one z-coordinate — no skipping). With ceil,
    # span // stride <= grid always holds, so least() is only a belt.
    # Same locality, no overflow.
    stride_a = max(-(-span_a // grid), 1)
    stride_b = max(-(-span_b // grid), 1)
    sa = (f"least(cast((cast(`{col_a}` as bigint) - {lo_a})"
          f" div {stride_a} as bigint), {grid})")
    sb = (f"least(cast((cast(`{col_b}` as bigint) - {lo_b})"
          f" div {stride_b} as bigint), {grid})")
    parts = []
    for i in range(bits):
        parts.append(f"(shiftleft(shiftright({sa}, {i}) & 1, {2 * i + 1}))")
        parts.append(f"(shiftleft(shiftright({sb}, {i}) & 1, {2 * i}))")
    return F.expr(" + ".join(parts))


def write_zorder(df: DataFrame, path: str, col_a: str, col_b: str,
                 n_files: int = 32, bits: int = 16,
                 bounds: tuple[int, int, int, int] | None = None) -> None:
    """Z-ordered parquet layout over TWO columns (the Delta/Iceberg
    ``OPTIMIZE ZORDER BY (a, b)`` effect without the table format):
    rows are range-partitioned and sorted by the Morton interleave of
    the two columns, so every file's parquet min/max stats cover a
    compact BOX in (a, b) space and a predicate on EITHER column (or a
    box on both) skips most files. ``write_range_sorted`` is the
    single-column special case; use Z-order when two independent
    access patterns must share one physical layout.

    ``bounds`` (min_a, max_a, min_b, max_b) skips the stats pass —
    pass them when known (e.g. from table metadata). Otherwise one
    extra aggregate scan computes them (two scalar rows to the driver,
    not data).

    At 100 TB: the write costs one range exchange on the z-key
    (sampled boundaries, same as any repartitionByRange); reads that
    filter on either dimension then prune at file granularity —
    without it, a filter on the second dimension scans everything."""
    if bounds is None:
        r = df.agg(F.min(col_a), F.max(col_a),
                   F.min(col_b), F.max(col_b)).first()
        if any(v is None for v in r):
            raise ValueError(
                f"write_zorder: cannot derive bounds for ({col_a}, {col_b})"
                " — input is empty or a z-column is all NULL; pass"
                " explicit bounds or skip the write")
        bounds = (int(r[0]), int(r[1]), int(r[2]), int(r[3]))
    zkey = zorder_key_expr(col_a, col_b, bounds, bits)
    (df.withColumn("__zkey", zkey)
       .repartitionByRange(n_files, "__zkey")
       .sortWithinPartitions("__zkey")
       .drop("__zkey")
       .write.mode("overwrite").parquet(path))
