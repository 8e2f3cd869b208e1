"""SparkSession factory.

Local-mode defaults tuned for the test harness (local[32], single JVM);
the same settings are the right starting point on a real cluster --
AQE on, shuffle partitions sized to parallelism, Arrow enabled for the
Pandas-UDF slow path, UTC session timezone so timestamp semantics match
the DuckDB oracle.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


# The runtime SQL confs every session runs with: semantics (UTC
# timestamps, so hashes match DuckDB) and plans (AQE). The 64MB
# broadcast thresholds are dimension-broadcast headroom: the stock
# 10MB is sized for small executors; with multi-GB executor memory a
# 64MB broadcast is routine and turns the fact-to-tags view joins into
# broadcast hash joins (measured 2-5x over the sort-merge pick at
# sf0.1, where tags is ~11MB on disk — just past the default
# threshold). Oversized dimensions still fall back to shuffle joins
# automatically, so the 100 TB posture is unchanged.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def get_spark(app_name: str = "ta_explorer_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # the builder's SQL confs become the context defaults that
        # every newSession() starts from (a runtime conf.set reaches
        # only this session), so RUNTIME_CONFS go here too
        .config(map=RUNTIME_CONFS)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # workers fork from the package's daemon, whose zip importers
        # skip the per-task re-read of an unchanged pyspark.zip (see
        # worker_daemon.py). Static conf, read when the context starts,
        # so a session built elsewhere keeps the stock daemon.
        .config("spark.python.daemon.module",
                "aws_trusted_advisor_explorer_spark.worker_daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # the generated-class cache defaults to 100 entries; a session
        # running the full driver query surface compiles several hundred
        # wholestage/projection classes, so LRU eviction forces visible
        # (~1s) recompiles of early queries on every later pass. Static
        # conf -- must be set at JVM build time, hence here and not in
        # tune_session. r12: 2000 was sized for a ~160-key suite; at
        # 202 keys the per-pass codegen working set exceeds it again,
        # and the LRU victims are exactly the PASS-START queries (the
        # least-recently-run when a pass restarts) — the long-attributed
        # "pass-start stall" rows (view_low_util_ec2* 1.3-3.3 s vs
        # 0.3 s steady-state). 8000 entries keeps the whole suite's
        # classes resident (generated classes are KB-scale; heap cost
        # is negligible against the 8g driver).
        .config("spark.sql.codegen.cache.maxEntries", "8000")
        .config("spark.ui.enabled", "false")
        # progress bars land on the Python process's stdout and would
        # corrupt bench.py's one-JSON-line stdout contract
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply :data:`RUNTIME_CONFS` to an externally-provided session.

    The driver hands our ``queries()`` callables its own SparkSession;
    these settings keep semantics (UTC timestamps) and plans (AQE) in
    line with what we test with, without restarting the JVM.
    """
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    return spark


def range_partitions(spark: SparkSession) -> int:
    """Partition count for the range layouts of
    ``functions/ranged.py`` (r12: was a hard-coded 32 tuned to
    local[32]). Scale-adaptive:
    defaultParallelism = the session's core count locally, total
    executor cores on a cluster — so the driver's lower-core scaling
    runs and a real deployment both get proportionate layouts. The
    two-phase cumsum's results are partition-count-INDEPENDENT by
    construction (priors depend only on the global in-split order),
    so this is a parallelism knob, never a semantics knob."""
    return max(int(spark.sparkContext.defaultParallelism), 1)


# target ESTIMATED input bytes per corpus->Arrow-kernel task (the
# optimizer's column-pruned compressed-size estimate, which undercounts
# the parquet file ~2x and raw text ~6x): the Python kernels
# (tokenize+fold, Gram partials, cluster assignment) cost ~1 s per MB
# of parquet input, so tasks far smaller than a shuffle-partition sweet
# spot are right. Measured for the fused gram fold at sf0.1 (594 KB
# documents file, 1.49 MB of text, ~0.25 MB estimated), warm, local[4]
# on 4 vCPU: 1 task 0.61 s, 8 tasks 0.48 s, 32 tasks 1.05 s (each
# Python task also pays a fixed start-up cost, so past the slot count
# more tasks cost more)
KERNEL_TASK_BYTES = 32 * 1024


def kernel_partitions(df) -> int:
    """Partition count for a corpus→Arrow-kernel pass, derived from
    the input's optimizer size estimate and capped at the session
    parallelism (guide §2: scale-adaptive, never a core-count
    constant). The driver corpus ships as ONE parquet file with one
    row group, so without an explicit repartition every kernel ran as
    a single task at any core count (the flat 8-vs-32 ratios in
    SCALING.md's r13 core-scaling block); at cluster scale the
    estimate grows with the data and the cap keeps it at full
    parallelism."""
    spark = df.sparkSession
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        size = 0
    cap = max(int(spark.sparkContext.defaultParallelism), 1)
    if size <= 0:
        return cap
    return max(1, min(cap, size // KERNEL_TASK_BYTES))


def source_stamp(*paths: str) -> str:
    """Size and mtime of each input path, for the keys of the on-disk
    caches derived from them: a fixture regenerated in place under the
    same path gets a new key, so the cache is rebuilt instead of
    served stale."""
    stats = [os.stat(p) for p in paths]
    return "|".join(f"{st.st_size}:{st.st_mtime_ns}" for st in stats)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None) -> dict:
    """Register the driver's parquet tables as temp views; return {name: df}.

    Spark rejects parquet TIMESTAMP(NANOS) columns (``events.ts``), so we
    read them as long via ``spark.sql.legacy.parquet.nanosAsLong`` and
    rebuild a TIMESTAMP_NTZ (values are micro-precision, the ns→us
    truncation is lossless; verified against the driver data). Session
    timezone is pinned to UTC so the LTZ→NTZ hop is exact and timestamp
    semantics match the DuckDB oracle.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if names is None:
        names = (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        )
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        ns_cols = _nanos_timestamp_cols(path)
        df = spark.read.parquet(path)
        for c in ns_cols:
            df = df.withColumn(c, F.expr(f"CAST(timestamp_micros({c} DIV 1000) AS TIMESTAMP_NTZ)"))
        df = _land_multifile(spark, sf_dir, name, path, df)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# target bytes per landed input file (r13, guide §6 inverted for tiny
# local inputs): each driver table ships as ONE parquet file with one
# row group, so every scan — and everything narrow-chained above it —
# ran as a single task at any core count (the flat 8-vs-32-core ratios
# in SCALING.md). Landing a table once per dataset as
# size/LAND_FILE_BYTES files (capped at the session parallelism)
# restores scan parallelism without adding a per-query exchange; on a
# real deployment inputs arrive multi-split and the landing is a
# no-op (n_files <= 1 skips it). 128 KB keeps interpreted-lambda SQL
# over `documents` parallel at sf0.1 while sf0.001 stays single-file.
LAND_FILE_BYTES = 128 * 1024
# tables worth landing: the corpora whose consumers run expensive
# per-row work (interpreted higher-order lambdas, Arrow kernels) or
# feed the multi-table TPC-H joins. `events` is deliberately EXCLUDED:
# its ~36 consumers are cheap codegen'd windowed aggregates over a
# 2 MB table, and a 15-way scan added ~0.1 s of task scheduling per
# query (measured r13: events family +3.7 s with landing, docs/text
# -4.7 s) — per-table cost/benefit, not a blanket layout rule.
LAND_TABLES = ("documents", "embeddings", "lineitem", "orders",
               "customer", "part")


def _land_multifile(spark: SparkSession, sf_dir: str, name: str,
                    path: str, df):
    """Land ``df`` (the loaded driver table, post timestamp rebuild)
    as a multi-file parquet copy under the fixture scratch dir, once
    per (source file, table, layout); returns the landed scan, or ``df``
    unchanged when the table is too small to split. Content-identical
    rows (repartition is a row-preserving round-robin); the one-time
    landing is priced as a ``fixture_land:land_<name>`` plane row."""
    import hashlib
    import tempfile

    if name not in LAND_TABLES:
        return df
    try:
        stamp = source_stamp(path)
        raw_bytes = os.path.getsize(path)
    except OSError:
        return df
    cap = max(int(spark.sparkContext.defaultParallelism), 1)
    n_files = max(1, min(cap, raw_bytes // LAND_FILE_BYTES))
    if n_files < 2:
        return df
    key = hashlib.md5(
        f"{sf_dir}|{name}|corpus-land-v1|{n_files}|{stamp}".encode()
    ).hexdigest()[:12]
    dest = os.path.join(tempfile.gettempdir(), "spark_fixture_cache",
                        f"land-{key}", name)
    return land_once(spark, dest, f"land_{name}",
                     lambda: df.repartition(n_files))


def land_once(spark: SparkSession, path: str, label: str, build,
              partition_by: tuple[str, ...] = ()):
    """Scan of the parquet dataset at ``path``, first written from the
    DataFrame ``build()`` returns when no completed copy (``_SUCCESS``)
    is there, with ``partition_by`` as its directory partition columns:
    the write goes to a per-process temp dir renamed into
    place, so a reader never sees a partial copy and losing the rename
    race to a concurrent writer is benign. The write is priced as the
    ``fixture_land:<label>`` plane row. ``path`` must be keyed on
    everything the rows derive from (source stamps, the SQL text)."""
    import shutil
    import time

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t0 = time.perf_counter()
        tmp = f"{path}.tmp-{os.getpid()}"
        (build().write.mode("overwrite").partitionBy(*partition_by)
         .parquet(tmp))
        record_plane(f"fixture_land:{label}", time.perf_counter() - t0)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            # benign only if a concurrent writer won the race
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                raise
    return spark.read.parquet(path)


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (footer-only
    inspection). ``path`` may be a single file or a Spark-written
    dataset DIRECTORY — pyarrow's read_schema only accepts a file, so
    for directories the first part file's footer speaks for the
    dataset (a dataset with mixed ts physical types would be a writer
    bug upstream of us)."""
    import glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return []
        path = parts[0]
    # match the tz-aware variant too ("timestamp[ns, tz=UTC]"): Spark's
    # nanosAsLong reads BOTH as bigint, so missing the tz form here
    # would leave the column a raw long with no timestamp rebuild
    import pyarrow as pa

    return [f.name for f in pq.read_schema(path)
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]


# (label, seconds) per session-plane build, appended by each
# @session_plane build and drained by bench.py (since r10:
# first-consumer keys absorbed their family's plane build, so per-key
# bench numbers measured the plane lottery, not the query — bench.py
# now subtracts drained build seconds from the triggering query's
# elapsed and reports them as their own "plane:<label>" rows). Callers
# never need to touch this; every @session_plane build is captured, and
# the fixture landings record through record_plane(). Plane builds
# never nest (a build's deps are ensured before its timer starts), so
# each row prices only its own build and the rows sum to the total.
PLANE_TIMINGS: list[tuple[str, float]] = []


def record_plane(label: str, seconds: float) -> None:
    """Record one session-plane build for bench attribution."""
    PLANE_TIMINGS.append((label, seconds))


def drain_plane_timings() -> list[tuple[str, float]]:
    """Return and clear the plane-build records accumulated since the
    last drain (bench.py calls this after every query execution)."""
    out = list(PLANE_TIMINGS)
    PLANE_TIMINGS.clear()
    return out


# label -> the memoized ensure function of every session plane (the
# shared relations built once per (session, dataset)); filled by
# @session_plane as the operator modules import
SESSION_PLANES: dict[str, object] = {}

# per driver thread, the plane build it is running: ``current`` is
# (label, its deps, the DataFrames it pins), or None
_BUILDING = threading.local()
# guards the creation of the plane state held on each session
_STATE_LOCK = threading.Lock()


def _building() -> tuple[str, tuple[str, ...], list] | None:
    return getattr(_BUILDING, "current", None)


def _session_planes(spark: SparkSession) -> dict:
    """The session's plane entries: label -> (key, value, pinned
    DataFrames). Held on the session object itself, so a plane lives
    exactly as long as the session whose temp views it registered."""
    with _STATE_LOCK:
        if getattr(spark, "_session_planes", None) is None:
            spark._session_planes = {}
        return spark._session_planes


def _build_lock(spark: SparkSession, label: str) -> threading.Lock:
    """The lock a miss of plane ``label`` on this session builds under,
    held on the session object beside its planes."""
    with _STATE_LOCK:
        if getattr(spark, "_session_plane_locks", None) is None:
            spark._session_plane_locks = {}
        return spark._session_plane_locks.setdefault(label,
                                                      threading.Lock())


def session_plane(label: str, deps: tuple[str, ...] = ()):
    """Turn a plane build ``build(spark, key)`` into its memoized
    ``ensure(spark, key=None)`` function.

    ``key`` identifies the dataset (the sf_dir the query entry points
    pass), the plane's only input. An explicit key hits only a plane
    built under the same key; ``key=None`` ("whatever ``documents``
    currently is", for single-fixture sessions) takes whatever plane
    the session already holds. On a hit the build's return value is
    returned again, and nothing else runs.

    ``deps`` are the labels of the planes the build reads, each
    registered before this one (so the plane graph is acyclic). A miss
    drops the old entry, ensures each dep under the same ``key`` in
    declared order, and only then runs the build, timed as one
    ``(label, seconds)`` row of :data:`PLANE_TIMINGS`. Inside the build
    an ensure of a declared dep is a hit, and an ensure of any other
    plane raises, so one plane build never runs inside another. The
    entry is stored only when the build returns, so a build that raises
    leaves none and the next call retries. Labels are unique: they
    name the plane's timing rows and its :func:`drop_planes` handle.

    The running build is tracked per driver thread, so two threads may
    build unrelated planes at once, each timed as its own row. Every
    ensure of a plane looks for its entry under a per-(session, label)
    lock and builds while holding it, so two threads that miss the
    same plane of one session build it once: the second waits and
    takes the first's value. A build holds its own lock while it
    ensures its deps, so locks are taken in dep order, which is
    acyclic and cannot deadlock."""
    import functools
    import time

    if label in SESSION_PLANES:
        raise ValueError(f"session plane {label!r} is already registered")
    unknown = [d for d in deps if d not in SESSION_PLANES]
    if unknown:
        raise ValueError(f"session plane {label!r} depends on "
                         f"unregistered planes {unknown}")
    dep_ensures = [SESSION_PLANES[d] for d in deps]

    def wrap(build):
        @functools.wraps(build)
        def ensure(spark, key=None):
            building = _building()
            if building is not None and label not in building[1]:
                raise RuntimeError(
                    f"plane build {building[0]!r} ensured {label!r}, "
                    f"which is not among its deps {building[1]}")
            planes = _session_planes(spark)
            with _build_lock(spark, label):
                entry = planes.get(label)
                if entry is not None and (key is None or entry[0] == key):
                    return entry[1]
                if building is not None:
                    raise RuntimeError(f"plane {label!r} would build "
                                       f"inside {building[0]!r}")
                planes.pop(label, None)
                for dep in dep_ensures:
                    dep(spark, key)
                pins: list = []
                _BUILDING.current = (label, deps, pins)
                t0 = time.perf_counter()
                try:
                    value = build(spark, key)
                finally:
                    _BUILDING.current = None
                record_plane(label, time.perf_counter() - t0)
                planes[label] = (key, value, pins)
                return value

        ensure.deps = deps
        SESSION_PLANES[label] = ensure
        return ensure

    return wrap


def drop_planes(spark: SparkSession, *labels: str) -> None:
    """Forget this session's planes under ``labels``, so their next
    ensure call rebuilds them (their temp views stay registered until
    then)."""
    planes = _session_planes(spark)
    for label in labels:
        if label not in SESSION_PLANES:
            raise KeyError(f"no session plane labelled {label!r}")
        planes.pop(label, None)


def materialize_plane_df(df, view_name: str):
    """Checkpoint one DataFrame of the plane being built
    (``localCheckpoint(eager=True)``: executor-local blocks, lineage
    cut), register it under ``view_name`` and pin it in the plane's
    entry; returns the checkpointed DataFrame."""
    building = _building()
    if building is None:
        raise RuntimeError(
            f"materialize_plane_df({view_name!r}) outside a @session_plane "
            f"build: the view would have no plane entry to pin it")
    df = df.localCheckpoint(eager=True)
    df.createOrReplaceTempView(view_name)
    building[2].append(df)
    return df
