"""Job outputs: sinks + the bulk-staging/commit pipeline.

Reference formats (``JobOutputSpec.java:53-66``): ``kiji, text, seq, map,
avro, avrokv, hfile`` with an ``@nsplits`` shard count. Spark mapping:

- text/csv/avro/parquet -> ``df.coalesce(n).write.*``
- kiji (direct table)   -> append/overwrite parquet table (the analogue of
  DirectKijiTableWriterContext's buffered puts — Spark writers batch
  natively)
- hfile (bulk staging)  -> ``repartitionByRange(key).sortWithinPartitions``
  sorted parquet staging + atomic directory-rename commit: the Spark-native
  version of TotalOrderPartitioner + KijiHFileOutputFormat + HFileLoader
  (``.../output/HFileMapReduceJobOutput.java:244-299``,
  ``.../HFileLoader.java:43-76``). Range partitioning samples boundaries
  exactly like the reference derives region splits; honoring an EXISTING
  table's boundaries is supported via explicit bucket ids.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F


@dataclass
class JobOutput:
    """Declarative output spec."""

    format: str
    path: str = ""
    nsplits: int | None = None
    mode: str = "overwrite"
    options: dict[str, str] = field(default_factory=dict)
    key_cols: list[str] = field(default_factory=lambda: ["entity_id"])
    #: hive-style partition columns for file outputs (date partitioning is
    #: the standard 100 TB layout: partition pruning on every read)
    partition_by: list[str] = field(default_factory=list)

    def save(self, df: DataFrame) -> None:
        n = self.nsplits
        fmt = self.format
        if fmt == "text":
            out = df
            if len(df.columns) > 1:
                # text sink takes one string column; join K/V with a tab
                # like Hadoop TextOutputFormat
                out = df.select(F.concat_ws("\t", *[
                    F.col(c).cast("string") for c in df.columns]).alias("value"))
            else:
                out = df.select(F.col(df.columns[0]).cast("string").alias("value"))
            # honor parsed writer options (e.g. compression=gzip) like
            # the csv/parquet branches — they were silently dropped
            # here (r13 review finding)
            ((out.coalesce(n) if n else out).write.mode(self.mode)
             .options(**self.options).text(self.path))
            return
        if fmt == "csv":
            w = (df.coalesce(n) if n else df).write.mode(self.mode).options(**self.options)
            w.csv(self.path)
            return
        if fmt in ("avro", "avrokv"):
            from kiji_mapreduce_spark.io.avro_io import write_avro

            out = df
            if fmt == "avrokv":
                # AvroKeyValueOutputFormat shape: a (key, value) record
                # per row, first column = key, second = value
                if len(df.columns) != 2:
                    raise ValueError(
                        "avrokv output needs exactly 2 columns "
                        f"(key, value); got {df.columns}")
                out = df.select(F.col(df.columns[0]).alias("key"),
                                F.col(df.columns[1]).alias("value"))
            write_avro(out, self.path, mode=self.mode,
                       options=self.options, nsplits=n)
            return
        if fmt == "seq":
            # SequenceFile: K/V pairs via the RDD API. saveAsSequenceFile
            # has no write modes, so honor JobOutput.mode here (a rerun
            # with the default overwrite used to crash on the existing
            # dir — r5 review finding); nsplits coalesces like the other
            # formats.
            self._reject_unsupported("seq")
            if len(df.columns) != 2:
                # the avrokv discipline: the K/V contract must fail
                # loudly — a 3rd column was silently DROPPED and a
                # 1-column frame crashed with IndexError inside
                # executor tasks (r13 review finding)
                raise ValueError(
                    "seq output needs exactly 2 columns (key, value); "
                    f"got {df.columns}")
            if not self._prepare_rdd_dest(df.sparkSession):
                return
            rdd = df.rdd.map(lambda r: (str(r[0]), str(r[1])))
            if n:
                rdd = rdd.coalesce(n)
            rdd.saveAsSequenceFile(self.path)
            return
        if fmt == "map":
            self._reject_unsupported("map")
            if not self._prepare_rdd_dest(df.sparkSession):
                return
            write_mapfile(df, self.path, nsplits=n)
            return
        if fmt in ("kiji", "table", "parquet"):
            # scheme-agnostic probe: os.path.exists on an hdfs:// or
            # file:// table path was always False, so a kiji write at a
            # LIVE scheme-prefixed entity table skipped the upsert path
            # and destructively parquet-overwrote the table directory,
            # layout file included (r13 review finding)
            if fmt == "kiji" and fs_exists(
                    os.path.join(self.path, "_kiji_layout.json"),
                    df.sparkSession):
                # target is an entity table: upsert rows through the
                # table's atomic write path instead of raw parquet.
                # Local file: URIs strip to plain paths — EntityTable
                # reads its layout sidecar with the local file API.
                from kiji_mapreduce_spark.table import EntityTable

                tpath = (_strip_file_scheme(self.path)
                         if _is_local_path(self.path) else self.path)
                EntityTable.open(df.sparkSession, tpath).upsert_rows(df)
                return
            w = (df.repartition(n) if n else df).write.mode(self.mode) \
                .options(**self.options)
            if self.partition_by:
                w = w.partitionBy(*self.partition_by)
            w.parquet(self.path)
            return
        if fmt == "hfile":
            # stage_sorted IS total-order overwrite staging: a
            # requested append/ignore mode cannot be honored and was
            # silently discarded (r13 review finding); partition_by
            # maps onto the stager's hive-partition support
            if self.mode not in ("overwrite", "error", "errorifexists"):
                raise ValueError(
                    f"hfile staging is overwrite-only; got mode="
                    f"{self.mode!r}")
            self._reject_unsupported("hfile", allow_partition_by=True)
            stage_sorted(df, self.path, key_cols=self.key_cols,
                         nsplits=self.nsplits,
                         partition_cols=self.partition_by or None)
            return
        raise ValueError(f"unknown output format {self.format!r}")

    def _reject_unsupported(self, fmt: str,
                            allow_partition_by: bool = False) -> None:
        """Loud failure for spec fields a sink cannot honor — silently
        ignoring a parsed option (seq dropping compression=, hfile
        dropping partition_by=) ships a spec the user believes applied
        (r13 review finding)."""
        if self.options:
            raise ValueError(
                f"{fmt} output does not support options "
                f"{sorted(self.options)}")
        if self.partition_by and not allow_partition_by:
            raise ValueError(
                f"{fmt} output does not support partition_by")

    def _prepare_rdd_dest(self, spark) -> bool:
        """Apply write-mode semantics for RDD-API sinks (seq/map), which
        have none of their own. Returns False when the save should be
        skipped (mode='ignore' on an existing path)."""
        if fs_exists(self.path, spark):
            if self.mode == "overwrite":
                fs_delete(self.path, spark)
            elif self.mode == "ignore":
                return False
            elif self.mode in ("error", "errorifexists"):
                raise FileExistsError(self.path)
        return True

    @property
    def fires_dataset_action(self) -> bool:
        """False for sinks that execute through the RDD API — their jobs
        never fire the QueryExecutionListener, so ``df.observe`` metrics
        are NOT delivered and a blocking ``Observation.get`` would hang
        forever (r5 review finding; ``Job.run`` consults this). seq/map
        are always RDD-backed; avro is RDD-backed only when the
        spark-avro jar is absent (the pure-Python fallback writer)."""
        if self.format in ("seq", "map"):
            return False
        if self.format in ("avro", "avrokv"):
            from pyspark.sql import SparkSession

            from kiji_mapreduce_spark.io.avro_io import (
                spark_avro_jar_available,
            )

            spark = SparkSession.getActiveSession()
            return spark is not None and spark_avro_jar_available(spark)
        return True


def job_output(spec: str) -> JobOutput:
    """Parse ``"format=text file=/out nsplits=8"`` / ``"format=hfile@8 ..."``."""
    parts = dict(p.split("=", 1) for p in spec.split() if "=" in p)
    fmt = parts.get("format", "")
    nsplits = None
    if "@" in fmt:
        fmt, _, ns = fmt.partition("@")
        nsplits = int(ns)
    if "nsplits" in parts:
        nsplits = int(parts["nsplits"])
    partition_by = [c for c in parts.get("partition_by", "").split(",") if c]
    # key_cols= reaches JobOutput.key_cols (the hfile sort key) — it
    # parsed into the ignored options dict before, silently staging on
    # the default entity_id (r13 review finding)
    key_cols = [c for c in parts.get("key_cols", "").split(",") if c]
    return JobOutput(
        format=fmt, path=parts.get("file", parts.get("table", "")),
        nsplits=nsplits,
        # mode= must land on JobOutput.mode, not in writer options —
        # the parquet writer ignores an option('mode', ...), so a
        # requested append would silently overwrite (r5 review finding)
        mode=parts.get("mode", "overwrite"),
        options={k: v for k, v in parts.items()
                 if k not in ("format", "file", "table", "nsplits",
                              "partition_by", "mode", "key_cols")},
        partition_by=partition_by,
        **({"key_cols": key_cols} if key_cols else {}),
    )


def stage_sorted(df: DataFrame, staging_path: str,
                 key_cols: list[str] | None = None,
                 nsplits: int | None = None,
                 bucket_expr: Column | None = None,
                 partition_cols: list[str] | None = None,
                 max_records_per_file: int | None = None) -> None:
    """Bulk staging: globally range-partitioned, within-partition sorted
    parquet — the reference's HFile pipeline in one Spark job.

    ``bucket_expr`` (optional) pins rows to precomputed bucket ids, the
    analogue of honoring an existing table's region boundaries
    (``HFileMapReduceJobOutput.makeTableKeySplit``, `:182-230`); without
    it Spark samples range boundaries (the reference's sampled
    TotalOrderPartitioner path). ``partition_cols`` writes hive-style
    partition directories (the entity-table canonical layout).
    ``max_records_per_file`` rolls output files at a bounded size, the
    analogue of KijiHFileOutputFormat's 256 MB HFile rolling
    (``.../output/framework/KijiHFileOutputFormat.java:160-200``) — rows
    stay sorted across the rolled files of a partition.
    """
    key_cols = key_cols or ["entity_id"]
    keys = [F.col(c) for c in key_cols]
    if bucket_expr is not None:
        staged = df.repartition(bucket_expr).sortWithinPartitions(*keys)
    elif nsplits:
        staged = df.repartitionByRange(nsplits, *keys).sortWithinPartitions(*keys)
    else:
        staged = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
    writer = staged.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(staging_path)


def write_bucketed(df: DataFrame, table_name: str, keys: list[str],
                   n_buckets: int = 16, sort_keys: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Persist as a bucketed catalog table (``bucketBy`` + ``sortBy``).

    Two tables bucketed identically on their join key equi-join with NO
    shuffle on either side — the 100 TB replacement for re-shuffling a
    fact table on every join (the reference co-located via HBase regions;
    Spark buckets are the analogue). Requires the session catalog (any
    warehouse dir works; no Hive needed).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *keys)
    writer = writer.sortBy(*(sort_keys or keys))
    writer.saveAsTable(table_name)


_MAPFILE_INDEX = "_mapfile_index.json"


def write_mapfile(df: DataFrame, path: str, nsplits: int | None = None) -> None:
    """MapFile-format output, Spark-first (``MapFileMapReduceJobOutput
    .java:71``: "an indexed, sorted SequenceFile"): globally key-sorted
    K/V sequence files plus a key-range index sidecar.

    The Hadoop MapFile pairs a sorted ``data`` SequenceFile with an
    ``index`` of sampled keys for binary-search lookup. The Spark
    re-expression: range-partition on the key (so part files are
    globally ordered), sort within each, and index each part file's
    [min, max] key span — ``mapfile_lookup`` then prunes a point read to
    one file, the same O(log n)-ish access the MapFile index bought.
    First column = key, second = value, both rendered as strings (the
    Text/Text MapFile case the reference emits).
    """
    import json

    key, value = df.columns[0], df.columns[1]
    kv = df.select(F.col(key).cast("string").alias("k"),
                   F.col(value).cast("string").alias("v"))
    n = nsplits or kv.rdd.getNumPartitions()
    # PIN the range shuffle before deriving both the files and the
    # index from it: repartitionByRange re-SAMPLES boundaries per
    # execution, so an unpinned plan could put a boundary key in part i
    # during the write but attribute it to part i+1 in a re-executed
    # index pass — lookups would then scan the wrong file and miss a
    # present key (r5 review finding)
    sorted_kv = (kv.repartitionByRange(n, F.col("k"))
                 .sortWithinPartitions("k")
                 .localCheckpoint(eager=True))

    def _bounds(idx, it):
        lo = hi = None
        for k, _ in it:
            if lo is None:
                lo = hi = k
            else:
                hi = k if k > hi else hi
                lo = k if k < lo else lo
        if lo is not None:
            yield (idx, lo, hi)

    pair_rdd = sorted_kv.rdd.map(lambda r: (r["k"], r["v"]))
    pair_rdd.saveAsSequenceFile(path)
    bounds = sorted_kv.rdd.mapPartitionsWithIndex(_bounds).collect()
    index = {f"part-{i:05d}": [lo, hi] for i, lo, hi in bounds}
    fs_write_text(os.path.join(path, _MAPFILE_INDEX),
                  json.dumps(index, indent=1, sort_keys=True),
                  df.sparkSession)


def mapfile_lookup(spark, path: str, key) -> list[str]:
    """Point lookup against a ``write_mapfile`` output: consult the
    index, read only the one part file whose key range covers ``key``
    (the MapFile binary-search analogue), scan it for the key."""
    import json

    index = json.loads(
        fs_read_text(os.path.join(path, _MAPFILE_INDEX), spark))
    key = str(key)
    hits = [part for part, (lo, hi) in index.items() if lo <= key <= hi]
    if not hits:
        return []
    out = []
    for part in hits:  # ranges only touch at boundaries: usually 1 file
        rdd = spark.sparkContext.sequenceFile(os.path.join(path, part))
        out.extend(v for k, v in rdd.filter(lambda kv: kv[0] == key).collect())
    return out


def _is_local_path(path: str) -> bool:
    scheme, sep, _ = path.partition("://")
    return not sep or scheme == "file"


def _strip_file_scheme(path: str) -> str:
    # every local-URI spelling: file:/x (Hadoop Path.toString — the
    # form this module itself documents), file:///x (RFC empty
    # authority), file://x. The '://'-only strip left file:/tmp/out
    # unstripped, so os.path.exists said False and mode semantics /
    # fs_read_text broke on that spelling (r13 review finding).
    if not path.startswith("file:"):
        return path
    rest = path[len("file:"):]
    while rest.startswith("//"):
        rest = rest[1:]
    return rest or "/"


def _swap_dir_local(staging_path: str, live_path: str) -> None:
    """Replace ``live_path`` with ``staging_path`` by renames, restoring
    the old directory if the swap fails partway (a crash between the two
    moves must not strand the table in a missing state)."""
    live_path = _strip_file_scheme(live_path)
    staging_path = _strip_file_scheme(staging_path)
    parent = os.path.dirname(os.path.abspath(live_path)) or "."
    os.makedirs(parent, exist_ok=True)
    if not os.path.exists(live_path):
        shutil.move(staging_path, live_path)
        return
    # the trash dir is dot-prefixed: Spark readers skip hidden dirs, so a
    # reader racing the swap never double-counts the old files
    trash = tempfile.mkdtemp(prefix=".bulkload-old-", dir=parent)
    old = os.path.join(trash, "old")
    shutil.move(live_path, old)
    try:
        shutil.move(staging_path, live_path)
    except BaseException:
        # restore the previous table state. A cross-filesystem move
        # degrades to copytree and can die midway leaving live_path
        # PARTIALLY populated — moving the backup onto an existing dir
        # would nest it INSIDE (live/old/...) instead of restoring it
        # (r13 review finding), so clear the wreckage first.
        if os.path.exists(live_path):
            shutil.rmtree(live_path, ignore_errors=True)
        shutil.move(old, live_path)
        raise
    shutil.rmtree(trash, ignore_errors=True)


def _hadoop_fs(path: str, spark=None):
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "non-local filesystem access needs an active SparkSession "
            "(the Hadoop FileSystem client lives in the JVM)")
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    p = HPath(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, HPath


def fs_exists(path: str, spark=None) -> bool:
    """Scheme-agnostic existence check (local via os, else Hadoop FS)."""
    if _is_local_path(path):
        return os.path.exists(_strip_file_scheme(path))
    fs, p, _ = _hadoop_fs(path, spark)
    return fs.exists(p)


def fs_listdir(path: str, spark=None) -> list[str]:
    """Scheme-agnostic child-name listing."""
    if _is_local_path(path):
        return os.listdir(_strip_file_scheme(path))
    fs, p, _ = _hadoop_fs(path, spark)
    return [st.getPath().getName() for st in fs.listStatus(p)]


def fs_write_text(path: str, text: str, spark=None) -> None:
    """Scheme-agnostic small-text write (index sidecars and markers)."""
    if _is_local_path(path):
        with open(_strip_file_scheme(path), "w") as f:
            f.write(text)
        return
    fs, p, _ = _hadoop_fs(path, spark)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def fs_read_text(path: str, spark=None) -> str:
    """Scheme-agnostic small-text read."""
    if _is_local_path(path):
        with open(_strip_file_scheme(path)) as f:
            return f.read()
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    fs, p, _ = _hadoop_fs(path, spark)
    stream = fs.open(p)
    try:
        # commons-io ships with Spark; one JVM call instead of a py4j
        # roundtrip per byte
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def fs_delete(path: str, spark=None) -> None:
    """Scheme-agnostic recursive delete (missing path is a no-op)."""
    if _is_local_path(path):
        shutil.rmtree(_strip_file_scheme(path), ignore_errors=True)
        return
    fs, p, _ = _hadoop_fs(path, spark)
    if fs.exists(p):
        fs.delete(p, True)


def _swap_dir_hadoop(staging_path: str, live_path: str, spark=None) -> None:
    """Same swap discipline through the Hadoop FileSystem API (HDFS, S3A,
    ...): rename live -> trash, staging -> live, restore on failure. The
    Spark-cluster analogue of HFileLoader's region-server file moves."""
    import uuid

    # one shared FileSystem resolution (_hadoop_fs) — this and
    # _swap_partition_dirs_hadoop hand-copied it (r13 review finding)
    fs, live_p, HPath = _hadoop_fs(live_path, spark)
    stage_p = HPath(staging_path)
    parent = live_p.getParent()
    fs.mkdirs(parent)
    if not fs.exists(live_p):
        if not fs.rename(stage_p, live_p):
            raise IOError(f"bulk_load: rename {staging_path} -> {live_path} failed")
        return
    trash = HPath(parent, f".bulkload-old-{uuid.uuid4().hex[:8]}")
    if not fs.rename(live_p, trash):
        raise IOError(f"bulk_load: could not move old table {live_path} aside")
    if not fs.rename(stage_p, live_p):
        fs.rename(trash, live_p)  # restore the previous table state
        raise IOError(f"bulk_load: rename {staging_path} -> {live_path} failed")
    fs.delete(trash, True)


def bulk_load(staging_path: str, table_path: str, spark=None) -> None:
    """Commit staged files into the live table atomically — the analogue
    of ``HFileLoader.load`` + ``kiji bulk-load`` (``KijiBulkLoad.java:46``).

    Local paths swap via os renames; paths with a non-file scheme
    (hdfs://, s3a://, ...) go through the JVM Hadoop FileSystem API. Both
    follow the same restore-on-failure discipline, so a crash mid-commit
    leaves the previous table intact rather than missing.
    """
    if _is_local_path(staging_path) and _is_local_path(table_path):
        _swap_dir_local(staging_path, table_path)
    else:
        _swap_dir_hadoop(staging_path, table_path, spark)


def swap_partition_dirs(staging_path: str, table_path: str,
                        subdirs: list[str], spark=None) -> None:
    """Commit only the named hive-partition subdirectories from a staging
    write into the live table — the incremental (bucket-scoped) commit:
    every other partition's files are left byte-untouched, so a one-row
    put rewrites one bucket, not the table.

    A partition with no staged output (all its rows deleted) is removed.
    Each subdirectory swap is individually atomic (restore-on-failure);
    cross-bucket visibility is bucket-at-a-time, matching the reference's
    region-level (not table-level) write atomicity.

    Local paths swap via os renames; non-file schemes (hdfs://, s3a://,
    ...) go through the JVM Hadoop FileSystem API like ``bulk_load``.
    """
    if not (_is_local_path(staging_path) and _is_local_path(table_path)):
        _swap_partition_dirs_hadoop(staging_path, table_path, subdirs, spark)
        return
    staging_path = _strip_file_scheme(staging_path)
    table_path = _strip_file_scheme(table_path)
    for sub in subdirs:
        stage_sub = os.path.join(staging_path, sub)
        live_sub = os.path.join(table_path, sub)
        if os.path.exists(stage_sub):
            _swap_dir_local(stage_sub, live_sub)
        elif os.path.exists(live_sub):
            shutil.rmtree(live_sub)
    shutil.rmtree(staging_path, ignore_errors=True)


def _swap_partition_dirs_hadoop(staging_path: str, table_path: str,
                                subdirs: list[str], spark=None) -> None:
    """Bucket-scoped commit through the Hadoop FileSystem API: per
    subdirectory, rename live aside, staged in, restore on failure —
    the same discipline as ``_swap_dir_hadoop`` but per partition."""
    import uuid

    fs, table_p, HPath = _hadoop_fs(table_path, spark)
    for sub in subdirs:
        stage_sub = HPath(staging_path, sub)
        live_sub = HPath(table_path, sub)
        if fs.exists(stage_sub):
            if not fs.exists(live_sub):
                fs.mkdirs(live_sub.getParent())
                if not fs.rename(stage_sub, live_sub):
                    raise IOError(f"swap: rename {stage_sub} -> {live_sub} failed")
                continue
            trash = HPath(table_p, f".swap-old-{uuid.uuid4().hex[:8]}")
            if not fs.rename(live_sub, trash):
                raise IOError(f"swap: could not move {live_sub} aside")
            if not fs.rename(stage_sub, live_sub):
                fs.rename(trash, live_sub)  # restore the previous state
                raise IOError(f"swap: rename {stage_sub} -> {live_sub} failed")
            fs.delete(trash, True)
        elif fs.exists(live_sub):
            fs.delete(live_sub, True)
    fs.delete(HPath(staging_path), True)


def _fs_total_size(uris: list[str], spark=None) -> int:
    """Total size of the given files. Local paths are os.stat calls;
    non-local files are grouped by parent directory and sized with ONE
    listStatus per directory — per-file getFileStatus round-trips
    against a NameNode/object store would take minutes for exactly the
    thousands-of-tiny-files datasets compaction exists to fix."""
    total = 0
    remote_by_dir: dict[str, set[str]] = {}
    for uri in uris:
        if _is_local_path(uri):
            total += os.path.getsize(_strip_file_scheme(uri))
        else:
            d, _, name = uri.rpartition("/")
            remote_by_dir.setdefault(d, set()).add(name)
    for d, names in remote_by_dir.items():
        fs, p, HPath = _hadoop_fs(d, spark)
        seen = set()
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name in names:
                total += st.getLen()
                seen.add(name)
        # a file the listing missed (eventual consistency, racing
        # writer) must raise like the per-file stat would, not
        # silently contribute 0 bytes and shrink the rewrite
        for name in names - seen:
            total += fs.getFileStatus(HPath(f"{d}/{name}")).getLen()
    return total


def _uri_parts(uri: str) -> tuple[str, list[str]]:
    """(scheme, path components) with the ``file:/`` vs ``file:///``
    spelling collapsed: ``DataFrame.inputFiles`` emits the triple-slash
    form while Hadoop's ``Path.toString`` emits the single-slash form,
    so raw string prefix tests between the two always miss."""
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*):/+", uri)
    if m:
        # authority (host:port), when present, lands as the first
        # component on both sides of a comparison, so it needs no
        # special casing
        return m.group(1), [c for c in uri[m.end():].split("/") if c]
    return "", [c for c in uri.split("/") if c]


def _dataset_relative(file_uri: str, root: str, spark=None) -> str | None:
    """``file_uri``'s path relative to dataset ``root``; None when the
    root is NOT a prefix (scheme/authority spelling mismatch) — callers
    must treat that as "unknown", not "flat": silently flattening a
    hive-partitioned dataset is the terminal layout change
    compact_parquet's docstring warns about (r10 review)."""
    try:
        fs, p, _ = _hadoop_fs(root, spark)
        qualified = fs.makeQualified(p).toString()
    except Exception:
        # no active session / unqualifiable path: fall back to the raw
        # root string, which still strips the parent-directory case for
        # local and already-absolute inputs
        qualified = root
    fscheme, fparts = _uri_parts(file_uri)
    rscheme, rparts = _uri_parts(qualified)
    if fscheme == rscheme and fparts[:len(rparts)] == rparts:
        return "/".join(fparts[len(rparts):])
    return None


def compact_parquet(spark, path: str, target_bytes: int = 128 << 20,
                    partition_by: list[str] | None = None,
                    flatten: bool = False,
                    dry_run: bool = False) -> dict:
    """Rewrite a parquet dataset into ~``target_bytes`` files and commit
    atomically — the maintenance pass every high-frequency writer needs
    at scale: a streaming sink's accumulated ``batch_id=`` partitions
    (``stream_crawl_ingest``, ``stream_media_dedup``'s code index) or
    any per-batch appender accretes thousands of tiny files, and at
    100 TB the resulting footer reads, task-per-file scheduling, and
    NameNode/listing pressure dominate query time long before the data
    does.

    Shape: one read of the dataset, one shuffle into
    ``ceil(total_bytes / target_bytes)`` tasks, one staged write,
    then the ``bulk_load`` directory swap (restore-on-failure, hidden
    trash dir) so readers racing the compaction see the old files or
    the new ones, never a mix.

    Layout safety: when the dataset IS hive-partitioned, the default
    preserves that layout (``partition_by`` = the discovered partition
    columns — files merge WITHIN each partition). Flattening a
    partitioned dataset is ``flatten=True`` and must be TERMINAL for
    that layout: a later writer adding a ``col=`` subdirectory next to
    flat part files makes ``spark.read.parquet`` silently DROP the
    flat rows (verified — the media-dedup index guard exists for the
    same reason), so flatten only once the partitioned writers to this
    path are done for good. Explicit ``partition_by`` re-buckets. In
    either partitioned mode a partition value's rows converge on ONE
    writer task (hash partitioning cannot split a value) with file
    sizes capped via ``maxRecordsPerFile``; a pathologically large
    single partition therefore writes through one slow task —
    partitionBy's own trade. A footer-only row-count check guards the
    swap: a
    staged count that differs from the live count aborts and leaves
    the dataset untouched. NOT safe to run concurrently with a writer
    to the same path — run between ingest runs (the streaming
    checkpoint lives on the INPUT side and is unaffected).
    """
    import math
    import uuid

    if flatten and partition_by:
        raise ValueError(
            "compact_parquet: flatten and partition_by are exclusive")
    df = spark.read.parquet(path)
    files = df.inputFiles()
    if not files:
        raise ValueError(f"compact_parquet: no parquet files under {path}")
    if not flatten and partition_by is None:
        # a hive-partition column appears as "/col=" in every file's
        # path BELOW THE DATASET ROOT — detect from the root-relative
        # path, not by diffing one file's footer schema against the
        # read schema (schema-evolved datasets can legitimately have
        # data columns missing from any given file, and misclassifying
        # one would silently rewrite it into directory names with
        # partition-value type coercion). Stripping the root matters:
        # a parent directory like /data/date=2024/docs would otherwise
        # misclassify a data column named "date" as a partition column
        # and silently rewrite the layout (r9 verdict #4).
        rel = _dataset_relative(files[0], path, spark)
        if rel is not None:
            discovered = [c for c in df.columns if f"/{c}=" in f"/{rel}"]
        else:
            # relativization failed (scheme/authority spelling the
            # qualifier couldn't reconcile): fall back to the full-path
            # heuristic. Over-detecting keeps the partitioned layout
            # (safe); defaulting to flat would be the terminal rewrite
            # the docstring warns about (r10 review).
            discovered = [c for c in df.columns if f"/{c}=" in files[0]]
        partition_by = discovered or None
    total = _fs_total_size(files, spark)
    n_out = max(1, math.ceil(total / max(target_bytes, 1)))
    live_count = df.count()  # parquet footer counts: no data scan
    # in partitioned mode a partition VALUE's rows all land in one
    # writer task (hash partitioning cannot split a value), so the
    # target file size is enforced by maxRecordsPerFile instead of
    # task count — estimated from the dataset's own avg row bytes. A
    # huge single partition still means one (slow) writer task; that
    # is partitionBy's own trade, documented above.
    rows_per_file = max(1, int(live_count * target_bytes
                               / max(total, 1)))
    stats = {"files_before": len(files), "bytes_before": total,
             "n_rows": live_count,
             "partition_by": partition_by or []}
    if partition_by:
        stats["max_records_per_file"] = rows_per_file
    else:
        stats["target_files"] = n_out
    if dry_run:
        return stats
    staging = f"{path.rstrip('/')}.compacting-{uuid.uuid4().hex[:8]}"
    writer = df.repartition(n_out, *partition_by) if partition_by \
        else df.repartition(n_out)
    w = writer.write.mode("overwrite") \
        .option("maxRecordsPerFile", rows_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    staged = spark.read.parquet(staging)
    staged_count = staged.count()
    if staged_count != live_count:
        fs_delete(staging, spark)
        raise IOError(
            f"compact_parquet: staged row count {staged_count} != live "
            f"{live_count}; aborting with {path} untouched")
    stats["files_after"] = len(staged.inputFiles())
    bulk_load(staging, path, spark)
    return stats


def pack_warc(records: DataFrame, shard_bytes: int = 1 << 30,
              n_shards: int | None = None,
              compression: str = "gzip",
              raw_col: str | None = None) -> DataFrame:
    """Typed WARC record rows -> archive SHARD rows (shard_id,
    n_records, n_bytes, content binary) — the write side of
    ``io.inputs.read_warc_records`` and the generation side of the
    index-first loop: every shard uses the per-record-member layout
    (one gzip member or one store-mode zstd frame per record), so
    ``warc_member_index`` can CDX-index the output and
    ``warc_records_from_ranges`` can fetch any single record back.
    The reference's sink palette (``JobOutputSpec.java:53-66``) stops
    at text/seq/avro; crawl re-sharding (merge small dumps, split
    giant ones, strip rejected records and write what survives) needs
    the archive format itself to be writable. When ``n_shards`` is
    None it runs Spark jobs when called, not at the first action: it
    pins the sized input and sums its bytes.

    Input columns: ``warc_type``, ``target_uri``, ``warc_date``,
    ``record_id``, ``content`` (the reader's schema — missing/empty
    header fields are omitted from the written record, which the
    reader returns as "" again: lossless round trip). With
    ``raw_col``, rows instead carry COMPLETE original record bytes
    (``read_warc_raw``'s output — plus ``record_id``/``target_uri``
    shard keys) wrapped verbatim in fresh members, so re-sharding
    existing archives preserves every header (Content-Type, digests,
    IP, Concurrent-To, ...) byte-for-byte — re-rendering from the
    5-column parse would silently strip them. ``compression``
    is ``gzip`` (the Common Crawl layout), ``zstd`` (store-mode
    frames via ``zstd_codec.compress_store`` — seekable, checksummed,
    decodable by any zstd tool), or ``none`` (plain ``.warc``).

    Scale shape (the ``pack_webdataset`` discipline): shard count
    from ONE aggregate, records hash-assign to shards via
    ``pmod(xxhash64(record_id, target_uri), n)`` — size-balanced in
    expectation, NO global sort or running-total window. One
    ``applyInPandas`` group builds one shard in memory
    (~``shard_bytes``); members sort by (record_id, target_uri,
    warc_date, warc_type, content) — content as the FINAL tiebreak,
    because a stable sort on non-unique keys alone would keep
    shuffle-arrival order for ties, and two task attempts could then
    publish byte-different files for the same shard path — and gzip
    writes zeroed mtimes, so shard bytes are deterministic under
    replay (speculative attempts produce identical files). When
    ``n_shards`` is derived (None), the sized input is pinned with
    an eager localCheckpoint so the sizing aggregate and
    the shard build don't each re-run the full source lineage (the
    bm25 postings discipline — for ``--from-warc`` re-shards that
    lineage is a full archive re-parse)."""
    import pandas as pd

    if compression not in ("gzip", "zstd", "none"):
        raise ValueError(
            f"pack_warc: compression must be gzip|zstd|none, "
            f"got {compression!r}")
    size_col = raw_col if raw_col else "content"
    sized = records.withColumn(
        "_bytes", F.coalesce(F.length(size_col), F.lit(0)) + 512)
    if n_shards is None:
        sized = sized.localCheckpoint(eager=True)
        total = sized.agg(F.sum("_bytes")).collect()[0][0] or 0
        n_shards = max(1, -(-int(total) // shard_bytes))
    assigned = sized.withColumn(
        "shard_id",
        F.pmod(F.xxhash64(F.col("record_id"), F.col("target_uri")),
               F.lit(n_shards)).cast("int"))
    schema = ("shard_id int, n_records long, n_bytes long, "
              "content binary")

    def _hdr(value: str) -> str:
        # raw CR/LF in a header value is WARC header INJECTION — a
        # hostile crawled "URI" could terminate the header block early
        # and desync every record after it. Legal URIs cannot contain
        # raw CR/LF, so percent-encode the two bytes (deterministic,
        # URI-shaped); the body is length-framed and needs no escaping
        return value.replace("\r", "%0D").replace("\n", "%0A")

    def _render(wtype, uri, date, rid, body: bytes) -> bytes:
        head = ["WARC/1.0"]
        if wtype:
            head.append(f"WARC-Type: {_hdr(wtype)}")
        if rid:
            head.append(f"WARC-Record-ID: {_hdr(rid)}")
        if date:
            head.append(f"WARC-Date: {_hdr(date)}")
        if uri:
            head.append(f"WARC-Target-URI: {_hdr(uri)}")
        head.append(f"Content-Length: {len(body)}")
        return ("\r\n".join(head) + "\r\n\r\n").encode() \
            + body + b"\r\n\r\n"

    def _rendered(order):
        if raw_col:
            for raw in order[raw_col]:
                # the inter-record CRLFCRLF is framing the walkers
                # strip — re-append it; record bytes stay verbatim
                yield (b"" if raw is None else bytes(raw)) + b"\r\n\r\n"
            return
        for wtype, uri, date, rid, body in zip(
                order["warc_type"], order["target_uri"],
                order["warc_date"], order["record_id"],
                order["content"]):
            yield _render(
                "" if wtype is None else str(wtype),
                "" if uri is None else str(uri),
                "" if date is None else str(date),
                "" if rid is None else str(rid),
                b"" if body is None else bytes(body))

    sort_cols = (["record_id", "target_uri", raw_col] if raw_col
                 else ["record_id", "target_uri", "warc_date",
                       "warc_type", "content"])

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        import gzip as _gzip

        from kiji_mapreduce_spark.io import zstd_codec

        order = pdf.sort_values(sort_cols, na_position="first")
        parts: list[bytes] = []
        frame_sizes: list[tuple[int, int]] = []
        for rec in _rendered(order):
            if compression == "gzip":
                parts.append(_gzip.compress(rec, mtime=0))
            elif compression == "zstd":
                frame = zstd_codec.compress_store(rec)
                frame_sizes.append((len(frame), len(rec)))
                parts.append(frame)
            else:
                parts.append(rec)
        n_recs = len(parts)
        if compression == "zstd" and parts:
            # the official seekable-format seek table (one skippable
            # frame at EOF): external zstd-seekable tooling can then
            # seek the shard without a CDX index; every in-engine
            # reader passes over skippable frames untouched
            parts.append(zstd_codec.seek_table(frame_sizes))
        blob = b"".join(parts)
        return pd.DataFrame({
            "shard_id": [int(pdf["shard_id"].iloc[0])],
            "n_records": [n_recs], "n_bytes": [len(blob)],
            "content": [blob]})

    keep = (["shard_id", "record_id", "target_uri", raw_col]
            if raw_col
            else ["shard_id", "warc_type", "target_uri", "warc_date",
                  "record_id", "content"])
    return (assigned.select(*keep)
            .groupBy("shard_id").applyInPandas(_build, schema))


def resolve_local_dir(out_dir: str, what: str) -> str:
    """Normalize a caller's output directory to a plain local path.

    Handles BOTH file-URI spellings — ``file:///p`` AND Spark's
    single-slash ``file:/p`` render (the exact form
    ``warc_member_index`` emits, which the old ``"://" in`` probe
    missed: ``file:/data/out`` sailed past the scheme guard, wasn't
    prefix-stripped, and abspath planted the shards in a literal
    ``./file:`` directory). ``file://host/path`` (a REMOTE host) and
    any other URI scheme raise loudly — Python workers hold no Hadoop
    filesystem client, so only locally-mounted paths are writable.
    Relative paths pin to the DRIVER's cwd before any closure
    captures them (executor cwd != shell cwd on a real cluster)."""
    import os as _os

    if out_dir.startswith("file:"):
        from urllib.parse import urlparse

        parsed = urlparse(out_dir)
        if parsed.netloc:
            raise NotImplementedError(
                f"{what}: file:// with a remote host is not a local "
                f"path: {out_dir!r}")
        local = parsed.path
    elif "://" in out_dir:
        raise NotImplementedError(
            f"{what} needs a locally-mounted out_dir, got "
            f"{out_dir!r} — mount the object store (s3fs/goofys) or "
            f"write shards from the pack rows yourself")
    else:
        local = out_dir
    return _os.path.abspath(local)


def write_shards(shards: DataFrame, out_dir: str, ext: str,
                 count_col: str, mode: str = "overwrite",
                 what: str = "write_shards") -> list[dict]:
    """Executor-side shard write shared by ``write_warc`` and
    ``write_webdataset``: each task writes its ``shard-NNNNNN{ext}``
    straight to a locally-mounted ``out_dir`` via a per-attempt
    unique temp name + atomic rename (speculative attempts produce
    identical bytes — the pack stage's determinism contract — so
    last-rename-wins is safe). No driver round-trip of shard bytes;
    returns the manifest (small rows only).

    ``mode``: ``overwrite`` (default) REMOVES existing
    ``shard-*{ext}`` files first — a rerun that derives fewer shards
    must not leave stale shards silently re-entering the corpus when
    the directory is read back; ``error`` refuses a directory that
    already holds shard files (the Spark-writer default posture)."""
    import glob as _glob
    import os as _os

    if mode not in ("overwrite", "error"):
        raise ValueError(f"{what}: mode must be overwrite|error, "
                         f"got {mode!r}")
    local = resolve_local_dir(out_dir, what)
    _os.makedirs(local, exist_ok=True)
    existing = sorted(_glob.glob(_os.path.join(local, f"shard-*{ext}")))
    if existing:
        if mode == "error":
            raise FileExistsError(
                f"{what}: {len(existing)} shard file(s) already in "
                f"{local} (first: {existing[0]}) — pass "
                f"mode='overwrite' to replace them")
        for stale in existing:
            _os.remove(stale)
    schema = f"shard_id int, path string, {count_col} long, n_bytes long"

    def _write(batches):
        import os as _os
        import uuid as _uuid

        import pandas as pd

        for pdf in batches:
            rows = {"shard_id": [], "path": [], count_col: [],
                    "n_bytes": []}
            for sid, n, nb, blob in zip(
                    pdf["shard_id"], pdf[count_col],
                    pdf["n_bytes"], pdf["content"]):
                path = _os.path.join(
                    local, f"shard-{int(sid):06d}{ext}")
                tmp = (f"{path}.inprogress-{_os.getpid()}-"
                       f"{_uuid.uuid4().hex}")
                with open(tmp, "wb") as f:
                    f.write(bytes(blob))
                _os.replace(tmp, path)  # atomic publish per shard
                rows["shard_id"].append(int(sid))
                rows["path"].append(path)
                rows[count_col].append(int(n))
                rows["n_bytes"].append(int(nb))
            yield pd.DataFrame(rows)

    return [r.asDict() for r in
            shards.mapInPandas(_write, schema).collect()]


def write_warc(records: DataFrame, out_dir: str,
               compression: str = "gzip", shard_bytes: int = 1 << 30,
               n_shards: int | None = None,
               mode: str = "overwrite",
               raw_col: str | None = None) -> list[dict]:
    """``pack_warc`` + ``write_shards``: shard-NNNNNN.warc[.gz|.zst]
    files in a locally-mounted ``out_dir``, stale shards from prior
    runs removed (or refused with ``mode='error'``). ``raw_col``
    passes through to ``pack_warc`` for byte-faithful re-sharding of
    ``read_warc_raw`` rows. Returns the shard manifest (small rows
    only)."""
    ext = {"gzip": ".warc.gz", "zstd": ".warc.zst",
           "none": ".warc"}[compression]
    shards = pack_warc(records, shard_bytes=shard_bytes,
                       n_shards=n_shards, compression=compression,
                       raw_col=raw_col)
    return write_shards(shards, out_dir, ext, "n_records",
                        mode=mode, what="write_warc")
