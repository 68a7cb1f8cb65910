"""Entity tables: layout-typed, versioned, Parquet-backed.

The Spark mapping of a Kiji table (SURVEY.md §1.4): rows keyed by an
``entity_id`` struct, group families as structs of versioned-cell arrays,
map families as MapType — stored as Parquet partitioned by a hashed key
bucket so scans parallelize evenly and writes co-locate by key.

Write paths mirror the reference's two (SURVEY.md §2.2):
- ``merge_put``   = DirectKijiTableWriterContext (live upsert of cells)
- ``bulk_stage`` + ``io.outputs.bulk_load`` = the HFile pipeline

``compact`` applies maxVersions/TTL retention — the work HBase compactions
did for the reference (SURVEY.md §4 "genuinely custom" item 1).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, MapType, StructField, StructType,
)

from kiji_mapreduce_spark import cells as cell_fns
from kiji_mapreduce_spark.io.outputs import (
    bulk_load, fs_delete, fs_exists, fs_listdir, swap_partition_dirs,
)
from kiji_mapreduce_spark.layout import TableLayout

_LAYOUT_FILE = "_kiji_layout.json"


def _parse_value(value_str, value_type):
    """Decode a put's string value to the column's declared type: plain
    cast for primitives, JSON for record/array/map cells (the Avro-decode
    step of the reference's put path collapsed to from_json)."""
    if isinstance(value_type, (StructType, ArrayType, MapType)):
        return F.from_json(value_str, value_type)
    return value_str.cast(value_type)


def _rebuild_group(fam, cell_fn, keep_null: bool):
    """Group family ``fam`` rebuilt in one struct: column ``c`` becomes
    ``cell_fn(c, cells)``, where ``cells`` is read from the family's
    ORIGINAL value. The expression grows linearly with the column count
    (a chain of per-field struct updates re-reads the struct updated so
    far, doubling the analyzed plan per column). A NULL family becomes a struct of the
    per-column results (NULL cells where ``cell_fn`` leaves them NULL),
    or stays NULL with ``keep_null``."""
    family = F.col(fam.name)
    out = F.struct(*[cell_fn(c, family[c.name]).alias(c.name)
                     for c in fam.columns])
    return F.when(family.isNotNull(), out) if keep_null else out


class EntityTable:
    """A layout-typed entity table at a filesystem path."""

    def __init__(self, spark: SparkSession, path: str, layout: TableLayout,
                 n_buckets: int = 16):
        self.spark = spark
        self.path = path
        self.layout = layout
        self.n_buckets = n_buckets

    # -- creation / open ----------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession, path: str, layout: TableLayout,
               n_buckets: int = 16) -> "EntityTable":
        """Create an empty table: write the layout descriptor + empty data."""
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, _LAYOUT_FILE), "w") as f:
            f.write(layout.to_json())
        table = cls(spark, path, layout, n_buckets)
        empty = spark.createDataFrame([], table._physical_schema())
        empty.write.mode("overwrite").parquet(table._data_path())
        return table

    @classmethod
    def open(cls, spark: SparkSession, path: str,
             n_buckets: int = 16) -> "EntityTable":
        with open(os.path.join(path, _LAYOUT_FILE)) as f:
            layout = TableLayout.from_json(f.read())
        return cls(spark, path, layout, n_buckets)

    def _data_path(self) -> str:
        return os.path.join(self.path, "data")

    def _physical_schema(self) -> StructType:
        return self.layout.spark_schema().add("_bucket", IntegerType(), False)

    def _entity_schema(self, *cols: tuple[str, str]) -> StructType:
        """``entity_id`` (the row-key struct, components nullable so a
        client's struct casts to it) followed by ``cols``."""
        key = StructType([StructField(f.name, f.dataType)
                          for f in self.layout.row_key.spark_type()])
        schema = StructType().add("entity_id", key)
        for name, dtype in cols:
            schema = schema.add(name, dtype)
        return schema

    def _delta_schema(self) -> StructType:
        """The delta log's fragment contract: the five put columns, the
        ``_seq`` data column and the ``_batch``/``_bucket`` partition
        columns. ``put_delta`` writes exactly this; ``_read_delta`` and
        ``streaming.jobs.table_change_stream`` read with it."""
        return self._entity_schema(
            ("family", "string"), ("qualifier", "string"), ("ts", "long"),
            ("value_str", "string"), ("_seq", "long"), ("_batch", "long"),
            ("_bucket", "integer"))

    def _delete_schema(self) -> StructType:
        """Staged tombstones: what ``bulk_stage`` writes and
        ``bulk_commit`` reads back (the ``merge_delete`` columns)."""
        return self._entity_schema(
            ("family", "string"), ("qualifier", "string"),
            ("upto_ts", "long"))

    def _read_base(self) -> DataFrame:
        """The base files, read with the layout as reader schema: no
        footer-inference job, and a data dir without footers (created
        empty, or every row deleted) reads as empty."""
        return self.spark.read.schema(self._physical_schema()).parquet(
            self._data_path())

    def _bucket_for(self, packed):
        """Key bucket of a packed key (``RowKeySpec.pack``), the analogue
        of region assignment; co-locates a key's writes and enables
        bucket-pruned point lookups. On literals it folds to a constant,
        so ``get`` routes without running anything."""
        return F.pmod(F.crc32(self.layout.row_key.hash_of(packed)),
                      F.lit(self.n_buckets)).cast("int")

    def _bucket_expr(self):
        return self._bucket_for(self.layout.row_key.key_expr())

    # -- read ---------------------------------------------------------------
    def read(self, merge_deltas: bool = True) -> DataFrame:
        """Logical table scan; runs no Spark job when called. Base and
        delta files are read with the layout as reader schema
        (``_read_base``, ``_delta_schema``). When a delta log exists the
        scan is the merge-on-read view (base + fragments,
        ``_merge_view``); ``merge_deltas=False`` is the read-optimized
        view (base files only — what a flushed table always serves)."""
        base = self._read_base().drop("_bucket")
        if merge_deltas and self._delta_buckets():
            return self._merge_view(base, self._read_delta().drop("_bucket"))
        return base

    def _range_bound(self, bound, op: str):
        """Range predicate for ``scan``: a string compares on the packed
        key (RAW semantics, lexicographic); a tuple/list compares
        componentwise with TYPED casts — the form numeric/timestamp
        components need, since their string packing orders '10' < '2'
        (r5 review finding). A tuple shorter than the key is a prefix
        bound (start: inclusive of the prefix; limit: exclusive)."""
        fields = self.layout.row_key.spark_type().fields
        if not isinstance(bound, (tuple, list)):
            key = self.layout.row_key.key_expr()
            return key >= F.lit(bound) if op == ">=" else key < F.lit(bound)
        if not bound or len(bound) > len(fields):
            raise ValueError(
                f"scan bound must have 1..{len(fields)} components")
        comps = [F.col(f"entity_id.{f.name}") for f in fields[:len(bound)]]
        lits = [F.lit(v).cast(f.dataType) for f, v in zip(fields, bound)]

        def _cmp(i: int):
            if i == len(bound) - 1:
                return (comps[i] >= lits[i] if op == ">="
                        else comps[i] < lits[i])
            head = comps[i] > lits[i] if op == ">=" else comps[i] < lits[i]
            return head | ((comps[i] == lits[i]) & _cmp(i + 1))

        return _cmp(0)

    def scan(self, data_request=None, start_key=None, limit_key=None) -> DataFrame:
        """Scan with optional DataRequest projection + key range
        (KijiTableMapReduceJobInput RowOptions: start inclusive, limit
        exclusive). String bounds compare on the packed key; tuple
        bounds compare componentwise with typed casts — use tuples for
        numeric or timestamp key components (see ``_range_bound``)."""
        df = self.read()
        if start_key is not None:
            df = df.filter(self._range_bound(start_key, ">="))
        if limit_key is not None:
            df = df.filter(self._range_bound(limit_key, "<"))
        if data_request is not None:
            df = data_request.apply(df)
        return df

    def _project(self, df: DataFrame, exprs: dict) -> DataFrame:
        """One select of the layout's columns, ``exprs`` replacing the
        named ones."""
        return df.select(*[exprs[n].alias(n) if n in exprs else F.col(n)
                           for n in self.layout.spark_schema().names])

    def _key_literals(self, components) -> list:
        """Typed literal expressions for entity-id components — every
        comparison/rendering happens with Spark's own casts, so bool,
        double, and timestamp components match the stored values (a
        Python ``str(c)`` renders e.g. True as 'True' where Spark casts
        to 'true' — silent empty lookups)."""
        fields = self.layout.row_key.spark_type().fields
        if len(components) != len(fields):
            raise ValueError(
                f"expected {len(fields)} entity-id components "
                f"({[f.name for f in fields]}), got {len(components)}")
        return [F.lit(v).cast(f.dataType)
                for f, v in zip(fields, components)]

    def get(self, *components) -> DataFrame:
        """Point lookup by entity-id components; runs no Spark job when
        called. The key's bucket is ``_bucket_for`` over the typed
        literals, which Catalyst folds into a literal partition filter,
        so the scan prunes to one bucket directory before touching row
        data. Base and fragments are read with the layout as reader
        schema. With a delta log present, the same bucket-pruned filter
        runs on the (tiny) fragment set and the merge applies to this
        one key."""
        lits = self._key_literals(components)
        cond = F.col("_bucket") == self._bucket_for(
            self.layout.row_key.pack([l.cast("string") for l in lits]))
        for f, lit in zip(self.layout.row_key.spark_type().fields, lits):
            cond = cond & (F.col(f"entity_id.{f.name}").eqNullSafe(lit))
        row = self._read_base().filter(cond).drop("_bucket")
        if self._delta_buckets():
            frags = self._read_delta().filter(cond).drop("_bucket")
            return self._apply_puts(row, frags)
        return row

    # -- write --------------------------------------------------------------
    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("_bucket", self._bucket_expr())

    def _is_bucket_partitioned(self) -> bool:
        """True once the data dir is hive-partitioned by ``_bucket`` (the
        canonical layout; a freshly created empty table is not yet).
        Scheme-agnostic: a local glob on an hdfs://s3a:// table would
        always come up empty and silently degrade every merge to a
        full-table overwrite (r5 review finding)."""
        data = self._data_path()
        if not fs_exists(data, self.spark):
            return False
        return any(n.startswith("_bucket=")
                   for n in fs_listdir(data, self.spark))

    def _read_buckets(self, buckets: list[int]) -> DataFrame:
        """Partition-pruned read of only the given bucket directories."""
        return (self._read_base()
                .filter(F.col("_bucket").isin(list(buckets))).drop("_bucket"))

    def _affected_buckets(self, df: DataFrame) -> list[int]:
        """Distinct bucket ids touched by incoming puts/deletes/rows —
        at most ``n_buckets`` values, so collecting them is a constant-size
        driver action, never proportional to the data."""
        rows = (df.select(self._bucket_expr().alias("_bucket"))
                .distinct().collect())
        return sorted(r["_bucket"] for r in rows)

    def _write_canonical(self, df: DataFrame, out_path: str,
                         n_partitions: int | None = None,
                         max_records_per_file: int | None = None) -> None:
        """Write rows in the table's canonical physical layout: hive
        partition directory per key bucket, rows sorted by entity key
        inside each file (the HFile discipline: region dir + sorted
        cells). ``maxRecordsPerFile`` rolls oversized buckets into
        several still-sorted files, the analogue of
        ``KijiHFileOutputFormat``'s 256 MB rolling."""
        writer = (self._with_bucket(df)
                  .repartition(n_partitions or self.n_buckets, "_bucket")
                  .sortWithinPartitions(self.layout.row_key.key_expr())
                  .write.mode("overwrite"))
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.partitionBy("_bucket").parquet(out_path)

    def _rewrite_buckets(self, df: DataFrame, buckets: list[int],
                         max_records_per_file: int | None = None) -> None:
        """Incremental commit: write ``df`` (the new contents of exactly
        the ``buckets`` partitions) to staging and swap only those bucket
        directories into the live table. Untouched buckets' files are
        never read or rewritten — the Spark analogue of the reference's
        point-write path (``DirectKijiTableWriterContext.java:47-170``),
        where a put lands in one region, not a table rewrite. At 100 TB
        this is the difference between a seconds-long upsert and a full
        table job; writers touching disjoint buckets don't conflict.
        """
        staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex[:8]}")
        self._write_canonical(df, staging, n_partitions=max(len(buckets), 1),
                              max_records_per_file=max_records_per_file)
        swap_partition_dirs(
            staging, self._data_path(), [f"_bucket={b}" for b in buckets],
            spark=self.spark)

    def _commit(self, result: DataFrame, buckets: list[int] | None) -> None:
        """Write ``result``: the new contents of ``buckets``, or of the
        whole table when ``buckets`` is None."""
        if buckets is None:
            self.overwrite(result)
        else:
            self._rewrite_buckets(result, buckets)

    def overwrite(self, df: DataFrame) -> None:
        """Replace table contents, physically partitioned by key bucket
        (one directory per bucket, rows sorted by key inside) — point
        lookups prune to one bucket directory (PartitionFilters), the
        analogue of routing a get() to one HBase region.

        Writes land in a staging directory and swap in atomically
        (bulk_load), so concurrent readers never see a half-written
        table — the same commit discipline as the HFile path.
        """
        staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex[:8]}")
        self._write_canonical(df, staging)
        bulk_load(staging, self._data_path())
        # replace semantics: buffered fragments described the old contents
        shutil.rmtree(self._delta_path(), ignore_errors=True)

    def _apply_puts(self, current: DataFrame, puts: DataFrame) -> DataFrame:
        """The put-merge transformation: fold put fragments into the
        ``current`` logical rows, returning the updated rows (every
        layout column, no ``_bucket``).

        ``puts`` rows: (entity_id, family, qualifier, ts, value_str) and
        optionally ``_seq`` (a commit sequence number: fragments apply in
        ``_seq`` order, so a later delta batch wins a same-ts overwrite —
        without it apply order inside one batch is collect_list's,
        matching the reference's buffered-writer batch semantics).

        Full-outer merge on entity key, then per affected column a
        ``put_cell``. One shuffle on the key; existing cell arrays never
        leave the JVM.
        """
        if "_seq" not in puts.columns:
            puts = puts.withColumn("_seq", F.lit(0).cast("long"))
        key_expr_cur = self.layout.row_key.key_expr()
        grouped = (
            puts.withColumn("_k", self.layout.row_key.key_expr())
            .groupBy("_k")
            .agg(
                F.first("entity_id").alias("_eid"),
                # struct leads with _seq so array_sort orders fragments
                # by commit sequence (fields are still matched by name)
                F.array_sort(F.collect_list(
                    F.struct("_seq", "family", "qualifier", "ts",
                             "value_str"))).alias("_puts"),
            )
        )
        merged = current.withColumn("_k", key_expr_cur).join(
            grouped, on="_k", how="full_outer")
        # brand-new rows take their entity_id from the puts
        exprs = {"entity_id": F.coalesce(F.col("entity_id"), F.col("_eid"))}
        for fam in self.layout.families:
            if fam.kind == "map":
                # dynamic qualifiers: fold puts into the map, one
                # qualifier at a time (try_element_at: absent key -> null
                # cell -> put_cell creates it)
                value_type = (
                    fam.spark_type().valueType.elementType["value"].dataType)
                matching = F.filter(
                    F.coalesce(F.col("_puts"), F.array()),
                    lambda p: p["family"] == fam.name)
                base_map = F.coalesce(
                    F.col(fam.name),
                    F.map_from_arrays(F.array(), F.array()).cast(
                        fam.spark_type()))
                exprs[fam.name] = F.aggregate(
                    matching,
                    base_map,
                    lambda acc, p: F.map_concat(
                        F.map_filter(acc, lambda k, _: k != p["qualifier"]),
                        F.create_map(
                            p["qualifier"],
                            cell_fns.put_cell(
                                F.try_element_at(acc, p["qualifier"]),
                                p["ts"],
                                _parse_value(p["value_str"], value_type)))),
                )
                continue

            def put_cells(col, cells):
                value_type = (fam.spark_type()[col.name]
                              .dataType.elementType["value"].dataType)
                matching = F.filter(
                    F.col("_puts"),
                    lambda p: (p["family"] == fam.name)
                    & (p["qualifier"] == col.name))
                return F.aggregate(
                    F.coalesce(matching, F.array()), cells,
                    lambda acc, p: cell_fns.put_cell(
                        acc, p["ts"], _parse_value(p["value_str"], value_type)))

            # a NULL family on a fresh row becomes a struct of cells
            exprs[fam.name] = _rebuild_group(fam, put_cells, keep_null=False)
        return self._project(merged, exprs)

    def merge_put(self, puts: DataFrame) -> None:
        """Upsert cell versions into the table (the direct-writer path).

        ``puts`` rows: (entity_id, family, qualifier, ts, value_str).
        Values arrive as strings and are cast to the column's declared
        type — the Avro-encode step of the reference collapsed to a cast.
        New rows are created for unseen keys; existing cells get a
        timestamped version inserted (same-ts put overwrites).

        The merge reads and rewrites ONLY the bucket partitions the puts
        hash to (bucket-scoped incremental commit); a one-row put is a
        one-bucket job regardless of table size. For high-frequency
        small batches, ``put_delta`` defers even that (LSM-style).
        """
        self.flush_deltas()
        buckets = (self._affected_buckets(puts)
                   if self._is_bucket_partitioned() else None)
        current = self.read() if buckets is None else self._read_buckets(buckets)
        result = self._apply_puts(current, puts)
        self._commit(result, buckets)

    # -- delta (LSM) write path --------------------------------------------
    def _delta_path(self) -> str:
        return os.path.join(self.path, "delta")

    def _delta_buckets(self) -> list[int]:
        """Bucket ids holding pending fragments, read off the log's
        ``_batch=*/_bucket=*`` listing (scheme-agnostic: a local glob on
        a remote-scheme table would always come up empty, making
        acknowledged put_delta writes invisible). Runs no Spark job."""
        delta = self._delta_path()
        if not fs_exists(delta, self.spark):
            return []
        buckets = set()
        for n in fs_listdir(delta, self.spark):
            if not n.startswith("_batch="):
                continue
            for m in fs_listdir(os.path.join(delta, n), self.spark):
                if m.startswith("_bucket=") and any(
                        f.endswith(".parquet") for f in
                        fs_listdir(os.path.join(delta, n, m), self.spark)):
                    buckets.add(int(m.split("=", 1)[1]))
        return sorted(buckets)

    def _read_delta(self) -> DataFrame:
        # _batch is write-side replay bookkeeping (see put_delta);
        # fragment ordering travels as the _seq data column
        return (self.spark.read.schema(self._delta_schema())
                .parquet(self._delta_path()).drop("_batch"))

    def put_delta(self, puts: DataFrame,
                  batch_id: int | None = None) -> None:
        """Buffered put: append the fragments to the table's delta log
        and return — no base read, no base rewrite, O(batch) regardless
        of table or bucket size.

        The LSM discipline the reference inherited from HBase (memstore
        + HFiles): writes land in a small sorted structure, reads merge
        base + deltas, and ``flush_deltas`` (HBase flush + minor
        compaction) periodically folds deltas into their buckets. With
        16 multi-TB buckets, ``merge_put``'s bucket rewrite is still a
        heavy job for a one-row put; ``put_delta`` makes sustained
        small-batch ingest (e.g. streaming micro-batches) cheap and
        shifts the rewrite cost to a background flush cadence.

        Fragments land under a ``_batch=<seq>/_bucket=<b>`` partition
        (the batch seq doubles as ``_seq``, the fragment's commit
        order). ``batch_id`` is the streaming replay contract: a
        foreachBatch caller passes its micro-batch id, and a replay of
        the same batch after a crash OVERWRITES its own ``_batch``
        partition (dynamic partition overwrite) instead of appending
        duplicate fragments — the batch_id-partition discipline every
        streaming writer in ``streaming/jobs.py`` follows (r13 review
        finding: the delta path was the one at-least-once writer
        without it, duplicating the change feed on replay). Without
        ``batch_id`` each call appends under a fresh ``time_ns`` seq.

        Fragments are written in exactly ``_delta_schema``: the five
        put columns are selected and cast to it (other columns of
        ``puts`` are dropped), so every reader of the log can name its
        schema instead of inferring it. Reads prune ``_bucket`` exactly
        as the base does. Single-writer discipline assumed (same as the
        base write path).
        """
        seq = time.time_ns() if batch_id is None else int(batch_id)
        frag = (puts.select(*[F.col(f.name).cast(f.dataType)
                              for f in self._delta_schema().fields[:5]])
                .withColumn("_seq", F.lit(seq).cast("long"))
                .withColumn("_batch", F.lit(seq).cast("long"))
                .withColumn("_bucket", self._bucket_expr()))
        writer = frag.write.partitionBy("_batch", "_bucket")
        if batch_id is None:
            writer.mode("append").parquet(self._delta_path())
        else:
            (writer.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .parquet(self._delta_path()))

    def flush_deltas(self) -> list[int]:
        """Fold every delta fragment into its base bucket (bucket-scoped
        rewrite) and clear the delta log. Returns the buckets rewritten:
        the ``_bucket=`` ids listed under the log (``_delta_buckets``),
        so no job runs to find them. No-op when the log is empty —
        every base-mutating operator calls this first, so base mutations
        always see linear history."""
        buckets = self._delta_buckets()
        if not buckets:
            return []
        puts = self._read_delta().drop("_bucket")
        if self._is_bucket_partitioned():
            current = self._read_buckets(buckets)
        else:
            buckets = None
            current = self.read(merge_deltas=False)
        # the merged rows must be computed BEFORE the swap replaces the
        # base files the plan reads from
        result = self._apply_puts(current, puts).localCheckpoint(eager=True)
        self._commit(result, buckets)
        shutil.rmtree(self._delta_path(), ignore_errors=True)
        return buckets or []

    def _merge_view(self, base: DataFrame, puts: DataFrame) -> DataFrame:
        """Merge-on-read: apply delta fragments to the base scan without
        shuffling the base. Only rows whose keys appear in the delta need
        merging, so the base splits with broadcast semi/anti joins on the
        (small) delta key set; the full-outer merge runs on that small
        slice only. At 100 TB the base never shuffles."""
        key = self.layout.row_key.key_expr()
        hot_keys = puts.select(
            self.layout.row_key.key_expr().alias("_k")).distinct()
        base_k = base.withColumn("_k", key)
        cold = base_k.join(F.broadcast(hot_keys), "_k", "left_anti") \
            .drop("_k")
        hot = base_k.join(F.broadcast(hot_keys), "_k", "left_semi") \
            .drop("_k")
        return cold.unionByName(self._apply_puts(hot, puts))

    def upsert_rows(self, rows: DataFrame) -> None:
        """Row-level upsert: incoming full rows replace existing rows
        with the same entity key; other rows are untouched (the
        direct-table-write path for operators that emit whole rows, e.g.
        pivoters/table-reducers targeting this table). Bucket-scoped:
        only the partitions the incoming keys hash to are rewritten."""
        self.flush_deltas()
        buckets = (self._affected_buckets(rows)
                   if self._is_bucket_partitioned() else None)
        current = self.read() if buckets is None else self._read_buckets(buckets)
        key = self.layout.row_key.key_expr()
        incoming_keys = rows.select(key.alias("_k")).distinct()
        kept = current.withColumn("_k", key).join(
            incoming_keys, on="_k", how="left_anti").drop("_k")
        cols = [f.name for f in self.layout.spark_schema()]
        result = kept.select(*cols).unionByName(rows.select(*cols))
        self._commit(result, buckets)

    def increment(self, increments: DataFrame) -> None:
        """Counter increment (``KijiTableWriter.increment``; counter
        columns in the reference layout dialect, e.g.
        ``foo-test-rkf2.json:80``): add ``delta`` to the column's latest
        value, recording the sum as a new version at ``ts``.

        ``increments`` rows: (entity_id, family, qualifier, ts, delta).
        Only columns DECLARED ``counter`` accept increments (same
        contract as the reference, which throws on non-counter columns).
        A missing/never-written cell increments from 0. Several deltas
        for one cell in a batch are summed (one new version at the max
        ts). Batch-atomic per bucket like every table write; the
        bucket-scoped path keeps a single-row increment a one-bucket job.
        """
        self.flush_deltas()
        # validate: every referenced (family, qualifier) is a counter.
        # distinct set is bounded by the layout (group) / qualifier count
        # (map) — a tiny driver action, like _affected_buckets.
        refs = [(r["family"], r["qualifier"]) for r in
                increments.select("family", "qualifier").distinct().collect()]
        for fam_name, qual in refs:
            fam = self.layout.family(fam_name)
            declared = (fam.map_schema if fam.kind == "map" else next(
                (c.schema for c in fam.columns if c.name == qual), None))
            if declared != "counter":
                raise ValueError(
                    f"increment on non-counter column {fam_name}:{qual} "
                    f"(declared {declared!r})")
        buckets = (self._affected_buckets(increments)
                   if self._is_bucket_partitioned() else None)
        current = self.read() if buckets is None else self._read_buckets(buckets)
        grouped = (
            increments.withColumn("_k", self.layout.row_key.key_expr())
            .groupBy("_k")
            .agg(F.first("entity_id").alias("_eid"),
                 F.collect_list(F.struct("family", "qualifier", "ts", "delta"))
                 .alias("_incs")))
        merged = current.withColumn(
            "_k", self.layout.row_key.key_expr()).join(
            grouped, on="_k", how="full_outer")
        exprs = {"entity_id": F.coalesce(F.col("entity_id"), F.col("_eid"))}

        def bumped(cells, matching):
            """One new version: latest (or 0) + sum(deltas) @ max ts."""
            delta = F.aggregate(matching, F.lit(0).cast("long"),
                                lambda acc, i: acc + i["delta"])
            ts = F.array_max(F.transform(matching, lambda i: i["ts"]))
            new_val = F.coalesce(cell_fns.latest_value(cells), F.lit(0)) + delta
            return F.when(F.size(matching) > 0,
                          cell_fns.put_cell(cells, ts, new_val)) \
                .otherwise(cells)

        incs = F.coalesce(F.col("_incs"), F.array())
        touched_fams = {f for f, _ in refs}
        for fam in self.layout.families:
            if fam.name not in touched_fams:
                continue
            if fam.kind == "map":
                quals = [q for f, q in refs if f == fam.name]
                base_map = F.coalesce(
                    F.col(fam.name),
                    F.map_from_arrays(F.array(), F.array()).cast(
                        fam.spark_type()))
                out = base_map
                for q in quals:
                    matching = F.filter(
                        incs, lambda i: (i["family"] == fam.name)
                        & (i["qualifier"] == q))
                    out = F.when(
                        F.size(matching) > 0,
                        F.map_concat(
                            F.map_filter(out, lambda k, _: k != q),
                            F.create_map(
                                F.lit(q),
                                bumped(F.try_element_at(out, F.lit(q)),
                                       matching)))
                    ).otherwise(out)
                exprs[fam.name] = out
                continue

            def bump_cells(col, cells):
                if (fam.name, col.name) not in refs:
                    return cells
                return bumped(cells, F.filter(
                    incs, lambda i: (i["family"] == fam.name)
                    & (i["qualifier"] == col.name)))

            exprs[fam.name] = _rebuild_group(fam, bump_cells, keep_null=False)
        result = self._project(merged, exprs)
        self._commit(result, buckets)

    def merge_delete(self, deletes: DataFrame) -> None:
        """Apply tombstones (DirectKijiTableWriterContext semantics,
        reference `:104-151`): rows of (entity_id, family, qualifier,
        upto_ts) where

        - family NULL                -> delete the whole row
        - qualifier NULL             -> delete the whole family
        - upto_ts NULL               -> delete all versions of the column
        - upto_ts set                -> delete versions with ts <= upto_ts

        Same shape as merge_put: one key-join, cell arrays edited in
        place. Deletion is eager (no tombstone files to compact later) —
        the Spark-side simplification of HBase's delete markers.
        Bucket-scoped like merge_put; a bucket whose rows are all deleted
        has its partition directory removed.
        """
        self.flush_deltas()
        buckets = (self._affected_buckets(deletes)
                   if self._is_bucket_partitioned() else None)
        current = self.read() if buckets is None else self._read_buckets(buckets)
        keyed_deletes = (
            deletes.withColumn("_k", self.layout.row_key.key_expr())
            .groupBy("_k")
            .agg(F.collect_list(
                F.struct("family", "qualifier", "upto_ts")).alias("_dels"))
        )
        merged = current.withColumn(
            "_k", self.layout.row_key.key_expr()
        ).join(keyed_deletes, on="_k", how="left")
        dels = F.coalesce(F.col("_dels"), F.array())
        # row-level tombstone: family is NULL in any delete for this key
        row_deleted = F.exists(dels, lambda d: d["family"].isNull())
        merged = merged.filter(~row_deleted)

        def apply_cell_deletes(cells_col, fam_name, qual_expr):
            """Remove versions covered by any matching tombstone."""
            def covered(c):
                return F.exists(
                    dels,
                    lambda d: (d["family"] == fam_name)
                    & (d["qualifier"].isNull() | (d["qualifier"] == qual_expr))
                    & (d["upto_ts"].isNull() | (c["ts"] <= d["upto_ts"])),
                )
            return F.filter(cells_col, lambda c: ~covered(c))

        exprs = {}
        for fam in self.layout.families:
            if fam.kind == "map":
                exprs[fam.name] = F.map_filter(
                    F.transform_values(
                        F.col(fam.name),
                        lambda k, v: apply_cell_deletes(v, fam.name, k)),
                    lambda k, v: F.size(v) > 0)
                continue
            exprs[fam.name] = _rebuild_group(
                fam, lambda col, cells: apply_cell_deletes(
                    cells, fam.name, F.lit(col.name)), keep_null=True)
        result = self._project(merged, exprs)
        self._commit(result, buckets)

    def bulk_stage(self, df: DataFrame | None, staging_path: str,
                   max_records_per_file: int | None = None,
                   deletes: DataFrame | None = None) -> None:
        """Stage full rows, bucket-partitioned and key-sorted within each
        bucket (HFile analogue) — the staged layout is exactly the live
        table's canonical layout, so ``bulk_commit`` is a pure rename.

        ``deletes`` stages tombstone records alongside the rows,
        mirroring the reference's HFile path where a staged batch carries
        ``Put | DeleteFamily | DeleteColumn | DeleteCell`` markers
        (``output/framework/HFileKeyValue.java:196-216``): rows of
        (entity components, family, qualifier, upto_ts) with the same
        NULL conventions as ``merge_delete`` (family NULL = row, qualifier
        NULL = family, upto_ts NULL = all versions, else ts <= upto_ts).
        They are applied atomically at ``bulk_commit`` time against the
        committed contents. ``df=None`` stages a delete-only batch."""
        if df is None and deletes is None:
            raise ValueError("bulk_stage needs rows, deletes, or both")
        if df is not None:
            if fs_exists(staging_path.rstrip("/") + "/_deletes",
                         self.spark):
                # the row write overwrites the staging root, which would
                # silently wipe tombstones staged by an earlier call
                # (r5 review finding) — fail loudly instead
                raise ValueError(
                    f"{staging_path!r} already holds staged tombstones; "
                    "stage rows BEFORE deletes, or pass both to one "
                    "bulk_stage call")
            self._write_canonical(df, staging_path,
                                  max_records_per_file=max_records_per_file)
        if deletes is not None:
            # Spark's writer creates parent dirs on any scheme; only mark
            # the staging root for the pure-delete local case
            deletes.select(*[F.col(f.name).cast(f.dataType)
                             for f in self._delete_schema()]) \
                .write.mode("overwrite").parquet(
                    staging_path.rstrip("/") + "/_deletes")

    def bulk_commit(self, staging_path: str) -> None:
        """Swap staged files in as the table's new contents, then apply
        any staged tombstones. Replace semantics for the row payload: any
        buffered delta fragments describe the OLD contents and are
        discarded, like ``overwrite``. Staged deletes (HFileKeyValue
        delete markers) are applied after the swap through the same
        eager-tombstone path as ``merge_delete``, so a bulk-staged
        delete retracts exactly what a live delete would.

        Paths may be on any Hadoop-supported scheme (hdfs://, s3a://,
        file://, bare local) — probing goes through the scheme-agnostic
        fs helpers, same as ``bulk_load`` itself.

        Crash discipline: the staged ``_deletes`` parquet is never
        removed before the tombstones are APPLIED. The underscore prefix
        hides it from Spark readers, so it rides through the directory
        swap inside the committed table dir; a crash between swap and
        apply leaves the tombstones on disk (unapplied but recoverable)
        instead of silently dropping them."""
        staging_path = staging_path.rstrip("/")
        deletes_path = staging_path + "/_deletes"
        staged_deletes = None
        if fs_exists(deletes_path, self.spark):
            # pin the tombstone CONTENTS before any path mutation
            staged_deletes = self.spark.read.schema(
                self._delete_schema()).parquet(
                deletes_path).localCheckpoint(eager=True)
        has_rows = any(
            name.startswith("_bucket=") or name.endswith(".parquet")
            for name in fs_listdir(staging_path, self.spark)) if fs_exists(
                staging_path, self.spark) else False
        if has_rows:
            # _deletes rides along inside the swapped dir (hidden from
            # readers by the underscore prefix) until the apply succeeds
            bulk_load(staging_path, self._data_path(), self.spark)
            fs_delete(self._delta_path(), self.spark)
        elif staged_deletes is None:
            raise FileNotFoundError(
                f"nothing staged at {staging_path!r}")
        if staged_deletes is not None:
            self.merge_delete(staged_deletes)
            # applied: clear the marker wherever the swap left it
            fs_delete(self._data_path().rstrip("/") + "/_deletes",
                      self.spark)
            fs_delete(deletes_path, self.spark)
            if not has_rows:
                fs_delete(staging_path, self.spark)

    def produce(self, producer, context=None) -> None:
        """Run a Producer against this table and write the derived cells
        back to the SAME table — the enforced same-table produce flow
        (KijiProduceJobBuilder.java:168-171). The producer's output column
        must exist in the layout."""
        out_col = producer.output_column()
        family, _, qualifier = out_col.partition(":")
        fam = self.layout.family(family)  # KeyError if undeclared
        if qualifier and fam.kind == "group" and qualifier not in [
                c.name for c in fam.columns]:
            raise ValueError(
                f"producer output column {out_col!r} not in layout "
                f"{self.layout.name!r}")
        self.flush_deltas()
        updated = producer.compile(self.read(), context)
        self.overwrite(updated.select(
            *[f.name for f in self.layout.spark_schema()]))

    def fresh_get(self, components, producer, max_age_ms: int,
                  now_ms: int | None = None, context=None) -> DataFrame:
        """Freshened read: return the row, re-running ``producer`` first
        if its output column is missing or older than ``max_age_ms`` —
        the on-demand produce ('freshener') concept the reference points
        to from ``KijiContext.progress()`` (KijiScoring; SURVEY §2.6).

        The produce runs on just this row (bucket-pruned single-row scan)
        and merges back one cell.
        """
        def _cells_of(fam_val, qualifier):
            # map families surface as Python dicts — a missing qualifier
            # must read as "no cell yet" (freshen), not KeyError
            # (r5 review finding); group families surface as Rows
            if fam_val is None or not qualifier:
                return None
            if isinstance(fam_val, dict):
                return fam_val.get(qualifier)
            try:
                return fam_val[qualifier]
            except (KeyError, ValueError):
                return None

        now_ms = now_ms if now_ms is not None else int(time.time() * 1000)
        row_df = self.get(*components)
        first = row_df.first()
        if first is None:
            return row_df
        family, _, qualifier = producer.output_column().partition(":")
        fam_val = first[family] if family in row_df.columns else None
        cell_list = _cells_of(fam_val, qualifier)
        latest_ts = cell_list[0].ts if cell_list else None
        if latest_ts is not None and now_ms - latest_ts <= max_age_ms:
            return row_df  # still fresh: no compute
        updated = producer.compile(row_df, context)
        out_cells = _cells_of(updated.first()[family], qualifier)
        if not out_cells:
            raise ValueError(
                f"producer {producer!r} wrote no cell for its declared "
                f"output column {family}:{qualifier}")
        new_cell = out_cells[0]
        fam_type = self.layout.family(family).spark_type()
        value_type = (fam_type.valueType if hasattr(fam_type, "valueType")
                      else fam_type[qualifier].dataType
                      ).elementType["value"].dataType
        # value travels typed and is rendered by Spark's cast — a Python
        # str() would disagree with the cast for bool/double/timestamp
        put_schema = (StructType()
                      .add("entity_id", self.layout.row_key.spark_type(), False)
                      .add("family", "string").add("qualifier", "string")
                      .add("ts", "long").add("value", value_type))
        puts = self.spark.createDataFrame(
            [(tuple(first["entity_id"]), family, qualifier,
              new_cell.ts, new_cell.value)], put_schema)
        # render complex values as JSON — _parse_value decodes
        # record/array/map cells with from_json, and Spark's struct->
        # string cast is NOT JSON, so a cast here would round-trip to
        # null; primitives keep the exact cast
        if isinstance(value_type, (StructType, ArrayType, MapType)):
            value_str = F.to_json(F.col("value"))
        else:
            value_str = F.col("value").cast("string")
        puts = puts.select(
            "entity_id", "family", "qualifier", "ts",
            value_str.alias("value_str"))
        self.merge_put(puts)
        return self.get(*components)

    # -- maintenance --------------------------------------------------------
    def optimize(self, max_files_per_bucket: int = 1,
                 max_records_per_file: int | None = None) -> list[int]:
        """Small-file compaction: rewrite only the bucket partitions
        whose file count exceeds ``max_files_per_bucket``, bin-packing
        each back to key-sorted files (optionally rolled at
        ``max_records_per_file``). Returns the bucket ids rewritten.

        Small files accumulate from the delta log (flushed here first),
        from rolled staging files (``max_records_per_file`` bulk loads),
        and from external jobs appending into bucket directories — at
        100 TB, scan throughput dies on file-open overhead long before
        data volume. ``optimize`` is the companion op (Delta OPTIMIZE /
        HBase minor-compaction analogue): untouched buckets' files stay
        byte-identical, so it is safe to run continuously and only pays
        for the buckets that actually churned.
        """
        flushed = self.flush_deltas()  # folding deltas packs those buckets
        data = self._data_path()
        if not self._is_bucket_partitioned():
            return sorted(flushed)
        over = []
        for name in fs_listdir(data, self.spark):  # scheme-agnostic
            if not name.startswith("_bucket="):
                continue
            n_files = sum(
                1 for f in fs_listdir(os.path.join(data, name), self.spark)
                if f.endswith(".parquet"))
            if n_files > max_files_per_bucket:
                over.append(int(name.split("=")[1]))
        if over:
            over.sort()
            self._rewrite_buckets(self._read_buckets(over), over,
                                  max_records_per_file=max_records_per_file)
        return sorted(set(flushed) | set(over))

    def compact(self, now_ms: int | None = None) -> None:
        """Apply maxVersions + TTL retention to every versioned cell —
        the compaction the reference delegated to HBase. Narrow job: no
        shuffle, rewrite in place."""
        self.flush_deltas()
        now_ms = now_ms if now_ms is not None else int(time.time() * 1000)
        exprs = {}
        for fam in self.layout.families:
            def retained(col_expr, max_versions=None):
                out = cell_fns.retain_versions(
                    col_expr,
                    max_versions if max_versions is not None
                    else fam.max_versions)
                if fam.ttl_seconds:
                    out = cell_fns.expire_ttl(out, fam.ttl_seconds, now_ms)
                return out

            if fam.kind == "map":
                exprs[fam.name] = F.transform_values(
                    F.col(fam.name), lambda _, v: retained(v))
            else:
                # a column's own max_versions overrides the family's
                exprs[fam.name] = _rebuild_group(
                    fam, lambda col, cells: retained(cells, col.max_versions),
                    keep_null=True)
        self.overwrite(self._project(self.read(), exprs))
