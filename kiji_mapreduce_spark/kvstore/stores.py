"""KeyValueStores: the reference's map-side lookup-join subsystem,
re-expressed as broadcast hash joins (SURVEY.md §2.4).

The reference has NO shuffle join — every join is an operator declaring
named stores (``getRequiredStores()``) that the framework binds and ships
to tasks, where code calls ``store.get(key)``
(``.../kvstore/KeyValueStoreReader.java:36-62``). The Spark-native
equivalent is a dimension DataFrame joined with ``broadcast()``; the
per-task LRU cache of ``KijiTableKeyValueStore`` (`:526-530`) is subsumed
by the broadcast (the whole build side is resident per executor).

Every store exposes:
- ``dataframe(spark)``  -> the (key, value...) build side
- ``lookup(df, on, how)`` -> join the store onto ``df`` (inner/left/
  left_semi/left_anti — ``containsKey`` ≅ semi, miss -> null ≅ left)
- ``reader(spark)``     -> a driver-side dict for imperative ``get`` /
  ``contains_key`` (python-style operators; small stores only)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F


class KeyValueStore:
    """Base store. Subclasses implement ``dataframe``."""

    #: column names of the build side key
    key_cols: list[str] = ["key"]

    def dataframe(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError

    def lookup(self, df: DataFrame, on: str | list[str] | None = None,
               how: str = "left") -> DataFrame:
        """Join this store onto ``df``, broadcasting the store.

        ``on`` maps the probe column(s) of ``df`` to the store key columns
        (defaults to the store's own key column names). ``how='left'``
        gives get()-returns-null-on-miss semantics; ``left_semi`` /
        ``left_anti`` give containsKey / NOT containsKey.
        """
        build = F.broadcast(self.dataframe(df.sparkSession))
        probe_cols = [on] if isinstance(on, str) else (on or self.key_cols)
        if len(probe_cols) != len(self.key_cols):
            # zip would silently drop the unmatched key columns and join
            # on a PARTIAL key — wrong fan-out with no error (r5 review)
            raise ValueError(
                f"lookup probe columns {probe_cols!r} must match the "
                f"store's composite key {self.key_cols!r} in length")
        if probe_cols == self.key_cols:
            return df.join(build, on=self.key_cols, how=how)
        cond = None
        for p, k in zip(probe_cols, self.key_cols):
            c = df[p] == build[k]
            cond = c if cond is None else (cond & c)
        joined = df.join(build, on=cond, how=how)
        if how in ("left_semi", "left_anti"):
            return joined
        return joined.drop(*[build[k] for k in self.key_cols])

    #: reader() materialization guard. The reference's stores are
    #: explicitly small-side (per-task LRU, KijiTableKeyValueStore.java:
    #: 526-530); an unbounded collect of a big store belongs in
    #: ``lookup()`` (broadcast join), not on the driver heap.
    reader_max_rows: int = 1_000_000

    def reader(self, spark: SparkSession,
               max_rows: int | None = None) -> dict:
        """Materialize as a dict for imperative get() in python-style
        operators. Only for genuinely small stores (it collects); raises
        once ``max_rows`` (default ``reader_max_rows``) is exceeded —
        big stores must use ``lookup()``/broadcast instead."""
        cap = self.reader_max_rows if max_rows is None else max_rows
        # limit(cap+1) bounds the driver transfer even when the store is
        # huge: the overflow probe never collects more than cap+1 rows
        rows = self.dataframe(spark).limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"{type(self).__name__}.reader(): store exceeds "
                f"{cap} rows; driver-side dicts are for small stores — "
                "use .lookup(df, ...) (broadcast join) for large ones, "
                "or raise max_rows explicitly")
        ks = self.key_cols
        out = {}
        for r in rows:
            key = r[ks[0]] if len(ks) == 1 else tuple(r[k] for k in ks)
            # first record wins per key, like AvroRecordKeyValueStore
            # (.../kvstore/lib/AvroRecordKeyValueStore.java:307)
            out.setdefault(key, r)
        return out


@dataclass
class InMemoryMapKeyValueStore(KeyValueStore):
    """Literal dict shipped with the job
    (``.../kvstore/lib/InMemoryMapKeyValueStore.java:88``)."""

    data: dict[Any, Any] = field(default_factory=dict)
    key_col: str = "key"
    value_col: str = "value"

    def __post_init__(self):
        self.key_cols = [self.key_col]

    def dataframe(self, spark: SparkSession) -> DataFrame:
        rows = [(k, v) for k, v in self.data.items()]
        if not rows:
            # schema cannot be inferred from zero rows: an empty map
            # binding crashed instead of behaving like
            # EmptyKeyValueStore (r13 review finding)
            return spark.createDataFrame(
                [], f"{self.key_col} string, {self.value_col} string")
        return spark.createDataFrame(rows, [self.key_col, self.value_col])

    def reader(self, spark=None, max_rows: int | None = None) -> dict:
        # max_rows accepted for base-class polymorphism (a literal dict
        # is already bounded; r13 review finding: the narrowed
        # signature broke callers holding a generic KeyValueStore)
        return dict(self.data)


@dataclass
class TextFileKeyValueStore(KeyValueStore):
    """Delimited text -> string->string map
    (``.../kvstore/lib/TextFileKeyValueStore.java:101,147``; default
    delimiter TAB). Lines without the delimiter are skipped."""

    paths: list[str] = field(default_factory=list)
    delimiter: str = "\t"

    def dataframe(self, spark: SparkSession) -> DataFrame:
        raw = spark.read.text(self.paths)
        tail_start = F.instr(F.col("value"), self.delimiter) + len(self.delimiter)
        return (
            raw.filter(F.col("value").contains(self.delimiter))
            .select(
                F.substring_index("value", self.delimiter, 1).alias("key"),
                F.col("value").substr(tail_start, F.length("value")).alias("value"),
            )
        )


@dataclass
class AvroRecordKeyValueStore(KeyValueStore):
    """Avro container file of records indexed by a named key field
    (``.../kvstore/lib/AvroRecordKeyValueStore.java:84``). Duplicate keys:
    first record wins (`:307`) — enforced with a min-file-order window
    over an explicit ``_ord`` = (lexicographic path, within-file block
    offset, within-block record index) sort key. A bare
    monotonically_increasing_id is NOT enough when the source bin-packs
    files size-descending or splits within files (the jar path did
    exactly that — ADVICE r4), so every branch builds ``_ord`` from file
    metadata."""

    paths: list[str] = field(default_factory=list)
    key_field: str = "key"
    format: str = "avro"  # "parquet" also accepted for staged stores

    def __post_init__(self):
        self.key_cols = [self.key_field]

    def dataframe(self, spark: SparkSession) -> DataFrame:
        from pyspark.sql import Window

        if self.format == "avro":
            from kiji_mapreduce_spark.io.avro_io import read_avro

            df = read_avro(spark, self.paths, ordered=True)
        else:
            df = (spark.read.format(self.format).load(self.paths)
                  .select("*", F.struct(
                      F.col("_metadata.file_path").alias("p"),
                      F.col("_metadata.file_block_start").alias("b"),
                      F.monotonically_increasing_id().alias("i"))
                      .alias("_ord")))
        w = Window.partitionBy(self.key_field).orderBy("_ord")
        return (df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_ord", "_rn"))


@dataclass
class AvroKVRecordKeyValueStore(AvroRecordKeyValueStore):
    """Avro generic (key, value) records
    (``.../kvstore/lib/AvroKVRecordKeyValueStore.java:80``)."""

    key_field: str = "key"


@dataclass
class SeqFileKeyValueStore(KeyValueStore):
    """SequenceFile K/V store (``.../kvstore/lib/SeqFileKeyValueStore.java:66``).
    Read via the RDD sequenceFile API and lifted to a DataFrame."""

    paths: list[str] = field(default_factory=list)

    def dataframe(self, spark: SparkSession) -> DataFrame:
        rdd = spark.sparkContext.sequenceFile(",".join(self.paths))
        return spark.createDataFrame(rdd, ["key", "value"]).dropDuplicates(["key"])


@dataclass
class TableKeyValueStore(KeyValueStore):
    """One column of an entity table keyed by row key; value = most recent
    version within [min_ts, max_ts)
    (``.../kvstore/lib/KijiTableKeyValueStore.java:109,84-97``)."""

    table: DataFrame | None = None
    column: str = ""  # "family:qualifier"
    min_ts: int | None = None
    max_ts: int | None = None
    key_cols: list[str] = field(default_factory=lambda: ["entity_id"])

    def dataframe(self, spark: SparkSession) -> DataFrame:
        # shared [min_ts, max_ts) arithmetic with ColumnRequest
        # slicing (request.ts_range_filter) — a lookup and a data
        # request must answer the same bounds identically
        from kiji_mapreduce_spark.request import ts_range_filter

        family, _, qualifier = self.column.partition(":")
        cells = F.col(f"{family}.{qualifier}") if qualifier else F.col(family)
        cells = ts_range_filter(cells, self.min_ts, self.max_ts)
        value = F.try_element_at(cells, F.lit(1))["value"]
        return self.table.select(*self.key_cols, value.alias("value"))


@dataclass
class DataFrameKeyValueStore(KeyValueStore):
    """A store over an arbitrary DataFrame build side (the general case
    the reference approximated with its Avro/Seq/Text file stores)."""

    df: DataFrame | None = None
    key_cols: list[str] = field(default_factory=lambda: ["key"])
    value_cols: list[str] | None = None  # None = all non-key columns

    def dataframe(self, spark: SparkSession) -> DataFrame:
        out = self.df
        if self.value_cols is not None:
            out = out.select(*self.key_cols, *self.value_cols)
        return out.dropDuplicates(self.key_cols)


@dataclass
class EmptyKeyValueStore(KeyValueStore):
    """Always-null store — explicit 'no data'
    (``.../kvstore/lib/EmptyKeyValueStore.java:38``)."""

    def dataframe(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame([], "key string, value string")

    def reader(self, spark=None, max_rows: int | None = None) -> dict:
        return {}


class UnconfiguredKeyValueStore(KeyValueStore):
    """Placeholder that MUST be overridden at bind time
    (``.../kvstore/lib/UnconfiguredKeyValueStore.java:42``)."""

    def dataframe(self, spark: SparkSession) -> DataFrame:
        raise RuntimeError(
            "UnconfiguredKeyValueStore must be replaced with a concrete "
            "store binding before the job runs"
        )


def bind_stores(required: dict[str, KeyValueStore | None],
                bindings: dict[str, KeyValueStore]) -> dict[str, KeyValueStore]:
    """Validate job bindings against an operator's ``required_stores()``
    (mirrors KeyValueStoreConfigValidator): every required store must end
    up concrete; unknown bindings are rejected."""
    unknown = set(bindings) - set(required)
    if unknown:
        raise ValueError(f"bindings for undeclared stores: {sorted(unknown)}")
    out: dict[str, KeyValueStore] = {}
    for name, default in required.items():
        store = bindings.get(name, default)
        if store is None or isinstance(store, UnconfiguredKeyValueStore):
            raise ValueError(f"required store {name!r} is not bound")
        out[name] = store
    return out
