"""Operator-archetype and table-surface queries: gatherer / producer /
pivoter / bulk-importer / cell-rewriter / MapReduce shapes, kv-store joins,
versioned-cell reads, entity-key packing (SURVEY.md §2.3–2.5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kiji_mapreduce_spark import cells
from kiji_mapreduce_spark.operators import BulkImporter, CellRewriter, Gatherer, MapReduceOperator, Pivoter, Producer
from kiji_mapreduce_spark.kvstore import DataFrameKeyValueStore
from kiji_mapreduce_spark.suite.common import _events, _t


# ---------------------------------------------------------------------------
# §2.3 Gatherer + reducer: scan -> flatMap -> combine/reduce (TPC-H Q1 shape)
# ---------------------------------------------------------------------------

class _PricingSummaryGatherer(Gatherer):
    """Gather (returnflag, linestatus) keyed measures; reduce = grouped agg.
    Catalyst supplies the map-side combine the reference used a combiner
    for (MapReduceJobBuilder.java:438-448)."""

    def gather_df(self, df, ctx):
        return df.filter(
            F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
        ).select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_disc_price"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))
             * (1 + F.col("l_tax"))).alias("_charge"),
            "l_discount",
        )

    def reduce_df(self, g, ctx):
        return g.groupBy("l_returnflag", "l_linestatus").agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum("_disc_price"), 2).alias("sum_disc_price"),
            F.round(F.sum("_charge"), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )


def q_gather_pricing_summary(spark, sf_dir):
    return _PricingSummaryGatherer().compile(_t(spark, sf_dir, "lineitem"))


SQL_GATHER_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# §2.4 KV stores: broadcast lookup / semi / anti joins
# ---------------------------------------------------------------------------

def q_kvstore_lookup_join(spark, sf_dir):
    """get(key) enrich: customer rows + nation name via a broadcast KV
    store (miss -> null = left join, KeyValueStoreReader.get)."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    store = DataFrameKeyValueStore(
        df=nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name"),
        key_cols=["c_nationkey"])
    return store.lookup(customer, how="left").select(
        "c_custkey", "c_nationkey", "n_name")


SQL_KVSTORE_LOOKUP = """
SELECT c_custkey, c_nationkey, n_name
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
"""


def q_kvstore_avro_file_join(spark, sf_dir):
    """End-to-end file-backed Avro KV store (AvroRecordKeyValueStore.
    java:84): write the nation dim as a REAL Avro container file (the
    built-in codec, io/avro_codec.py), open it as a store, broadcast-join
    onto customers. Driver-verifies that the whole Avro write->read->
    first-wins->lookup path produces exactly the plain SQL join."""
    import os as _os
    import tempfile as _tempfile

    from kiji_mapreduce_spark.io.avro_io import write_avro
    from kiji_mapreduce_spark.kvstore.stores import AvroRecordKeyValueStore

    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation_name"))
    path = _os.path.join(
        _tempfile.gettempdir(),
        f"kiji_avro_nation_{_os.path.basename(sf_dir.rstrip('/'))}")
    write_avro(nation, path, nsplits=1)
    store = AvroRecordKeyValueStore(paths=[path], key_field="c_nationkey")
    customer = _t(spark, sf_dir, "customer")
    return store.lookup(customer, how="left").select(
        "c_custkey", "c_nationkey", "nation_name")


SQL_KVSTORE_AVRO_FILE = """
SELECT c_custkey, c_nationkey, n_name AS nation_name
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
"""


def q_semi_join_customers_with_orders(spark, sf_dir):
    """containsKey idiom -> left_semi."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    store = DataFrameKeyValueStore(
        df=orders.select(F.col("o_custkey").alias("c_custkey")),
        key_cols=["c_custkey"])
    return store.lookup(customer, how="left_semi").select("c_custkey", "c_name")


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_anti_join_customers_without_orders(spark, sf_dir):
    """NOT containsKey: customers with no order in early 1995."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    store = DataFrameKeyValueStore(
        df=orders.select(F.col("o_custkey").alias("c_custkey")),
        key_cols=["c_custkey"])
    return store.lookup(customer, how="left_anti").select("c_custkey", "c_name")


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate < TIMESTAMP '1995-04-01')
"""


# ---------------------------------------------------------------------------
# §2.3 Producer: per-row derive (same-row write-back shape)
# ---------------------------------------------------------------------------

class _PriceBandProducer(Producer):
    def output_column(self):
        return "derived:price_band"

    def produce_expr(self, df, ctx):
        return (
            F.when(F.col("o_totalprice") < 100000, "low")
            .when(F.col("o_totalprice") < 300000, "mid")
            .otherwise("high")
        )


def q_producer_price_band(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    out = _PriceBandProducer().compile(orders)
    return out.select("o_orderkey", F.col("price_band"))


SQL_PRODUCER_PRICE_BAND = """
SELECT o_orderkey,
       CASE WHEN o_totalprice < 100000 THEN 'low'
            WHEN o_totalprice < 300000 THEN 'mid'
            ELSE 'high' END AS price_band
FROM orders
"""


# ---------------------------------------------------------------------------
# §2.3 Pivoter: re-key rows into a different table
# ---------------------------------------------------------------------------

class _OrdersByCustomerPivoter(Pivoter):
    """Pivot order rows into a customer-keyed summary table."""

    def output_key(self):
        return ["c_custkey"]

    def pivot_df(self, df, ctx):
        return df.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
            F.unix_millis(F.max("o_orderdate").cast("timestamp")).alias("last_order_ms"),
        )


def q_pivot_orders_by_customer(spark, sf_dir):
    return _OrdersByCustomerPivoter().compile(_t(spark, sf_dir, "orders"))


SQL_PIVOT_ORDERS = """
SELECT o_custkey AS c_custkey, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_spent,
       epoch_ms(max(o_orderdate)) AS last_order_ms
FROM orders GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# §1.1 versioned cells: events -> versioned table -> latest value
# ---------------------------------------------------------------------------

def _events_as_cells(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        cells.cells_from_events(F.col("ts_ms"), F.col("value")).alias("value_cells"))


def q_versioned_slice_maxversions(spark, sf_dir):
    """maxVersions=3 slice + ts-range filter: newest 3 readings per user
    within 2024, exploded back to rows (KijiDataRequest withMaxVersions)."""
    t = _events_as_cells(spark, sf_dir)
    lo = F.unix_millis(F.lit("2024-01-08 00:00:00").cast("timestamp"))
    sliced = t.select(
        "user_id",
        cells.retain_versions(
            F.filter(F.col("value_cells"), lambda c: c["ts"] >= lo), 3).alias("v3"))
    return sliced.select(
        "user_id", F.explode("v3").alias("cell")
    ).select("user_id", F.col("cell.ts").alias("ts_ms"),
             F.col("cell.value").alias("value"))


SQL_VERSIONED_SLICE = """
SELECT user_id, ts_ms, value FROM (
  SELECT user_id, epoch_ms(ts) AS ts_ms, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ms(ts) DESC, value DESC) AS rn
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
) WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# §2.3 CellRewriter: schema migration preserving timestamps
# ---------------------------------------------------------------------------

def q_cell_rewrite_int_to_long(spark, sf_dir):
    """int -> long cell migration preserving per-cell timestamps
    (KijiCellRewriter.convertAvro); exploded for comparison."""
    ev = _events(spark, sf_dir)
    table = ev.groupBy("user_id").agg(
        cells.cells_from_events(
            F.col("ts_ms"),
            F.floor(F.col("value")).cast("int")).alias("m"),
    ).select("user_id", F.struct(F.col("m").alias("reading")).alias("metrics"))
    rewriter = CellRewriter("metrics:reading", {"int": "long"})
    out = rewriter.compile(table)
    return out.select(
        "user_id", F.explode("metrics.reading").alias("cell")
    ).select("user_id", F.col("cell.ts").alias("ts_ms"),
             F.col("cell.value").alias("value_long"))


SQL_CELL_REWRITE = """
SELECT user_id, epoch_ms(ts) AS ts_ms,
       CAST(floor(value) AS BIGINT) AS value_long
FROM events
"""


# ---------------------------------------------------------------------------
# §2.1 map-family + RegexQualifierColumnFilter
# ---------------------------------------------------------------------------

def q_map_family_regex_filter(spark, sf_dir):
    """Map family (qualifier = event_type) filtered by qualifier regex
    '^p' (RegexQualifierColumnFilter), latest value per kept qualifier."""
    ev = _events(spark, sf_dir)
    per_qual = ev.groupBy("user_id", "event_type").agg(
        cells.cells_from_events(F.col("ts_ms"), F.col("value")).alias("cells"))
    as_map = per_qual.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cells"))).alias("fam"))
    filtered = as_map.select(
        "user_id",
        F.map_filter("fam", lambda k, _: k.rlike("^p")).alias("fam"))
    exploded = filtered.select(
        "user_id", F.explode("fam").alias("qualifier", "cells"))
    return exploded.select(
        "user_id", "qualifier",
        cells.latest_value(F.col("cells")).alias("latest_value"))


SQL_MAP_FAMILY_REGEX = """
SELECT user_id, event_type AS qualifier, value AS latest_value
FROM (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_ms(ts) DESC, value DESC) AS rn
  FROM events
  WHERE regexp_matches(event_type, '^p')
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# §2.3 BulkImporter: parse external records (JSON props) into table rows
# ---------------------------------------------------------------------------

class _PropsImporter(BulkImporter):
    """Parse the JSON ``props`` payload (regexp fast-path, no Python)."""

    def import_df(self, df, ctx):
        return df.select(
            F.col("event_id"),
            F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k"),
            F.col("event_type"),
        )


def q_bulk_import_props(spark, sf_dir):
    return _PropsImporter().compile(_t(spark, sf_dir, "events"))


SQL_BULK_IMPORT = """
SELECT event_id,
       CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INTEGER) AS k,
       event_type
FROM events
"""


# ---------------------------------------------------------------------------
# generic MapReduce: map + grouped reduce
# ---------------------------------------------------------------------------

class _EventStatsMR(MapReduceOperator):
    def group_keys(self):
        return ["event_type"]

    def map_df(self, df, ctx):
        return df.select("event_type", "value",
                         F.hour("ts").alias("hour"))

    def reduce_exprs(self, ctx):
        return [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.countDistinct("hour").alias("n_hours"),
        ]


def q_mapreduce_event_stats(spark, sf_dir):
    return _EventStatsMR().compile(_events(spark, sf_dir))


SQL_MAPREDUCE_EVENTS = """
SELECT event_type, count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       round(avg(value), 4) AS avg_value,
       count(DISTINCT date_part('hour', ts)) AS n_hours
FROM events GROUP BY event_type
"""
