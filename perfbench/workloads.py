"""The two workloads: one pass of each, with every output checked.

A pass yields its operations as ``(kind, seconds, ok)``. Timed regions
are the calls into the engine only; building inputs on the client and
checking results run between the spans.
"""

from __future__ import annotations

import math
import os
import random

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kiji_mapreduce_spark import suite
from kiji_mapreduce_spark.cells import latest_value
from kiji_mapreduce_spark.io.outputs import job_output
from kiji_mapreduce_spark.job import GatherJobBuilder, JobHistory
from kiji_mapreduce_spark.kvstore import DataFrameKeyValueStore
from kiji_mapreduce_spark.layout import TableLayout
from kiji_mapreduce_spark.operators import Gatherer
from kiji_mapreduce_spark.table import EntityTable
from perfbench.datagen import TABLES
from tools.check_correctness import _norm_rows, _type_mismatches, _values_equal

#: LLM-data curation queries: a deep dedup plan with AQE micro-jobs
#: (exact substring), the curation pipeline's analyzer-heavy survivor
#: frame, an eager pin with driver-side collects (dsir), and the
#: Structured Streaming path.
HEAVY_QUERIES = (
    "dedup_exact_substring", "pipeline_curate", "dsir_log_weights",
    "streaming_windowed_counts",
)

#: KijiMR-surface queries: the six operator archetypes (gatherer,
#: producer, pivoter, bulk importer, cell rewriter, MapReduce), a kv-store
#: join, versioned-cell reads, an anti join, a window, a rollup and an
#: as-of join.
ARCHETYPE_QUERIES = (
    "gather_pricing_summary", "producer_price_band",
    "pivot_orders_by_customer", "bulk_import_props",
    "cell_rewrite_int_to_long", "mapreduce_event_stats",
    "kvstore_lookup_join", "versioned_slice_maxversions",
    "anti_join_customers_without_orders", "window_top3_orders_per_customer",
    "rollup_revenue", "asof_join_purchase_click",
)

SUITE_QUERIES = HEAVY_QUERIES + ARCHETYPE_QUERIES


# -- oracle side (runs in the input-preparation process) ------------------

def oracle_results(in_dir: str, names) -> dict[str, tuple]:
    """DuckDB oracle per query on ``in_dir``: normalized (cols, rows) and
    the arrow schema the typed-schema check needs."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{in_dir}/{t}.parquet'")
        out = {}
        for name in names:
            tbl = con.execute(suite.ORACLES[name]).arrow()
            rows = [tuple(r.values()) for r in tbl.to_pylist()]
            out[name] = (*_norm_rows(tbl.schema.names, rows), tbl.schema)
        return out
    finally:
        con.close()


def rows_match(df, rows, oracle) -> bool:
    """The same comparison ``tools/check_correctness.py`` makes: typed
    schema class, column names, row count, order-insensitive values."""
    ocols, orows, oschema = oracle
    if _type_mismatches(df, oschema):
        return False
    scols, srows = _norm_rows(df.columns, [tuple(r) for r in rows])
    return (scols == ocols and len(srows) == len(orows)
            and all(all(_values_equal(a, b) for a, b in zip(x, y))
                    for x, y in zip(srows, orows)))


# -- suite_sweep -----------------------------------------------------------

def suite_pass(spark, tracer, in_dir: str, order, oracles) -> list[tuple]:
    """Each query: the constructor call (plan building, eager pins) and
    the final collect, timed apart; the collected rows are then checked
    against the query's DuckDB oracle."""
    ops = []
    for name in order:
        build = run = None
        ok = False
        try:
            with tracer.span("suite.build", name) as build:
                df = suite.QUERIES[name](spark, in_dir)
            with tracer.span("suite.exec", name) as run:
                rows = df.collect()
            ok = rows_match(df, rows, oracles[name])
        except Exception as e:  # a failed query is a failed operation
            print(f"query {name} failed: {e!r}"[:500])
        secs = sum(s["t1"] - s["t0"] for s in (build, run) if s is not None)
        ops.append((name, secs, ok))
    return ops


# -- entity_table_rw -------------------------------------------------------

LAYOUT = TableLayout.from_json("""
{"name": "customers",
 "row_key": {"format": "FORMATTED",
             "components": [{"name": "custkey", "type": "long"}]},
 "families": [
   {"name": "info", "kind": "group", "max_versions": 3,
    "columns": [{"name": "name", "schema": "string"},
                {"name": "nation", "schema": "int"},
                {"name": "acctbal", "schema": "double"},
                {"name": "segment", "schema": "string"}]},
   {"name": "orders", "kind": "map", "map_schema": "double",
    "max_versions": 3}]}
""")

PUT_SCHEMA = ("entity_id struct<custkey:long>, family string, "
              "qualifier string, ts long, value_str string")

ROUNDS = 1            # get/put rounds per pass
READS = 8             # gets of existing keys per round, before its put
FLUSH_EVERY = 1       # rounds between flush_deltas + merge_put
DELTA_CELLS = 200     # cells per put_delta batch
MERGE_CELLS = 1000    # cells per merge_put batch
NEW_ENTITIES = 10     # entities each merge_put creates


class _OrderTotals(Gatherer):
    """Per entity: latest balance, order-cell count, total of the latest
    order values, and the nation name through a bound kv store."""

    def required_stores(self):
        return {"nations": None}

    def gather_df(self, df, ctx):
        orders = F.coalesce(F.map_values("orders"), F.array())
        g = df.select(
            F.col("entity_id.custkey").alias("custkey"),
            latest_value(F.col("info.nation")).alias("nation"),
            latest_value(F.col("info.acctbal")).alias("acctbal"),
            F.size(orders).alias("n_orders"),
            F.round(F.aggregate(orders, F.lit(0.0),
                                lambda acc, c: acc + latest_value(c)),
                    2).alias("orders_total"))
        return ctx.get_store("nations").lookup(g, how="left")


class Model:
    """The client's own record of what it wrote: latest balance and the
    latest value per order qualifier of every entity."""

    def __init__(self, customer, orders):
        self.nation = dict(zip(customer["c_custkey"].to_pylist(),
                               customer["c_nationkey"].to_pylist()))
        self.acctbal = {k: (1, v) for k, v in zip(
            customer["c_custkey"].to_pylist(),
            customer["c_acctbal"].to_pylist())}
        self.orders: dict[int, dict[str, tuple]] = {k: {} for k in self.nation}
        for k, ok, v in zip(orders["o_custkey"].to_pylist(),
                            orders["o_orderkey"].to_pylist(),
                            orders["o_totalprice"].to_pylist()):
            self.orders[k][str(ok)] = (1, v)

    def apply(self, cells) -> None:
        for key, fam, qual, ts, val in cells:
            self.orders.setdefault(key, {})
            self.nation.setdefault(key, None)
            if fam == "info":
                if ts >= self.acctbal.get(key, (-1, None))[0]:
                    self.acctbal[key] = (ts, val)
            elif ts >= self.orders[key].get(qual, (-1, None))[0]:
                self.orders[key][qual] = (ts, val)

    def row_ok(self, key: int, row) -> bool:
        """A fetched row agrees with the model (``row`` None = miss)."""
        if key not in self.orders:
            return row is None
        if row is None:
            return False
        bal = row["info"]["acctbal"] if row["info"] else None
        if (bal[0]["value"] if bal else None) != self.acctbal.get(
                key, (None, None))[1]:
            return False
        got = {q: cells[0]["value"] for q, cells in (row["orders"] or {}).items()}
        return got == {q: v for q, (_, v) in self.orders[key].items()}

    def gathered_ok(self, tbl) -> bool:
        got = {r["custkey"]: r for r in tbl.to_pylist()}
        if set(got) != set(self.orders):
            return False
        for key, quals in self.orders.items():
            r = got[key]
            nation = self.nation[key]
            want_total = round(sum(v for _, v in quals.values()), 2)
            if (r["acctbal"] != self.acctbal.get(key, (None, None))[1]
                    or r["n_orders"] != len(quals)
                    or not math.isclose(r["orders_total"] or 0.0, want_total,
                                        abs_tol=0.011)
                    or r["n_name"] != (None if nation is None
                                       else f"NATION_{nation}")):
                return False
        return True


def _tree_files(path: str) -> dict[str, tuple]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written_bytes(before: dict, after: dict) -> int:
    return sum(size for p, (size, mt) in after.items()
               if before.get(p) != (size, mt))


class EntityPass:
    """One seeded closed-loop pass of a single client over an entity
    table built from ``customer`` + ``orders``."""

    def __init__(self, spark, tracer, in_dir: str, work_dir: str, seed: int,
                 reads: int = READS):
        self.spark, self.tracer = spark, tracer
        self.reads = reads
        self.in_dir, self.work_dir = in_dir, work_dir
        self.rng = random.Random(seed)
        self.model = Model(pq.read_table(f"{in_dir}/customer.parquet"),
                           pq.read_table(f"{in_dir}/orders.parquet"))
        self.table: EntityTable | None = None
        self.keys = sorted(self.model.orders)
        self.clock = 1000
        self.pending = False
        self.ops: list[tuple] = []
        self.gets: list[dict] = []
        self.written = 0
        self.value_bytes = 0
        self.stats: dict[str, float] = {}

    # each op: (kind, seconds, ok); a raised error is a failed op
    def _op(self, kind: str, fn) -> None:
        spans: list[dict] = []
        ok = False
        try:
            ok = fn(spans)
        except Exception as e:
            print(f"{kind} failed: {e!r}"[:500])
        self.ops.append((kind, sum(s["t1"] - s["t0"] for s in spans), ok))

    def _call(self, spans, layer, fn):
        with self.tracer.span(layer) as s:
            spans.append(s)
            return fn()

    def _cells(self, n: int, new_entities: int = 0) -> list[tuple]:
        cells = []
        new_keys = [max(self.model.orders) + 1 + i for i in range(new_entities)]
        for i in range(n):
            key = (new_keys[i % len(new_keys)] if i < 2 * new_entities
                   else self.rng.choice(self.keys))
            self.clock += 1
            if i % 4 == 0:
                cells.append((key, "info", "acctbal", self.clock,
                              round(self.rng.uniform(-999, 9999), 2)))
            else:
                quals = list(self.model.orders.get(key, {}))
                qual = (self.rng.choice(quals) if quals and self.rng.random() < 0.5
                        else f"n{self.clock}")
                cells.append((key, "orders", qual, self.clock,
                              round(self.rng.uniform(1000, 500000), 2)))
        return cells

    def _puts_df(self, cells):
        with self.tracer.span("client.batch"):
            self.value_bytes += sum(len(str(c[4])) for c in cells)
            return self.spark.createDataFrame(
                [((k,), f, q, ts, str(v)) for k, f, q, ts, v in cells],
                PUT_SCHEMA)

    def _write(self, spans, layer, fn) -> None:
        before = _tree_files(self.table.path)
        self._call(spans, layer, fn)
        self.written += _written_bytes(before, _tree_files(self.table.path))

    def get(self, key: int) -> None:
        def body(spans):
            df = self._call(spans, "table.get", lambda: self.table.get(key))
            rows = self._call(spans, "table.get.collect", df.collect)
            self.gets.append({"pending": self.pending, "spans": spans})
            return len(rows) <= 1 and self.model.row_ok(
                key, rows[0] if rows else None)
        self._op("get", body)

    def bulk_load(self) -> None:
        def body(spans):
            cust = self.spark.read.parquet(f"{self.in_dir}/customer.parquet")
            ords = self.spark.read.parquet(f"{self.in_dir}/orders.parquet")

            def cell(c):
                return F.array(F.struct(F.lit(1).cast("long").alias("ts"),
                                        c.alias("value")))
            omap = ords.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
                F.map_from_entries(F.collect_list(F.struct(
                    F.col("o_orderkey").cast("string"),
                    cell(F.col("o_totalprice"))))).alias("orders"))
            rows = cust.join(omap, "c_custkey", "left").select(
                F.struct(F.col("c_custkey").alias("custkey")).alias("entity_id"),
                F.struct(cell(F.col("c_name")).alias("name"),
                         cell(F.col("c_nationkey")).alias("nation"),
                         cell(F.col("c_acctbal")).alias("acctbal"),
                         cell(F.col("c_mktsegment")).alias("segment"),
                         ).alias("info"),
                "orders")
            staging = os.path.join(self.work_dir, "staging")
            self._call(spans, "table.bulk_stage",
                       lambda: self.table.bulk_stage(rows, staging))
            self._call(spans, "table.bulk_commit",
                       lambda: self.table.bulk_commit(staging))
            return True
        self._op("bulk_load", body)

    def put_delta(self) -> list[tuple]:
        cells = self._cells(DELTA_CELLS)
        puts = self._puts_df(cells)

        def body(spans):
            self._write(spans, "table.put_delta",
                        lambda: self.table.put_delta(puts))
            self.model.apply(cells)
            self.pending = True
            return True
        self._op("put", body)
        return cells

    def flush(self) -> None:
        def body(spans):
            self._write(spans, "table.flush", self.table.flush_deltas)
            self.pending = False
            return True
        self._op("flush", body)

    def merge_put(self) -> list[tuple]:
        cells = self._cells(MERGE_CELLS, NEW_ENTITIES)
        puts = self._puts_df(cells)

        def body(spans):
            self._write(spans, "table.merge_put",
                        lambda: self.table.merge_put(puts))
            self.model.apply(cells)
            return True
        self._op("merge_put", body)
        return cells

    def gather(self) -> None:
        nation = self.spark.read.parquet(f"{self.in_dir}/nation.parquet")
        out = os.path.join(self.work_dir, "gathered")

        def body(spans):
            job = self._call(spans, "job.build", lambda: (
                GatherJobBuilder().with_input(self.table.scan())
                .with_gatherer(_OrderTotals())
                .with_store("nations", DataFrameKeyValueStore(
                    df=nation.select(F.col("n_nationkey").alias("nation"),
                                     "n_name"),
                    key_cols=["nation"]))
                .with_output(job_output(f"format=parquet file={out}"))
                .with_history(JobHistory(os.path.join(self.work_dir,
                                                      "_job_history")))
                .with_name("order_totals").build()))
            ran = self._call(spans, "job.run", job.run)
            return ran and self.model.gathered_ok(pq.read_table(out))
        self._op("gather", body)

    def compact(self) -> None:
        def body(spans):
            self._call(spans, "table.compact", self.table.compact)
            return self.table.read().count() == len(self.model.orders)
        self._op("compact", body)

    def run(self) -> list[tuple]:
        path = os.path.join(self.work_dir, "table")
        self.table = EntityTable.create(self.spark, path, LAYOUT)
        self.bulk_load()
        for r in range(1, ROUNDS + 1):
            for key in self.rng.sample(self.keys, self.reads) + [-r]:
                self.get(key)
            cells = self.put_delta()
            self.get(max({c[0] for c in cells},
                         key=lambda k: sum(c[0] == k for c in cells)))
            if r % FLUSH_EVERY == 0:
                self.flush()
                cells = self.merge_put()
                self.get(cells[0][0])
        self.stats["table.files"] = len(
            _tree_files(os.path.join(path, "data")))
        self.gather()
        self.compact()
        src = sum(os.path.getsize(f"{self.in_dir}/{t}.parquet")
                  for t in ("customer", "orders"))
        self.stats["table.space_ratio"] = sum(
            s for s, _ in _tree_files(path).values()) / src
        self.stats["table.write_amp"] = self.written / max(1, self.value_bytes)
        return self.ops
