"""EntityTable: create/open, scan with key range, merge_put upsert,
bulk staging + commit, compaction (maxVersions/TTL)."""

from pyspark.sql import functions as F

from kiji_mapreduce_spark.cells import latest_value
from kiji_mapreduce_spark.layout import TableLayout
from kiji_mapreduce_spark.request import DataRequest
from kiji_mapreduce_spark.table import EntityTable

LAYOUT = TableLayout.from_json("""
{"name": "users",
 "row_key": {"format": "FORMATTED",
             "components": [{"name": "key", "type": "string"}]},
 "families": [
   {"name": "info", "kind": "group", "max_versions": 2, "ttl_seconds": 10,
    "columns": [{"name": "email", "schema": "string"},
                {"name": "visits", "schema": "long"}]},
   {"name": "tags", "kind": "map", "map_schema": "string",
    "max_versions": 5}]}
""")


def _puts(spark, rows):
    return spark.createDataFrame(
        rows, "entity_id struct<key:string>, family string, qualifier string,"
        " ts long, value_str string")


def test_create_open_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t1")
    EntityTable.create(spark, path, LAYOUT)
    t = EntityTable.open(spark, path)
    assert t.layout.name == "users"
    assert t.read().count() == 0


def test_merge_put_creates_and_updates(spark, tmp_path):
    path = str(tmp_path / "t2")
    t = EntityTable.create(spark, path, LAYOUT)
    t.merge_put(_puts(spark, [
        (("alice",), "info", "email", 10, "a1@x.com"),
        (("bob",), "info", "visits", 10, "3"),
    ]))
    assert t.read().count() == 2
    # update alice (new version) + same-ts overwrite for bob
    t.merge_put(_puts(spark, [
        (("alice",), "info", "email", 20, "a2@x.com"),
        (("bob",), "info", "visits", 10, "4"),
    ]))
    got = {r["entity_id"]["key"]: r for r in t.read().collect()}
    alice_email = [(c.ts, c.value) for c in got["alice"]["info"]["email"]]
    assert alice_email == [(20, "a2@x.com"), (10, "a1@x.com")]
    bob_visits = [(c.ts, c.value) for c in got["bob"]["info"]["visits"]]
    assert bob_visits == [(10, 4)]  # cast to long, overwritten at equal ts


def test_scan_key_range_and_request(spark, tmp_path):
    path = str(tmp_path / "t3")
    t = EntityTable.create(spark, path, LAYOUT)
    t.merge_put(_puts(spark, [
        (("a",), "info", "email", 1, "a@x"),
        (("b",), "info", "email", 1, "b@x"),
        (("c",), "info", "email", 1, "c@x"),
    ]))
    out = t.scan(DataRequest.build("info:email"), start_key="a", limit_key="c")
    keys = sorted(r.entity_id.key for r in out.collect())
    assert keys == ["a", "b"]
    assert out.columns == ["entity_id", "info_email"]


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    path = str(tmp_path / "tg")
    t = EntityTable.create(spark, path, LAYOUT, n_buckets=8)
    t.merge_put(_puts(spark, [
        ((f"user{i}",), "info", "email", 1, f"u{i}@x") for i in range(50)
    ]))
    got = t.get("user7")
    rows = got.collect()
    assert len(rows) == 1
    assert rows[0].entity_id.key == "user7"
    # the plan prunes on the partition column before scanning row data
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(_bucket" in plan, plan
    # miss returns empty, not an error
    assert t.get("no-such-user").count() == 0


def test_compact_enforces_retention(spark, tmp_path):
    path = str(tmp_path / "t4")
    t = EntityTable.create(spark, path, LAYOUT)
    t.merge_put(_puts(spark, [
        (("u",), "info", "email", ts, f"v{ts}@x") for ts in (1000, 2000, 3000)
    ]))
    # 3 versions present before compaction (max_versions=2 applies there)
    assert len(t.read().first().info.email) == 3
    t.compact(now_ms=11_500)  # ttl 10s -> cutoff 1500: drops ts=1000 too
    cells = t.read().first().info.email
    assert [c.ts for c in cells] == [3000, 2000]
    t.compact(now_ms=13_000)  # cutoff 3000 -> only ts=3000 survives
    assert [c.ts for c in t.read().first().info.email] == [3000]


def test_merge_put_map_family(spark, tmp_path):
    path = str(tmp_path / "tm")
    t = EntityTable.create(spark, path, LAYOUT)
    t.merge_put(_puts(spark, [
        (("u",), "tags", "color", 10, "red"),
        (("u",), "tags", "size", 10, "xl"),
    ]))
    t.merge_put(_puts(spark, [(("u",), "tags", "color", 20, "blue")]))
    fam = t.read().first()["tags"]
    assert set(fam.keys()) == {"color", "size"}
    assert [(c.ts, c.value) for c in fam["color"]] == [(20, "blue"), (10, "red")]


def _deletes(spark, rows):
    return spark.createDataFrame(
        rows, "entity_id struct<key:string>, family string,"
        " qualifier string, upto_ts long")


def test_merge_delete_granularities(spark, tmp_path):
    path = str(tmp_path / "td")
    t = EntityTable.create(spark, path, LAYOUT)
    t.merge_put(_puts(spark, [
        (("a",), "info", "email", 10, "a1"),
        (("a",), "info", "email", 20, "a2"),
        (("a",), "info", "visits", 10, "7"),
        (("a",), "tags", "color", 10, "red"),
        (("b",), "info", "email", 10, "b1"),
        (("c",), "info", "email", 10, "c1"),
    ]))
    # cell-range delete: a/info:email up to ts 10; family delete: a/tags;
    # row delete: b
    t.merge_delete(_deletes(spark, [
        (("a",), "info", "email", 10),
        (("a",), "tags", None, None),
        (("b",), None, None, None),
    ]))
    rows = {r.entity_id.key: r for r in t.read().collect()}
    assert set(rows) == {"a", "c"}
    assert [(c.ts, c.value) for c in rows["a"].info.email] == [(20, "a2")]
    assert [(c.ts, c.value) for c in rows["a"].info.visits] == [(10, 7)]
    assert rows["a"].tags == {}
    assert [(c.ts, c.value) for c in rows["c"].info.email] == [(10, "c1")]


def test_same_table_produce(spark, tmp_path):
    from kiji_mapreduce_spark.operators import Producer

    path = str(tmp_path / "tp")
    t = EntityTable.create(spark, path, LAYOUT)
    t.merge_put(_puts(spark, [(("u",), "info", "email", 10, "u@example.com")]))

    class DomainProducer(Producer):
        def output_column(self):
            return "info:visits"

        def produce_expr(self, df, ctx):
            return F.length(latest_value(F.col("info.email"))).cast("long")

        def produce_ts(self, df, ctx):
            return F.lit(99).cast("long")

    t.produce(DomainProducer())
    row = t.read().first()
    assert [(c.ts, c.value) for c in row.info.visits] == [(99, 13)]

    class BadProducer(DomainProducer):
        def output_column(self):
            return "info:nope"

    try:
        t.produce(BadProducer())
        assert False, "should reject undeclared output column"
    except ValueError as e:
        assert "not in layout" in str(e)


def test_upsert_rows_and_kiji_output(spark, tmp_path):
    from kiji_mapreduce_spark.io.outputs import JobOutput

    path = str(tmp_path / "tu")
    t = EntityTable.create(spark, path, LAYOUT)
    t.merge_put(_puts(spark, [
        (("a",), "info", "email", 1, "old-a"),
        (("b",), "info", "email", 1, "keep-b"),
    ]))
    new_rows = spark.createDataFrame(
        [(("a",), ([(2, "new-a")], None), None),
         (("c",), ([(2, "new-c")], None), None)],
        LAYOUT.spark_schema())
    # route through the kiji output format (detects the layout file)
    JobOutput("kiji", path).save(new_rows)
    rows = {r.entity_id.key: [(c.ts, c.value) for c in r.info.email]
            for r in t.read().collect()}
    assert rows == {
        "a": [(2, "new-a")],     # replaced
        "b": [(1, "keep-b")],    # untouched
        "c": [(2, "new-c")],     # inserted
    }


def test_fresh_get_refreshes_stale_rows(spark, tmp_path):
    from kiji_mapreduce_spark.operators import Producer

    path = str(tmp_path / "tf")
    t = EntityTable.create(spark, path, LAYOUT)
    t.merge_put(_puts(spark, [
        (("u",), "info", "email", 10, "someone@example.com"),
        (("u",), "info", "visits", 100, "1"),
    ]))

    class EmailLenProducer(Producer):
        def output_column(self):
            return "info:visits"

        def produce_expr(self, df, ctx):
            return F.length(latest_value(F.col("info.email"))).cast("long")

        def produce_ts(self, df, ctx):
            return F.lit(5000).cast("long")

    # fresh enough: untouched (cell ts 100, age 900 <= max_age 1000)
    row = t.fresh_get(("u",), EmailLenProducer(), max_age_ms=1000, now_ms=1000)
    assert [(c.ts, c.value) for c in row.first().info.visits] == [(100, 1)]
    # stale: recomputed and merged at the producer's ts
    row = t.fresh_get(("u",), EmailLenProducer(), max_age_ms=50, now_ms=1000)
    assert [(c.ts, c.value) for c in row.first().info.visits] == [
        (5000, 19), (100, 1)]
    # missing row: empty result, no error
    assert t.fresh_get(("nobody",), EmailLenProducer(), 1000).count() == 0


def test_get_typed_components_not_python_rendered(spark, tmp_path):
    """Point lookups on bool/double-typed key components must use Spark's
    own rendering — Python str(True)='True' vs Spark 'true' silently
    returned empty before."""
    layout = TableLayout.from_json("""
    {"name": "flags",
     "row_key": {"format": "HASH",
                 "components": [{"name": "flag", "type": "boolean"},
                                {"name": "score", "type": "double"}]},
     "families": [
       {"name": "info", "kind": "group",
        "columns": [{"name": "email", "schema": "string"}]}]}
    """)
    path = str(tmp_path / "tbool")
    t = EntityTable.create(spark, path, layout, n_buckets=4)
    rows = spark.createDataFrame(
        [((True, 1e20), ([(1, "big@x")],)), ((False, 0.5), ([(1, "s@x")],))],
        layout.spark_schema())
    t.upsert_rows(rows)
    got = t.get(True, 1e20).collect()
    assert len(got) == 1
    assert got[0].info.email[0].value == "big@x"
    assert t.get(False, 0.5).count() == 1
    assert t.get(True, 0.5).count() == 0


COUNTER_LAYOUT = TableLayout.from_json("""
{"name": "stats",
 "row_key": {"format": "FORMATTED",
             "components": [{"name": "key", "type": "string"}]},
 "families": [
   {"name": "info", "kind": "group", "max_versions": 10,
    "columns": [{"name": "visits", "schema": "counter"},
                {"name": "email", "schema": "string"}]},
   {"name": "tallies", "kind": "map", "map_schema": "counter",
    "max_versions": 10}]}
""")


def _incs(spark, rows):
    return spark.createDataFrame(
        rows, "entity_id struct<key:string>, family string, qualifier string,"
        " ts long, delta long")


def test_increment_counter_columns(spark, tmp_path):
    """Counter increment (KijiTableWriter.increment): adds to the latest
    value (0 for fresh cells), sums batch deltas, works on group and map
    counter columns, rejects non-counter columns."""
    import pytest

    path = str(tmp_path / "tcnt")
    t = EntityTable.create(spark, path, COUNTER_LAYOUT, n_buckets=4)
    t.increment(_incs(spark, [
        (("a",), "info", "visits", 10, 5),
        (("a",), "info", "visits", 12, 2),   # same batch: summed @ ts 12
        (("b",), "tallies", "clicks", 10, 7),
    ]))
    got = {r.entity_id.key: r for r in t.read().collect()}
    assert [(c.ts, c.value) for c in got["a"].info.visits] == [(12, 7)]
    assert [(c.ts, c.value) for c in got["b"].tallies["clicks"]] == [(10, 7)]
    # second batch increments from the latest value, new version kept
    t.increment(_incs(spark, [
        (("a",), "info", "visits", 20, -3),
        (("b",), "tallies", "clicks", 20, 1),
    ]))
    got = {r.entity_id.key: r for r in t.read().collect()}
    assert [(c.ts, c.value) for c in got["a"].info.visits] == [(20, 4), (12, 7)]
    assert got["b"].tallies["clicks"][0].value == 8
    with pytest.raises(ValueError, match="non-counter"):
        t.increment(_incs(spark, [(("a",), "info", "email", 30, 1)]))


def test_record_typed_cells_roundtrip(spark, tmp_path):
    """A layout declaring an Avro-record cell schema persists and reads
    back through create/open (the descriptor round-trips the nested
    type), and upserted record values survive."""
    layout = TableLayout.from_json("""
    {"name": "profiles",
     "row_key": {"format": "FORMATTED",
                 "components": [{"name": "key", "type": "string"}]},
     "families": [
       {"name": "info", "kind": "group",
        "columns": [{"name": "contact", "schema":
          {"type": "record", "name": "Contact", "fields": [
            {"name": "email", "type": "string"},
            {"name": "zip", "type": "int"}]}}]}]}
    """)
    path = str(tmp_path / "trec")
    EntityTable.create(spark, path, layout, n_buckets=4)
    t = EntityTable.open(spark, path)  # layout parsed back from disk
    rows = spark.createDataFrame(
        [((f"u{i}",), ([(1, (f"u{i}@x", 94110 + i))],)) for i in range(6)],
        t.layout.spark_schema())
    t.upsert_rows(rows)
    got = t.get("u3").first().info.contact[0]
    assert (got.ts, got.value.email, got.value.zip) == (1, "u3@x", 94113)
    # incremental write path works on the record-typed table too
    t.upsert_rows(spark.createDataFrame(
        [(("u3",), ([(2, ("new@x", 10001))],))], t.layout.spark_schema()))
    assert t.get("u3").first().info.contact[0].value.zip == 10001
    assert t.read().count() == 6
    # merge_put decodes JSON values for record cells
    t.merge_put(_puts(spark, [
        (("u0",), "info", "contact", 9,
         '{"email": "json@x", "zip": 77}')]))
    got = t.get("u0").first().info.contact[0]
    assert (got.value.email, got.value.zip) == ("json@x", 77)


def _data_file_digests(table_path):
    """{relative path: content digest} of every data file, per bucket dir."""
    import hashlib
    import os

    out = {}
    data = os.path.join(table_path, "data")
    for root, _dirs, files in os.walk(data):
        for fname in files:
            if fname.startswith(("_", ".")):
                continue  # _SUCCESS / CRCs / hidden
            full = os.path.join(root, fname)
            rel = os.path.relpath(full, data)
            with open(full, "rb") as f:
                out[rel] = hashlib.md5(f.read()).hexdigest()
    return out


def test_merge_put_rewrites_only_affected_buckets(spark, tmp_path):
    """The scale-critical property: a one-row put must leave every
    untouched bucket's parquet files byte-identical (same file names,
    same bytes) — the write is a one-bucket job, not a table rewrite."""
    path = str(tmp_path / "tb")
    t = EntityTable.create(spark, path, LAYOUT, n_buckets=8)
    t.merge_put(_puts(spark, [
        ((f"user{i}",), "info", "email", 1, f"u{i}@x") for i in range(64)
    ]))
    before = _data_file_digests(path)
    assert len({p.split("/")[0] for p in before}) > 2  # several buckets exist

    one_put = _puts(spark, [(("user3",), "info", "email", 2, "new@x")])
    touched = {f"_bucket={b}" for b in t._affected_buckets(one_put)}
    assert len(touched) == 1
    t.merge_put(one_put)
    after = _data_file_digests(path)

    untouched_before = {p: h for p, h in before.items()
                        if p.split("/")[0] not in touched}
    untouched_after = {p: h for p, h in after.items()
                       if p.split("/")[0] not in touched}
    assert untouched_before == untouched_after  # byte-identical
    # and the put itself landed
    row = t.get("user3").first()
    assert [(c.ts, c.value) for c in row.info.email] == [
        (2, "new@x"), (1, "u3@x")]
    assert t.read().count() == 64


def test_merge_delete_scoped_and_can_empty_bucket(spark, tmp_path):
    import os

    path = str(tmp_path / "tdb")
    t = EntityTable.create(spark, path, LAYOUT, n_buckets=4)
    t.merge_put(_puts(spark, [
        ((f"k{i}",), "info", "email", 1, f"v{i}") for i in range(12)
    ]))
    before = _data_file_digests(path)
    # delete every row of one bucket: find keys sharing a bucket
    deletes = _deletes(spark, [((f"k{i}",), None, None, None)
                               for i in range(12)])
    by_bucket = {}
    for i in range(12):
        b = t._affected_buckets(
            _deletes(spark, [((f"k{i}",), None, None, None)]))[0]
        by_bucket.setdefault(b, []).append(i)
    victim_bucket, victim_ids = next(iter(by_bucket.items()))
    t.merge_delete(_deletes(
        spark, [((f"k{i}",), None, None, None) for i in victim_ids]))
    # the emptied bucket's directory is gone; other buckets byte-identical
    assert not os.path.exists(
        os.path.join(path, "data", f"_bucket={victim_bucket}"))
    after = _data_file_digests(path)
    untouched = {p: h for p, h in before.items()
                 if p.split("/")[0] != f"_bucket={victim_bucket}"}
    assert untouched == after
    assert t.read().count() == 12 - len(victim_ids)


def test_bulk_commit_layout_supports_incremental_writes(spark, tmp_path):
    """bulk_stage writes the canonical bucket-partitioned layout, so a
    bulk-loaded table takes the incremental write path immediately."""
    path = str(tmp_path / "tbl")
    t = EntityTable.create(spark, path, LAYOUT, n_buckets=4)
    rows = spark.createDataFrame(
        [((f"r{i}",), ([(1, f"r{i}@x")], None), None) for i in range(16)],
        LAYOUT.spark_schema())
    t.bulk_stage(rows, str(tmp_path / "staging"))
    t.bulk_commit(str(tmp_path / "staging"))
    assert t._is_bucket_partitioned()
    before = _data_file_digests(path)
    one = _puts(spark, [(("r1",), "info", "email", 2, "fresh@x")])
    touched = {f"_bucket={b}" for b in t._affected_buckets(one)}
    t.merge_put(one)
    after = _data_file_digests(path)
    assert ({p: h for p, h in before.items() if p.split("/")[0] not in touched}
            == {p: h for p, h in after.items() if p.split("/")[0] not in touched})
    assert t.read().count() == 16


def test_bulk_stage_commit(spark, tmp_path):
    path = str(tmp_path / "t5")
    t = EntityTable.create(spark, path, LAYOUT)
    rows = spark.createDataFrame(
        [(("x",), ([(1, "x@x")], None), None),
         (("y",), ([(1, "y@x")], None), None)],
        LAYOUT.spark_schema())
    t.bulk_stage(rows, str(tmp_path / "staging"))
    t.bulk_commit(str(tmp_path / "staging"))
    got = t.read()
    assert got.count() == 2
    assert sorted(
        r[0] for r in got.select(latest_value(F.col("info.email"))).collect()
    ) == ["x@x", "y@x"]


def test_optimize_binpacks_fragmented_buckets_only(spark, tmp_path):
    """optimize() bin-packs ONLY buckets whose file count exceeds the
    budget (here: one fragmented by an external append) and leaves every
    other bucket's files byte-identical."""
    import glob
    import os

    path = str(tmp_path / "topt")
    t = EntityTable.create(spark, path, LAYOUT, n_buckets=8)
    t.merge_put(_puts(spark, [
        ((f"user{i}",), "info", "email", 1, f"u{i}@x") for i in range(64)
    ]))
    # an external backfill job appends a second file into one bucket
    extra = spark.createDataFrame(
        [(("zz-backfill",), ([(1, "z@x")], None), None)],
        LAYOUT.spark_schema())
    victim = t._affected_buckets(
        _puts(spark, [(("zz-backfill",), "info", "email", 1, "z@x")]))[0]
    extra.coalesce(1).write.mode("append").parquet(
        os.path.join(path, "data", f"_bucket={victim}"))
    before = _data_file_digests(path)
    assert len(glob.glob(os.path.join(
        path, "data", f"_bucket={victim}", "*.parquet"))) > 1
    rewritten = t.optimize(max_files_per_bucket=1)
    after = _data_file_digests(path)
    # only the fragmented bucket was rewritten, and it packs to 1 file
    assert rewritten == [victim]
    assert len(glob.glob(os.path.join(
        path, "data", f"_bucket={victim}", "*.parquet"))) == 1
    untouched = {f"_bucket={b}" for b in range(8)} - {f"_bucket={victim}"}
    assert ({p: h for p, h in before.items() if p.split("/")[0] in untouched}
            == {p: h for p, h in after.items() if p.split("/")[0] in untouched})
    # data intact: 64 originals + the appended row
    assert t.read().count() == 65
    # second run is a no-op: everything already within budget
    assert t.optimize(max_files_per_bucket=1) == []


def test_put_delta_merge_on_read_and_flush(spark, tmp_path):
    """The LSM write path: put_delta appends fragments without touching
    base files; read()/get() serve the merged view; flush_deltas folds
    fragments into exactly their buckets and clears the log."""
    import os

    path = str(tmp_path / "tlsm")
    t = EntityTable.create(spark, path, LAYOUT, n_buckets=8)
    t.merge_put(_puts(spark, [
        ((f"user{i}",), "info", "email", 1, f"u{i}@x") for i in range(32)
    ]))
    base_before = _data_file_digests(path)
    # delta batch: update an existing key + create a brand-new key
    t.put_delta(_puts(spark, [
        (("user5",), "info", "email", 2, "fresh@x"),
        (("newbie",), "info", "visits", 2, "7"),
    ]))
    # base files untouched by the append
    assert _data_file_digests(path) == base_before
    # merge-on-read: updates visible; read-optimized view unchanged
    assert t.read().count() == 33
    assert t.read(merge_deltas=False).count() == 32
    row = t.get("user5").first()
    assert [(c.ts, c.value) for c in row.info.email] == [
        (2, "fresh@x"), (1, "u5@x")]
    assert t.get("newbie").first().info.visits[0].value == 7
    # flush folds fragments into their buckets only
    touched = {f"_bucket={b}" for b in t._affected_buckets(_puts(spark, [
        (("user5",), "info", "email", 2, "x"),
        (("newbie",), "info", "visits", 2, "8")]))}
    flushed = t.flush_deltas()
    assert {f"_bucket={b}" for b in flushed} == touched
    after = _data_file_digests(path)
    assert ({p: h for p, h in base_before.items()
             if p.split("/")[0] not in touched}
            == {p: h for p, h in after.items()
                if p.split("/")[0] not in touched})
    assert not os.path.exists(os.path.join(path, "delta"))
    # view identical after the flush
    assert t.read().count() == 33
    row = t.get("user5").first()
    assert [(c.ts, c.value) for c in row.info.email] == [
        (2, "fresh@x"), (1, "u5@x")]
    # idempotent on an empty log
    assert t.flush_deltas() == []


def test_put_delta_seq_precedence(spark, tmp_path):
    """Two delta batches writing the same cell at the SAME timestamp:
    the later batch wins (fragments apply in commit-sequence order),
    both in the merged view and after the flush."""
    path = str(tmp_path / "tseq")
    t = EntityTable.create(spark, path, LAYOUT, n_buckets=4)
    t.merge_put(_puts(spark, [(("k",), "info", "email", 1, "orig")]))
    t.put_delta(_puts(spark, [(("k",), "info", "email", 5, "first")]))
    t.put_delta(_puts(spark, [(("k",), "info", "email", 5, "second")]))

    def email_cells():
        return [(c.ts, c.value) for c in t.get("k").first().info.email]

    assert email_cells() == [(5, "second"), (1, "orig")]
    t.flush_deltas()
    assert email_cells() == [(5, "second"), (1, "orig")]


def test_mutations_flush_pending_deltas_first(spark, tmp_path):
    """A base-mutating op on a table with buffered fragments must apply
    them first (linear history): a merge_delete right after a put_delta
    sees — and deletes — the buffered cell."""
    path = str(tmp_path / "tflush")
    t = EntityTable.create(spark, path, LAYOUT, n_buckets=4)
    t.put_delta(_puts(spark, [(("gone",), "info", "email", 1, "x@x"),
                              (("kept",), "info", "email", 1, "y@x")]))
    t.merge_delete(_deletes(spark, [(("gone",), None, None, None)]))
    keys = sorted(r.entity_id.key for r in t.read().collect())
    assert keys == ["kept"]
    assert t._delta_buckets() == []


def test_bulk_stage_tombstones(spark, tmp_path):
    """A staged batch carries delete markers alongside puts, mirroring
    the reference HFile path's Put|DeleteFamily|DeleteColumn|DeleteCell
    records (HFileKeyValue.java:196-216): at bulk_commit the tombstones
    retract exactly what a live merge_delete would."""
    path = str(tmp_path / "tbt")
    t = EntityTable.create(spark, path, LAYOUT)
    rows = spark.createDataFrame(
        [(("x",), ([(10, "x1"), (20, "x2")], None), None),
         (("y",), ([(10, "y1")], None), None),
         (("z",), ([(10, "z1")], None), None)],
        LAYOUT.spark_schema())
    # stage rows AND deletes in one batch: cell-range delete on x
    # (ts <= 10), whole-row delete on y
    t.bulk_stage(rows, str(tmp_path / "stg"),
                 deletes=_deletes(spark, [
                     (("x",), "info", "email", 10),
                     (("y",), None, None, None)]))
    t.bulk_commit(str(tmp_path / "stg"))
    got = {r.entity_id.key: r for r in t.read().collect()}
    assert set(got) == {"x", "z"}
    assert [(c.ts, c.value) for c in got["x"].info.email] == [(20, "x2")]
    assert [(c.ts, c.value) for c in got["z"].info.email] == [(10, "z1")]


def test_bulk_stage_delete_only_batch(spark, tmp_path):
    """df=None stages a pure-tombstone batch: commit retracts from the
    live table without touching other cells."""
    path = str(tmp_path / "tdo")
    t = EntityTable.create(spark, path, LAYOUT)
    t.merge_put(_puts(spark, [
        (("a",), "info", "email", 10, "a1"),
        (("b",), "info", "email", 10, "b1")]))
    t.bulk_stage(None, str(tmp_path / "stg2"),
                 deletes=_deletes(spark, [(("a",), None, None, None)]))
    t.bulk_commit(str(tmp_path / "stg2"))
    got = {r.entity_id.key for r in t.read().collect()}
    assert got == {"b"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rows, deletes"):
        t.bulk_stage(None, str(tmp_path / "stg3"))


def test_bulk_stage_commit_uri_scheme_paths(spark, tmp_path):
    """Staging paths with an explicit scheme (file:// here — the same
    code path hdfs/s3a take) work through the scheme-agnostic fs
    helpers: existence probes, row detection, tombstone pickup."""
    path = str(tmp_path / "turi")
    t = EntityTable.create(spark, path, LAYOUT)
    rows = spark.createDataFrame(
        [(("u1",), ([(10, "a")], None), None),
         (("u2",), ([(10, "b")], None), None)],
        LAYOUT.spark_schema())
    staging = f"file://{tmp_path}/uri_stg"
    t.bulk_stage(rows, staging,
                 deletes=_deletes(spark, [(("u2",), None, None, None)]))
    t.bulk_commit(staging)
    got = {r.entity_id.key for r in t.read().collect()}
    assert got == {"u1"}


def test_map_valued_cells_write_and_read(spark, tmp_path):
    """Map-typed cell values (allowed by the layout schema) survive the
    put/sort/read path — the default struct sort over cells crashed on
    unorderable element types (r5 review finding)."""
    import json as _json

    from kiji_mapreduce_spark.layout import TableLayout

    layout = TableLayout.from_json(_json.dumps({
        "name": "mv", "families": [
            {"name": "f", "max_versions": 2, "columns": [
                {"name": "tags",
                 "schema": {"type": "map", "values": "string"}}]}]}))
    t = EntityTable.create(spark, f"{tmp_path}/mv", layout)
    puts = spark.createDataFrame(
        [(("r1",), "f", "tags", 1, '{"a": "x"}'),
         (("r1",), "f", "tags", 2, '{"b": "y"}')],
        "entity_id struct<key:string>, family string, qualifier string,"
        " ts long, value_str string")
    t.merge_put(puts)
    cells = t.read().first().f.tags
    assert [c.ts for c in cells] == [2, 1]
    assert dict(cells[0].value) == {"b": "y"}


def test_fresh_get_complex_value_roundtrip(spark, tmp_path):
    """A producer writing a record-typed cell must store real JSON the
    put path can decode — cast('string') rendered structs in Spark's
    non-JSON format and silently wrote null (r5 review finding). Also:
    a map-family output column without the qualifier must freshen, not
    KeyError."""
    import json as _json

    from kiji_mapreduce_spark.layout import TableLayout
    from kiji_mapreduce_spark.operators import Producer

    layout = TableLayout.from_json(_json.dumps({
        "name": "fg", "families": [
            {"name": "info", "columns": [{"name": "name"}]},
            {"name": "derived", "columns": [
                {"name": "stats", "schema": {
                    "type": "record", "name": "s", "fields": [
                        {"name": "len", "type": "int"},
                        {"name": "upper", "type": "string"}]}}]}]}))
    t = EntityTable.create(spark, f"{tmp_path}/fg", layout)
    t.merge_put(spark.createDataFrame(
        [(("u1",), "info", "name", 1, "ada")],
        "entity_id struct<key:string>, family string, qualifier string,"
        " ts long, value_str string"))

    class StatsProducer(Producer):
        def output_column(self):
            return "derived:stats"

        def produce_expr(self, df, ctx):
            from kiji_mapreduce_spark.cells import latest_value

            nm = latest_value(F.col("info.name"))
            return F.struct(F.length(nm).alias("len"),
                            F.upper(nm).alias("upper"))

    out = t.fresh_get(("u1",), StatsProducer(), max_age_ms=10**15,
                      now_ms=10**13)
    cell = out.first().derived.stats[0]
    assert cell.value.len == 3 and cell.value.upper == "ADA"


def test_scan_typed_tuple_bounds_numeric_order(spark, tmp_path):
    """Tuple scan bounds compare componentwise with typed casts, so
    numeric key ranges are numeric (the packed string orders '10' < '2'
    — r5 review finding)."""
    import json as _json

    from kiji_mapreduce_spark.layout import TableLayout

    layout = TableLayout.from_json(_json.dumps({
        "name": "nk",
        "row_key": {"format": "FORMATTED",
                    "components": [{"name": "id", "type": "long"}]},
        "families": [{"name": "f", "columns": [{"name": "v"}]}]}))
    t = EntityTable.create(spark, f"{tmp_path}/nk", layout)
    t.merge_put(spark.createDataFrame(
        [((i,), "f", "v", 1, str(i)) for i in (1, 2, 9, 10, 11, 30)],
        "entity_id struct<id:long>, family string, qualifier string,"
        " ts long, value_str string"))
    got = sorted(r.entity_id.id for r in
                 t.scan(start_key=(2,), limit_key=(11,)).collect())
    assert got == [2, 9, 10]  # lexicographic would include 10,11 oddly


def test_key_packing_null_and_separator_injective(spark):
    """Distinct component tuples pack to distinct keys: NULLs encode
    (concat_ws would drop them) and embedded separators escape."""
    from kiji_mapreduce_spark.layout import RowKeySpec

    rk = RowKeySpec(components=[("a", "string"), ("b", "string"),
                                ("c", "string")])
    df = spark.createDataFrame(
        [(("a", None, "x"),), (("a", "x", None),),
         (("a\x00b", "c", "d"),), (("a", "b\x00c", "d"),)],
        "entity_id struct<a:string, b:string, c:string>")
    keys = [r.k for r in df.select(rk.key_expr().alias("k")).collect()]
    assert len(set(keys)) == 4


def test_empty_table_after_full_delete_still_readable(spark, tmp_path):
    """Deleting every row must leave a readable (empty) table, not a
    directory without parquet footers (r5 review finding)."""
    t = EntityTable.create(spark, f"{tmp_path}/edel", LAYOUT)
    puts = spark.createDataFrame(
        [(("k1",), "info", "email", 1, "a@x.com")],
        "entity_id struct<key:string>, family string, qualifier string,"
        " ts long, value_str string")
    t.merge_put(puts)
    t.merge_delete(_deletes(spark, [(("k1",), None, None, None)]))
    assert t.read().count() == 0
    assert t.scan().count() == 0


def test_bulk_stage_rows_after_deletes_fails_loudly(spark, tmp_path):
    """Staging rows into a path that already holds staged tombstones
    raises instead of silently wiping them (r5 review finding)."""
    import pytest

    t = EntityTable.create(spark, f"{tmp_path}/bsd", LAYOUT)
    stage = f"{tmp_path}/stage"
    dels = _deletes(spark, [(("k1",), None, None, None)])
    t.bulk_stage(None, stage, deletes=dels)
    rows = spark.createDataFrame(
        [(("k2",), ([(1, "b@y.com")],))],
        "entity_id struct<key:string>, "
        "info struct<email: array<struct<ts:long, value:string>>>")
    with pytest.raises(ValueError, match="tombstones"):
        t.bulk_stage(rows, stage)


def test_key_packing_prefix_free_collisions(spark):
    """The two concrete r13 collisions: a NULL vs a literal \\x01
    component, and an escaped separator vs a separator + \\x02-leading
    component — all four tuples must pack distinctly under the
    prefix-free escape, and clean scalars stay bare."""
    from kiji_mapreduce_spark.layout import RowKeySpec

    rk2 = RowKeySpec(components=[("a", "string"), ("b", "string")])
    df = spark.createDataFrame(
        [(("a", None),), (("a", "\x01"),),
         (("p\x00", "\x02z"),), (("p", "\x02\x00z"),)],
        "entity_id struct<a:string, b:string>")
    keys = [r.k for r in df.select(rk2.key_expr().alias("k")).collect()]
    assert len(set(keys)) == 4
    # clean scalar parity: the oracle mirrors bare casts
    clean = spark.createDataFrame([(("42", "x"),)],
                                  "entity_id struct<a:string, b:string>")
    assert clean.select(rk2.key_expr().alias("k")).collect()[0].k \
        == "42\x00x"


def _jobs_run_by(spark, fn):
    """``(fn(), number of Spark jobs fn launched)``, counted in a job
    group of its own once the listener bus has caught up."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_entity_calls_launch_no_spark_job(spark, tmp_path):
    """get/read/scan only build plans: the layout is the reader schema
    (no footer inference) and the key's bucket folds to a literal
    partition filter (no routing job), with and without pending deltas.
    A point get then costs exactly its one collect job."""
    import re

    t = EntityTable.create(spark, str(tmp_path / "tj"), LAYOUT, n_buckets=8)
    t.merge_put(_puts(spark, [
        ((f"user{i}",), "info", "email", 1, f"u{i}@x") for i in range(20)]))
    for pending in (False, True):
        if pending:
            t.put_delta(_puts(spark, [(("user3",), "info", "email", 2, "d")]))
        for call in (lambda: t.get("user3"), t.read, t.scan):
            _, n_jobs = _jobs_run_by(spark, call)
            assert n_jobs == 0, (pending, n_jobs)
    t.flush_deltas()
    got = t.get("user3")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*\(_bucket#\d+ = \d+\)",
                     plan), plan
    rows, n_jobs = _jobs_run_by(spark, got.collect)
    assert [(c.ts, c.value) for c in rows[0].info.email] == [
        (2, "d"), (1, "u3@x")]
    assert n_jobs == 1


def test_flush_takes_buckets_from_the_log_listing(spark, tmp_path):
    """flush_deltas returns exactly the _bucket= ids under delta/, and
    finding them costs no job: the flush runs only its merge and write
    jobs."""
    import os

    path = str(tmp_path / "tfl")
    t = EntityTable.create(spark, path, LAYOUT, n_buckets=8)
    t.merge_put(_puts(spark, [
        ((f"user{i}",), "info", "email", 1, f"u{i}@x") for i in range(20)]))
    t.put_delta(_puts(spark, [
        ((f"user{i}",), "info", "visits", 2, str(i)) for i in range(0, 20, 3)]))
    t.put_delta(_puts(spark, [(("fresh",), "info", "email", 3, "f@x")]))
    delta = os.path.join(path, "delta")
    listed = sorted({int(m.split("=")[1])
                     for b in os.listdir(delta) if b.startswith("_batch=")
                     for m in os.listdir(os.path.join(delta, b))
                     if m.startswith("_bucket=")})
    assert 1 < len(listed) < 8
    flushed, n_jobs = _jobs_run_by(spark, t.flush_deltas)
    assert flushed == listed
    # merge: key shuffle + join + pin; rewrite: bucket shuffle + write
    assert n_jobs <= 5, n_jobs
    got = {r.entity_id.key: r for r in t.read().collect()}
    assert len(got) == 21
    assert got["user9"].info.visits[0].value == 9
    assert got["fresh"].info.email[0].value == "f@x"


WIDE_LAYOUT = TableLayout.from_json({
    "name": "wide",
    "row_key": {"format": "FORMATTED",
                "components": [{"name": "key", "type": "string"}]},
    "families": [{"name": "g", "kind": "group", "max_versions": 2,
                  "columns": [{"name": f"c{i}", "schema": "counter"}
                              for i in range(10)]}]})


def test_wide_group_family_plans_stay_linear(spark, tmp_path):
    """One 10-column group family: the cell-update plans of _apply_puts,
    increment, merge_delete and compact each analyze to under 50,000
    chars (a per-column struct-update chain doubles per column), and
    every result matches a per-column Python model. A NULL family
    becomes a struct of cells on put/increment and stays NULL on
    delete/compact."""
    cols = [f"c{i}" for i in range(10)]
    t = EntityTable.create(spark, str(tmp_path / "tw"), WIDE_LAYOUT,
                           n_buckets=4)
    plan_sizes = []
    write_canonical = t._write_canonical

    def recording(df, *args, **kwargs):
        plan_sizes.append(len(df._jdf.queryExecution().analyzed().toString()))
        return write_canonical(df, *args, **kwargs)

    t._write_canonical = recording
    # model: key -> None (NULL family) | {col: [(ts, value), ...] newest first}
    model = {"full": {c: [(1, i)] for i, c in enumerate(cols)},
             "nul": None}
    t.overwrite(spark.createDataFrame(
        [(("full",), tuple([[(1, i)] for i in range(10)])), (("nul",), None)],
        WIDE_LAYOUT.spark_schema()))

    def observed(rows):
        return {r.entity_id.key: None if r.g is None else
                {c: None if r.g[c] is None else
                 [(x.ts, x.value) for x in r.g[c]] for c in cols}
                for r in rows}

    def put(state, ts, value):
        cells = [x for x in (state or []) if x[0] != ts] + [(ts, value)]
        return sorted(cells, reverse=True)

    def wide(fam):
        return fam if fam is not None else {c: None for c in cols}

    # _apply_puts: a plan, so measure it directly
    puts = _puts(spark, [(("full",), "g", "c2", 5, "50"),
                         (("nul",), "g", "c4", 5, "40"),
                         (("new",), "g", "c9", 5, "90")])
    merged = t._apply_puts(t.read(), puts)
    put_plan = len(merged._jdf.queryExecution().analyzed().toString())
    expect = {k: None if v is None else dict(v) for k, v in model.items()}
    for key, c, ts, value in (("full", "c2", 5, 50), ("nul", "c4", 5, 40),
                              ("new", "c9", 5, 90)):
        fam = wide(expect.get(key))
        fam[c] = put(fam[c], ts, value)
        expect[key] = fam
    assert observed(merged.collect()) == expect
    assert put_plan < 50_000, put_plan

    def check(op, *args):
        plan_sizes.clear()
        op(*args)
        assert plan_sizes and max(plan_sizes) < 50_000, (op, plan_sizes)
        assert observed(t.read().collect()) == model

    # increment: untouched columns pass through; NULL family seeded
    model["full"]["c0"] = put(model["full"]["c0"], 7, 0 + 3)
    model["nul"] = wide(None)
    model["nul"]["c1"] = [(7, 4)]
    check(t.increment, _incs(spark, [(("full",), "g", "c0", 7, 3),
                                     (("nul",), "g", "c1", 7, 4)]))

    def null_out():
        """Make the "nul" row's family NULL again (an increment seeds
        every row of the buckets it rewrites)."""
        model["nul"] = None
        t.overwrite(t.read().withColumn(
            "g", F.when(F.col("entity_id.key") == "nul", F.lit(None))
            .otherwise(F.col("g"))))

    null_out()
    # merge_delete: cells up to ts 1 go from every column; NULL stays NULL
    model["full"] = {c: [x for x in v if x[0] > 1] for c, v in
                     model["full"].items()}
    check(t.merge_delete, spark.createDataFrame(
        [(("full",), "g", c, 1) for c in cols] + [(("nul",), "g", None, 1)],
        "entity_id struct<key:string>, family string, qualifier string,"
        " upto_ts long"))
    # compact: max_versions 2 per column; NULL stays NULL
    for ts in (8, 9):
        t.increment(_incs(spark, [(("full",), "g", "c0", ts, 1)]))
    null_out()
    model["full"]["c0"] = [(9, 5), (8, 4), (7, 3)]
    assert observed(t.read().collect()) == model
    model["full"]["c0"] = [(9, 5), (8, 4)]
    check(t.compact, 10)


def test_put_delta_writes_the_fragment_schema(spark, tmp_path):
    """put_delta selects and casts the five put columns to the delta
    schema: an int ts and an extra column give the same merge-on-read
    get and flushed table as merge_put of the plain puts."""
    rows = [(("a",), "info", "email", 3, "a3@x"),
            (("a",), "info", "visits", 3, "7"),
            (("b",), "info", "email", 4, "b4@x"),
            (("c",), "tags", "t1", 5, "x")]
    base = [(("a",), "info", "email", 1, "a1@x"),
            (("b",), "info", "visits", 1, "1")]
    direct = EntityTable.create(spark, str(tmp_path / "td1"), LAYOUT,
                                n_buckets=4)
    direct.merge_put(_puts(spark, base))
    direct.merge_put(_puts(spark, rows))
    buffered = EntityTable.create(spark, str(tmp_path / "td2"), LAYOUT,
                                  n_buckets=4)
    buffered.merge_put(_puts(spark, base))
    buffered.put_delta(spark.createDataFrame(
        [r[:3] + (r[3], r[4], "ignored") for r in rows],
        "entity_id struct<key:string>, family string, qualifier string,"
        " ts int, value_str string, note string"))

    def rows_of(df):
        return sorted(df.collect(), key=lambda r: r.entity_id.key)

    for key in ("a", "b", "c"):
        assert rows_of(buffered.get(key)) == rows_of(direct.get(key))
    assert rows_of(buffered.read()) == rows_of(direct.read())
    written = spark.read.parquet(buffered._delta_path()).schema
    assert written.simpleString() == (
        "struct<entity_id:struct<key:string>,family:string,qualifier:string,"
        "ts:bigint,value_str:string,_seq:bigint,_batch:bigint,_bucket:int>")
    buffered.flush_deltas()
    assert rows_of(buffered.read()) == rows_of(direct.read())


def test_read_schema_is_the_layout(spark, tmp_path):
    """The layout is the reader schema: a created table reads with the
    layout's schema (Spark reports file columns nullable, so the check
    ignores nullability), and a layout that gained a family reads the
    old files with it, the new family NULL."""
    import json

    path = str(tmp_path / "ts")
    t = EntityTable.create(spark, path, LAYOUT)
    assert t.read().schema.simpleString() == \
        LAYOUT.spark_schema().simpleString()
    t.merge_put(_puts(spark, [(("a",), "info", "email", 1, "a@x")]))
    grown = json.loads(LAYOUT.to_json())
    grown["families"].append({"name": "extra", "kind": "group",
                              "columns": [{"name": "n", "schema": "long"}]})
    with open(f"{path}/_kiji_layout.json", "w") as fh:
        json.dump(grown, fh)
    t2 = EntityTable.open(spark, path)
    assert t2.read().schema.simpleString() == \
        t2.layout.spark_schema().simpleString()
    assert [r.extra for r in t2.read().collect()] == [None]
    assert t2.get("a").first().info.email[0].value == "a@x"
