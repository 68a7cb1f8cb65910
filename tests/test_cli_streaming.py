"""CLI surface + streaming wrappers."""

import json
import os

import pytest
from pyspark.sql import functions as F

from kiji_mapreduce_spark import cli
from kiji_mapreduce_spark.operators import Gatherer
from kiji_mapreduce_spark.streaming import (
    running_latest, stream_operator, windowed_aggregate,
)


class WordCount(Gatherer):
    """Module-level so the CLI can import it by dotted path."""

    def gather_df(self, df, ctx):
        return df.select(F.explode(F.split("value", r"\s+")).alias("w"))

    def reduce_df(self, g, ctx):
        return g.groupBy("w").agg(F.count(F.lit(1)).alias("n"))


def test_cli_gather_and_history(spark, tmp_path, capsys):
    (tmp_path / "in.txt").write_text("a b a\nc a\n")
    rc = cli.main([
        "gather", "--gatherer", "test_cli_streaming.WordCount",
        "--input", f"format=text file={tmp_path}/in.txt",
        "--output", f"format=text file={tmp_path}/out nsplits=1",
        "--history", f"{tmp_path}/hist",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert json.loads(out.strip().splitlines()[-1])["counters"][
        "GATHERER_ROWS_PROCESSED"] == 2
    part = [f for f in os.listdir(tmp_path / "out") if f.startswith("part")][0]
    lines = sorted(open(tmp_path / "out" / part).read().splitlines())
    assert lines == ["a\t3", "b\t1", "c\t1"]
    rc = cli.main(["job-history", "--path", f"{tmp_path}/hist"])
    assert rc == 0
    hist_line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hist_line["job_end_status"] == "SUCCEEDED"


from kiji_mapreduce_spark.operators import BulkImporter, Pivoter, Producer


class ColonImporter(BulkImporter):
    """rowkey:value lines (TestBulkImportInput.txt shape)."""

    def import_df(self, df, ctx):
        return df.select(
            F.substring_index("value", ":", 1).alias("row_key"),
            F.substring_index("value", ":", -1).alias("name"))


class LenProducer(Producer):
    def output_column(self):
        return "derived:name_len"

    def produce_expr(self, df, ctx):
        return F.length("name")


class KeyPivoter(Pivoter):
    def output_key(self):
        return ["name_len"]

    def pivot_df(self, df, ctx):
        return df.groupBy("name_len").agg(F.count(F.lit(1)).alias("n"))


def test_cli_bulk_import_produce_pivot_chain(spark, tmp_path, capsys):
    (tmp_path / "in.txt").write_text("r1:Marsellus Wallace\nr2:Vincent Vega\n")
    # bulk-import: text lines -> parquet table
    assert cli.main([
        "bulk-import", "--importer", "test_cli_streaming.ColonImporter",
        "--input", f"format=text file={tmp_path}/in.txt",
        "--output", f"format=parquet file={tmp_path}/imported",
    ]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])[
        "counters"]["BULKIMPORTER_ROWS_PROCESSED"] == 2
    # produce: derive a column over the imported table
    assert cli.main([
        "produce", "--producer", "test_cli_streaming.LenProducer",
        "--input", f"format=parquet file={tmp_path}/imported",
        "--output", f"format=parquet file={tmp_path}/produced",
    ]) == 0
    produced = spark.read.parquet(f"{tmp_path}/produced")
    assert {r.name: r.name_len for r in produced.collect()} == {
        "Marsellus Wallace": 17, "Vincent Vega": 12}
    # pivot: re-key into a length-keyed summary
    assert cli.main([
        "pivot", "--pivoter", "test_cli_streaming.KeyPivoter",
        "--input", f"format=parquet file={tmp_path}/produced",
        "--output", f"format=text file={tmp_path}/pivoted nsplits=1",
    ]) == 0
    part = [f for f in os.listdir(tmp_path / "pivoted")
            if f.startswith("part")][0]
    assert sorted(open(tmp_path / "pivoted" / part).read().splitlines()) == [
        "12\t1", "17\t1"]


def test_cli_create_table_and_compact(spark, tmp_path, capsys):
    layout = tmp_path / "layout.json"
    layout.write_text(json.dumps({
        "name": "t", "families": [
            {"name": "f", "columns": [{"name": "c"}], "max_versions": 1}]}))
    assert cli.main(["create-table", "--layout", str(layout),
                     "--path", f"{tmp_path}/tbl"]) == 0
    assert cli.main(["compact", "--table", f"{tmp_path}/tbl"]) == 0


def test_cli_gather_over_kiji_table(spark, tmp_path, capsys):
    """format=kiji input: CLI jobs read entity tables by path."""
    import json as _json

    from kiji_mapreduce_spark.layout import TableLayout
    from kiji_mapreduce_spark.table import EntityTable

    layout = TableLayout.from_json(_json.dumps({
        "name": "users", "families": [
            {"name": "info", "columns": [{"name": "email"}]}]}))
    t = EntityTable.create(spark, f"{tmp_path}/users", layout)
    puts = spark.createDataFrame(
        [(("u1",), "info", "email", 1, "a@x.com"),
         (("u2",), "info", "email", 1, "b@y.com")],
        "entity_id struct<key:string>, family string, qualifier string,"
        " ts long, value_str string")
    t.merge_put(puts)
    assert cli.main([
        "gather", "--gatherer", "test_cli_streaming.DomainFromTable",
        "--input", f"format=kiji file={tmp_path}/users",
        "--output", f"format=text file={tmp_path}/domains nsplits=1",
    ]) == 0
    part = [f for f in os.listdir(tmp_path / "domains")
            if f.startswith("part")][0]
    assert sorted(open(tmp_path / "domains" / part).read().splitlines()) == [
        "x.com\t1", "y.com\t1"]


class DomainFromTable(Gatherer):
    def gather_df(self, df, ctx):
        from kiji_mapreduce_spark.cells import latest_value

        return df.select(F.substring_index(
            latest_value(F.col("info.email")), "@", -1).alias("domain"))

    def reduce_df(self, g, ctx):
        return g.groupBy("domain").agg(F.count(F.lit(1)).alias("n"))


def _write_stream_input(tmp_path, rows):
    src = tmp_path / "stream_in"
    src.mkdir(exist_ok=True)
    with open(src / "part1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(src)


def test_stream_operator_foreachbatch(spark, tmp_path):
    src = _write_stream_input(tmp_path, [
        {"value": "x y"}, {"value": "x"}])
    stream = spark.readStream.schema("value string").json(src)
    results = []

    def sink(df, batch_id):
        results.extend((r.w, r.n) for r in df.collect())

    q = stream_operator(stream, WordCount(), sink,
                        checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    assert sorted(results) == [("x", 2), ("y", 1)]


def test_windowed_aggregate_stream(spark, tmp_path):
    src = _write_stream_input(tmp_path, [
        {"ts": "2024-01-01T00:05:00Z", "user": 1},
        {"ts": "2024-01-01T00:20:00Z", "user": 1},
        {"ts": "2024-01-01T01:10:00Z", "user": 2},
    ])
    stream = (spark.readStream.schema("ts timestamp, user long").json(src))
    agg = windowed_aggregate(stream, "ts", "1 hour", "2 hours")
    out = []
    # complete mode: append would withhold windows until a later batch
    # advances the watermark, and this bounded test stream has no later
    # batch
    q = (agg.writeStream.outputMode("complete")
         .foreachBatch(lambda df, _: out.extend(df.collect()))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt2")).start())
    q.awaitTermination(60)
    got = {(r.window.start.hour, r.n_events) for r in out}
    assert got == {(0, 2), (1, 1)}


def test_cli_curate_end_to_end(spark, tmp_path, capsys):
    def _text(i):
        # short shared prefix (overlap stays < 0.5) + unique body
        return ("the engine processes data smoothly "
                + " ".join(f"tok{i}x{j} filler{(i * 7 + j) % 97}"
                           for j in range(10)))

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de", _text(i)) for i in range(20)]
        + [(100, "en", _text(0))]   # exact dup of doc 0
        + [(101, "en", "short")],   # fails quality
        "doc_id long, lang string, text string")
    docs.write.parquet(f"{tmp_path}/docs")
    docs.filter("doc_id = 0").write.parquet(f"{tmp_path}/bench")
    rc = cli.main([
        "curate", "--input", f"{tmp_path}/docs",
        "--output", f"{tmp_path}/out",
        "--benchmark", f"{tmp_path}/bench",
        "--default-rate", "1.0",
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs_in"] == 22
    out = spark.read.parquet(f"{tmp_path}/out")
    ids = {r.doc_id for r in out.collect()}
    assert 101 not in ids          # quality-filtered
    assert 0 not in ids            # benchmark doc excluded
    assert 100 not in ids          # contaminated (copy of benchmark doc 0)
    assert stats["docs_out"] == len(ids) and len(ids) == 19
    assert "overlap_frac" in out.columns and "quality_score" in out.columns


def test_stream_dedup_exact(spark, tmp_path):
    """Watermarked streaming dedup keeps one copy per content digest."""
    from kiji_mapreduce_spark.streaming import stream_dedup_exact

    src = _write_stream_input(tmp_path, [
        {"ts": "2024-01-01T00:05:00Z", "text": "same words"},
        {"ts": "2024-01-01T00:06:00Z", "text": "same words"},
        {"ts": "2024-01-01T00:07:00Z", "text": "other words"},
    ])
    stream = spark.readStream.schema("ts timestamp, text string").json(src)
    deduped = stream_dedup_exact(stream, watermark="1 hour")
    out = []
    q = (deduped.writeStream.outputMode("append")
         .foreachBatch(lambda df, _: out.extend(df.collect()))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_dd")).start())
    q.awaitTermination(60)
    texts = sorted(r.text for r in out)
    assert texts == ["other words", "same words"]
    assert all(r.digest for r in out)


def test_stream_into_table(spark, tmp_path):
    """Streamed puts merge into an entity table batch by batch."""
    import json as _json

    from kiji_mapreduce_spark.layout import TableLayout
    from kiji_mapreduce_spark.streaming import stream_into_table
    from kiji_mapreduce_spark.table import EntityTable

    layout = TableLayout.from_json(_json.dumps({
        "name": "st", "families": [
            {"name": "m", "columns": [{"name": "v", "schema": "long"}]}]}))
    t = EntityTable.create(spark, f"{tmp_path}/st_table", layout)
    src = tmp_path / "put_stream"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        f.write(_json.dumps({"key": "a", "ts": 1, "value_str": "10"}) + "\n")
        f.write(_json.dumps({"key": "b", "ts": 1, "value_str": "20"}) + "\n")
    raw = (spark.readStream.schema("key string, ts long, value_str string")
           .json(str(src)))
    puts = raw.select(
        F.struct(F.col("key")).alias("entity_id"),
        F.lit("m").alias("family"), F.lit("v").alias("qualifier"),
        "ts", "value_str")
    q = stream_into_table(puts, t, checkpoint=str(tmp_path / "st_ckpt"))
    q.awaitTermination(120)
    got = {r.entity_id.key: r.m.v[0].value for r in t.read().collect()}
    assert got == {"a": 10, "b": 20}


def test_running_latest_stateful(spark, tmp_path):
    src = _write_stream_input(tmp_path, [
        {"user_id": 1, "ts_ms": 10, "value": 1.5},
        {"user_id": 1, "ts_ms": 30, "value": 2.5},
        {"user_id": 2, "ts_ms": 20, "value": 9.0},
    ])
    stream = (spark.readStream
              .schema("user_id long, ts_ms long, value double").json(src))
    latest = running_latest(stream)
    out = []
    q = (latest.writeStream.outputMode("update")
         .foreachBatch(lambda df, _: out.extend(df.collect()))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt3")).start())
    q.awaitTermination(60)
    got = {r.key: (r.ts, r.value) for r in out}
    assert got == {1: (30, 2.5), 2: (20, 9.0)}


def test_stream_rollup_into_table(spark, tmp_path):
    """Continuous aggregate: a windowed rollup maintained as an
    EntityTable; each micro-batch upserts only the windows it changed."""
    import json as _json

    from kiji_mapreduce_spark.layout import TableLayout
    from kiji_mapreduce_spark.streaming import stream_rollup_into_table
    from kiji_mapreduce_spark.table import EntityTable

    layout = TableLayout.from_json(_json.dumps({
        "name": "rollup", "families": [
            {"name": "m", "columns": [{"name": "n", "schema": "long"}]}]}))
    t = EntityTable.create(spark, f"{tmp_path}/rollup_table", layout)
    src = _write_stream_input(tmp_path, [
        {"ts": "2024-01-01T00:05:00Z", "user": 1},
        {"ts": "2024-01-01T00:20:00Z", "user": 1},
        {"ts": "2024-01-01T01:10:00Z", "user": 2},
    ])
    stream = spark.readStream.schema("ts timestamp, user long").json(src)

    def to_rows(batch_df):
        return batch_df.select(
            F.struct(F.concat_ws(
                "|", F.date_format("window.start", "yyyy-MM-dd'T'HH"),
                F.col("user")).alias("key")).alias("entity_id"),
            F.struct(F.array(F.struct(
                F.unix_timestamp("window.start").alias("ts"),
                F.col("n_events").alias("value"))).alias("n")).alias("m"))

    q = stream_rollup_into_table(
        stream, t, checkpoint=str(tmp_path / "ru_ckpt"), ts_col="ts",
        group_cols=["user"], to_rows=to_rows)
    q.awaitTermination(120)
    got = {r.entity_id.key: r.m.n[0].value for r in t.read().collect()}
    assert got == {"2024-01-01T00|1": 2, "2024-01-01T01|2": 1}


def test_table_change_stream(spark, tmp_path):
    """put_delta fragments surface as a change stream (CDC feed)."""
    import json as _json

    from kiji_mapreduce_spark.layout import TableLayout
    from kiji_mapreduce_spark.streaming import table_change_stream
    from kiji_mapreduce_spark.table import EntityTable

    layout = TableLayout.from_json(_json.dumps({
        "name": "cdc", "families": [
            {"name": "m", "columns": [{"name": "v", "schema": "long"}]}]}))
    t = EntityTable.create(spark, f"{tmp_path}/cdc_table", layout)
    puts = spark.createDataFrame(
        [(("a",), "m", "v", 1, "10"), (("b",), "m", "v", 2, "20")],
        "entity_id struct<key:string>, family string, qualifier string, "
        "ts long, value_str string")
    t.put_delta(puts)

    changes = table_change_stream(t)
    out = []
    q = (changes.writeStream.outputMode("append")
         .foreachBatch(lambda df, _: out.extend(df.collect()))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "cdc_ckpt")).start())
    q.awaitTermination(60)
    got = {(r.entity_id.key, r.family, r.qualifier, r.ts, r.value_str)
           for r in out}
    assert got == {("a", "m", "v", 1, "10"), ("b", "m", "v", 2, "20")}
    assert all(r._seq is not None for r in out)

    # a second batch of puts arrives as new files -> next trigger sees
    # ONLY the new fragment (file-source incremental semantics)
    t.put_delta(puts.filter("entity_id.key = 'a'")
                .selectExpr("entity_id", "family", "qualifier",
                            "cast(9 as long) as ts", "'99' as value_str"))
    out2 = []
    q2 = (table_change_stream(t).writeStream.outputMode("append")
          .foreachBatch(lambda df, _: out2.extend(df.collect()))
          .trigger(availableNow=True)
          .option("checkpointLocation", str(tmp_path / "cdc_ckpt")).start())
    q2.awaitTermination(60)
    assert {(r.entity_id.key, r.ts, r.value_str) for r in out2} == {
        ("a", 9, "99")}


def test_stream_interval_join_direct_with_late_rows(spark, tmp_path):
    """Drive stream_interval_join directly through the memory sink over
    two micro-batch rounds sharing a checkpoint: round 1 emits an
    in-window pair and advances the watermark; round 2 adds one on-time
    pair AND one click older than the watermark — the late click must be
    DROPPED, so its (otherwise in-interval) pair never appears."""
    from kiji_mapreduce_spark.streaming import stream_interval_join

    left_dir = tmp_path / "ij_left"
    right_dir = tmp_path / "ij_right"
    left_dir.mkdir()
    right_dir.mkdir()

    def _emit(d, name, rows):
        with open(d / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # round 1: purchase 10:00 pairs with click 9:58 (within 30 min);
    # max right event time 9:58 - 5 min watermark => watermark ~9:53
    _emit(left_dir, "b1.json",
          [{"id": "p1", "user": 1, "ts": "2024-01-01T10:00:00Z"}])
    _emit(right_dir, "b1.json",
          [{"id": "c1", "user": 1, "ts": "2024-01-01T09:58:00Z"}])

    def _run():
        left = (spark.readStream.schema("id string, user long, ts timestamp")
                .json(str(left_dir))
                .select(F.col("id").alias("p_id"), "user",
                        F.col("ts").alias("p_ts")))
        right = (spark.readStream.schema("id string, user long, ts timestamp")
                 .json(str(right_dir))
                 .select(F.col("id").alias("c_id"), "user",
                         F.col("ts").alias("c_ts")))
        joined = stream_interval_join(
            left, right, on="user", left_ts="p_ts", right_ts="c_ts",
            lower="30 minutes", upper="0 seconds", watermark="5 minutes")
        out = joined.select("p_id", F.col("_r.c_id").alias("c_id"))
        rows = []
        # foreachBatch, not the memory sink: only foreachBatch supports
        # RESUMING from a checkpoint, which is what carries the watermark
        # between the two rounds
        q = (out.writeStream.outputMode("append")
             .foreachBatch(lambda df, _: rows.extend(df.collect()))
             .trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ij_ckpt"))
             .start())
        q.awaitTermination(120)
        return {(r.p_id, r.c_id) for r in rows}

    assert _run() == {("p1", "c1")}

    # round 2: c_late (9:40) would pair with p1 inside the 30-minute
    # interval, but it is older than the persisted watermark -> dropped;
    # the on-time pair (p2, c2) must still come through
    _emit(left_dir, "b2.json",
          [{"id": "p2", "user": 2, "ts": "2024-01-01T10:10:00Z"}])
    _emit(right_dir, "b2.json",
          [{"id": "c_late", "user": 1, "ts": "2024-01-01T09:40:00Z"},
           {"id": "c2", "user": 2, "ts": "2024-01-01T10:05:00Z"}])
    got = _run()
    assert ("p1", "c_late") not in got
    assert got == {("p2", "c2")}  # round 2 emits only the on-time pair


def test_sessionized_aggregate_stream(spark, tmp_path):
    """Session windows close after the inactivity gap: three events 10
    minutes apart form ONE session; an event 2 hours later opens a new
    one."""
    from kiji_mapreduce_spark.streaming import sessionized_aggregate

    src = _write_stream_input(tmp_path, [
        {"ts": "2024-01-01T00:00:00Z", "user": 1},
        {"ts": "2024-01-01T00:10:00Z", "user": 1},
        {"ts": "2024-01-01T00:20:00Z", "user": 1},
        {"ts": "2024-01-01T02:30:00Z", "user": 1},
        {"ts": "2024-01-01T00:05:00Z", "user": 2},
    ])
    stream = spark.readStream.schema("ts timestamp, user long").json(src)
    agg = sessionized_aggregate(stream, "ts", gap="30 minutes",
                                group_cols=["user"])
    out = []
    q = (agg.writeStream.outputMode("complete")
         .foreachBatch(lambda df, _: out.extend(df.collect()))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
         .start())
    q.awaitTermination(60)
    got = {(r.user, r.session_window.start.hour,
            r.session_window.start.minute, r.n_events) for r in out}
    assert got == {(1, 0, 0, 3), (1, 2, 30, 1), (2, 0, 5, 1)}


def test_stream_countmin_matches_batch_sketch(spark, tmp_path):
    """The streaming CMS drained with availableNow equals the batch
    sketch built per window — cell for cell — and merges with it (CMS
    cells are sums)."""
    from kiji_mapreduce_spark.pipeline.sketch import countmin_table
    from kiji_mapreduce_spark.streaming import stream_countmin

    events = [
        {"ts": "2024-01-01T00:05:00Z", "tok": "a"},
        {"ts": "2024-01-01T00:10:00Z", "tok": "a"},
        {"ts": "2024-01-01T00:20:00Z", "tok": "b"},
        {"ts": "2024-01-01T01:10:00Z", "tok": "a"},
        {"ts": "2024-01-01T01:15:00Z", "tok": None},  # ignored
    ]
    src = _write_stream_input(tmp_path, events)
    stream = spark.readStream.schema("ts timestamp, tok string").json(src)
    agg = stream_countmin(stream, "tok", "ts", depth=2, width=8)
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("cms_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.window.start.hour, r.cm_row, r.cm_bucket): r.cm_count
           for r in spark.table("cms_stream").collect()}

    batch = spark.createDataFrame(
        [(e["ts"], e["tok"]) for e in events], "ts string, tok string")
    want = {}
    for hour in (0, 1):
        sub = batch.filter(
            F.hour(F.to_timestamp("ts")) == hour)
        for r in countmin_table(sub, "tok", depth=2, width=8).collect():
            want[(hour, r.cm_row, r.cm_bucket)] = r.cm_count
    assert got == want


def test_stream_countmin_validates_params(spark, tmp_path):
    """Degenerate sketch parameters raise loudly on the stream path,
    matching the batch sketch (a depth-0 stream would silently emit an
    empty sketch forever)."""
    import pytest as _pytest

    from kiji_mapreduce_spark.streaming import stream_countmin

    src = _write_stream_input(tmp_path, [
        {"ts": "2024-01-01T00:05:00Z", "tok": "a"}])
    stream = spark.readStream.schema("ts timestamp, tok string").json(src)
    with _pytest.raises(ValueError, match="depth >= 1"):
        stream_countmin(stream, "tok", "ts", depth=0)
    with _pytest.raises(ValueError, match="width >= 2"):
        stream_countmin(stream, "tok", "ts", width=1)


def test_cli_classify_and_sketch(spark, tmp_path, capsys):
    """classify-train -> model JSON -> classify-score (+metrics) and
    the sketch subcommand, end to end through the CLI."""
    import json as _json

    rows = []
    for i in range(60):
        y = i % 2
        words = ["alpha", "beta", "gamma"] if y else ["spam", "junk", "ads"]
        rows.append((i, " ".join(words * 4), y))
    docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
    docs.write.parquet(f"{tmp_path}/docs")

    rc = cli.main([
        "classify-train", "--input", f"{tmp_path}/docs",
        "--model", f"{tmp_path}/model.json", "--dim", "64",
        "--iters", "10"])
    assert rc == 0
    trained = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert trained["nonzero_weights"] > 0

    rc = cli.main([
        "classify-score", "--input", f"{tmp_path}/docs",
        "--model", f"{tmp_path}/model.json",
        "--output", f"{tmp_path}/scored",
        "--eval-labels", f"{tmp_path}/docs"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["metrics"]["auc"] > 0.95
    assert out["metrics"]["n"] == 60

    rc = cli.main([
        "sketch", "--input", f"{tmp_path}/docs", "--kind", "kmv",
        "--value-col", "doc_id", "--group-col", "label",
        "--output", f"{tmp_path}/kmv"])
    assert rc == 0
    kmv = {r.label: r.estimate
           for r in spark.read.parquet(f"{tmp_path}/kmv").collect()}
    assert kmv == {0: 30.0, 1: 30.0}  # below k -> exact

    rc = cli.main([
        "sketch", "--input", f"{tmp_path}/docs", "--kind", "countmin",
        "--value-col", "label", "--output", f"{tmp_path}/cms",
        "--depth", "2", "--width", "16"])
    assert rc == 0
    cells = spark.read.parquet(f"{tmp_path}/cms")
    assert cells.count() <= 2 * 16
    total = sum(r.cm_count for r in cells.collect())
    assert total == 60 * 2  # every row lands in depth cells


def test_cli_dedup_index_build_and_ingest(spark, tmp_path, capsys):
    """dedup-index build persists the MinHash index; ingest finds the
    batch-vs-corpus near-dup and appends the batch to the index."""
    import json as _json

    def _text(i, fuzz=""):
        return (" ".join(f"w{i}a{j}" for j in range(30)) + " " + fuzz)

    corpus = spark.createDataFrame(
        [(i, _text(i)) for i in range(8)], "doc_id long, text string")
    corpus.write.parquet(f"{tmp_path}/corpus")
    rc = cli.main(["dedup-index", "--mode", "build",
                   "--input", f"{tmp_path}/corpus",
                   "--index", f"{tmp_path}/idx"])
    assert rc == 0
    built = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["rows"] == 8

    # batch: one near-dup of corpus doc 3 (tiny suffix change), one new
    batch = spark.createDataFrame(
        [(100, _text(3, "extra")), (101, _text(55))],
        "doc_id long, text string")
    batch.write.parquet(f"{tmp_path}/batch")
    rc = cli.main(["dedup-index", "--mode", "ingest",
                   "--input", f"{tmp_path}/batch",
                   "--index", f"{tmp_path}/idx",
                   "--pairs", f"{tmp_path}/pairs",
                   "--updated-index", f"{tmp_path}/idx2",
                   "--threshold", "0.8"])
    assert rc == 0
    pairs = {(r.id_a, r.id_b)
             for r in spark.read.parquet(f"{tmp_path}/pairs").collect()}
    assert pairs == {(3, 100)}
    assert spark.read.parquet(f"{tmp_path}/idx2").count() == 10

    # --updated-index aliasing --index is rejected up front: overwriting
    # the path the lazy index read still scans would fail or corrupt it
    with pytest.raises(SystemExit):
        cli.main(["dedup-index", "--mode", "ingest",
                  "--input", f"{tmp_path}/batch",
                  "--index", f"{tmp_path}/idx",
                  "--pairs", f"{tmp_path}/pairs2",
                  "--updated-index", f"{tmp_path}/sub/../idx"])


def test_stream_drift_matches_numpy_psi(spark, tmp_path):
    """Streaming PSI per window == the numpy PSI of the same window's
    histogram vs the reference (same clamp/bins/epsilon); NULL values
    are excluded; parameter guards raise."""
    import math

    import pytest as _pytest

    from kiji_mapreduce_spark.streaming import stream_drift

    events = [
        {"ts": "2024-01-01T00:05:00Z", "v": 1.0},
        {"ts": "2024-01-01T00:10:00Z", "v": 3.0},
        {"ts": "2024-01-01T00:20:00Z", "v": 9.5},   # clamps into last bin
        {"ts": "2024-01-01T01:10:00Z", "v": 7.0},
        {"ts": "2024-01-01T01:15:00Z", "v": None},  # ignored
    ]
    ref = [2, 1, 1, 0]  # 4 bins over [0, 8)
    src = _write_stream_input(tmp_path, events)
    stream = spark.readStream.schema("ts timestamp, v double").json(src)
    drift = stream_drift(stream, "v", "ts", ref, lo=0.0, hi=8.0,
                         window_duration="1 hour")
    q = (drift.writeStream.outputMode("complete").format("memory")
         .queryName("drift_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.window.start.hour: (r.n_events, r.psi, r.ks, r.drifted)
           for r in spark.table("drift_stream").collect()}

    eps = 1e-6
    rt = float(sum(ref))
    by_hour = {0: [1.0, 3.0, 9.5], 1: [7.0]}
    for hour, vals in by_hour.items():
        hist = [0] * 4
        for v in vals:
            hist[min(3, max(0, int(min(8.0, max(0.0, v)) // 2)))] += 1
        psi = 0.0
        for i in range(4):
            pw = hist[i] / len(vals) + eps
            pr = ref[i] / rt + eps
            psi += (pw - pr) * math.log(pw / pr)
        # binned KS: max cumulative-CDF gap, unsmoothed (two-signal
        # parity with audit.distribution_drift)
        ks = cw = cr = 0.0
        for i in range(4):
            cw += hist[i] / len(vals)
            cr += ref[i] / rt
            ks = max(ks, abs(cw - cr))
        n, got_psi, got_ks, drifted = got[hour]
        assert n == len(vals)
        assert got_psi == round(psi, 6), (hour, got_psi, psi)
        assert got_ks == round(ks, 6), (hour, got_ks, ks)
        assert drifted == (psi > 0.25)

    with _pytest.raises(ValueError):
        stream_drift(stream, "v", "ts", [5], lo=0.0, hi=8.0)
    with _pytest.raises(ValueError):
        stream_drift(stream, "v", "ts", [0, 0], lo=0.0, hi=8.0)
    with _pytest.raises(ValueError):
        stream_drift(stream, "v", "ts", ref, lo=8.0, hi=8.0)


def test_cli_split_with_leakage_report(spark, tmp_path, capsys):
    """split assigns every row deterministically, honors custom split
    specs, and the leakage report counts the planted cross-split
    duplicate; malformed specs exit with a usage error."""
    import json as _json

    import pytest as _pytest

    rows = [(i, f"doc text {i}") for i in range(100)]
    rows.append((100, "doc text 0"))  # exact dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.parquet(f"{tmp_path}/docs")

    rc = cli.main([
        "split", "--input", f"{tmp_path}/docs",
        "--output", f"{tmp_path}/assigned",
        "--leakage-report"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(out["counts"].values()) == 101
    assert set(out["counts"]) == {"train", "val", "test"}
    held = {r["split"] for r in out["leakage"]}
    assert held == {"val", "test"}

    got = spark.read.parquet(f"{tmp_path}/assigned")
    assert got.count() == 101 and "split" in got.columns
    # the report must equal the leakage recomputed from the written
    # assignment (not merely be <= the planted-dup count — a wiring
    # regression that always reports 0 has to fail here)
    by_doc = {r.doc_id: (r.text, r.split) for r in got.collect()}
    train_texts = {t for t, s in by_doc.values() if s == "train"}
    want = {}
    for t, s in by_doc.values():
        if s != "train":
            n_docs, n_leak = want.get(s, (0, 0))
            want[s] = (n_docs + 1, n_leak + (t in train_texts))
    assert {r["split"]: (r["n_docs"], r["n_leaked"])
            for r in out["leakage"]} == want
    # the planted dup pair (docs 0 and 100) leaks iff it straddles the
    # train boundary; tie the report's total to that ground truth
    planted = sum(1 for d in (0, 100)
                  if by_doc[d][1] != "train"
                  and by_doc[0 if d else 100][1] == "train")
    assert sum(r["n_leaked"] for r in out["leakage"]) == planted

    rc = cli.main([
        "split", "--input", f"{tmp_path}/docs",
        "--output", f"{tmp_path}/assigned2",
        "--splits", "fit=0.5,holdout=0.5"])
    assert rc == 0
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out2["counts"]) == {"fit", "holdout"}

    with _pytest.raises(SystemExit):
        cli.main(["split", "--input", f"{tmp_path}/docs",
                  "--output", f"{tmp_path}/bad", "--splits", "oops"])
    with _pytest.raises(SystemExit):
        cli.main(["split", "--input", f"{tmp_path}/docs",
                  "--output", f"{tmp_path}/bad",
                  "--splits", "train=0.9,test=0.3"])


def test_cli_curate_with_splits(spark, tmp_path, capsys):
    """--splits appends the deterministic split column to the curated
    survivors; every surviving doc is assigned; malformed specs exit
    with a usage error."""
    import json as _json

    import pytest as _pytest

    docs = spark.createDataFrame(
        [(i, "clean readable text with many plain words here " * 3, "en")
         for i in range(40)],
        "doc_id long, text string, lang string")
    docs.write.parquet(f"{tmp_path}/docs")
    rc = cli.main([
        "curate", "--input", f"{tmp_path}/docs",
        "--output", f"{tmp_path}/curated",
        "--min-quality", "0.0",
        "--splits", "train=0.8,val=0.1,test=0.1"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = spark.read.parquet(f"{tmp_path}/curated")
    assert "split" in got.columns
    assigned = {r.split for r in got.collect()}
    assert assigned <= {"train", "val", "test"} and "train" in assigned
    assert got.filter(F.col("split").isNull()).count() == 0
    assert out["docs_out"] == got.count()
    with _pytest.raises(SystemExit):
        cli.main(["curate", "--input", f"{tmp_path}/docs",
                  "--output", f"{tmp_path}/bad", "--splits", "nope"])


def test_cli_drift_report(spark, tmp_path, capsys):
    """drift prints the PSI + binned KS JSON of audit.distribution_drift
    for two parquet snapshots; a shifted distribution flags drifted."""
    import json as _json

    before = spark.createDataFrame(
        [(i, float(i % 10)) for i in range(200)], "id long, v double")
    after = spark.createDataFrame(
        [(i, float(i % 10) + 6.0) for i in range(150)], "id long, v double")
    before.write.parquet(f"{tmp_path}/before")
    after.write.parquet(f"{tmp_path}/after")

    rc = cli.main(["drift", "--before", f"{tmp_path}/before",
                   "--after", f"{tmp_path}/after", "--col", "v",
                   "--bins", "8"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_before"] == 200 and out["n_after"] == 150
    assert out["drifted"] is True and out["psi"] > 0.25
    assert 0.0 < out["ks"] <= 1.0
    # identical snapshots: both signals at their floor, not drifted
    rc = cli.main(["drift", "--before", f"{tmp_path}/before",
                   "--after", f"{tmp_path}/before", "--col", "v",
                   "--bins", "8"])
    assert rc == 0
    same = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert same["drifted"] is False
    assert abs(same["psi"]) < 1e-6 and same["ks"] == 0.0


def test_cli_ann_tune_recall_rises_with_nprobe(spark, tmp_path, capsys):
    """ann-tune reports the recall/cost frontier: recall and candidate
    counts are non-decreasing in nprobe, and probing every cell recovers
    the exact result (recall 1.0)."""
    import json as _json

    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(60)]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.parquet(f"{tmp_path}/emb")

    rc = cli.main(["ann-tune", "--input", f"{tmp_path}/emb",
                   "--index", "ivf", "--grid", "1,2,4",
                   "--queries", "8", "--k", "3", "--n-centroids", "4"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rep = out["report"]
    assert [r["setting"]["nprobe"] for r in rep] == [1, 2, 4]
    recalls = [r["recall"] for r in rep]
    cands = [r["avg_candidates"] for r in rep]
    assert recalls == sorted(recalls)
    assert cands == sorted(cands)
    assert rep[-1]["recall"] == 1.0  # nprobe == n_centroids -> exact
    assert all(r["n_queries"] == 8 and r["k"] == 3 for r in rep)


def test_cli_media_dedup_image_pairs(spark, tmp_path, capsys):
    """media-dedup hashes real PNG content and writes the banded
    near-dup pairs; the duplicate pair lands at hamming 0."""
    import json as _json

    import numpy as np

    from kiji_mapreduce_spark.pipeline import media_codecs as mc

    rng = np.random.RandomState(5)
    a = rng.randint(0, 256, size=(16, 18, 3)).astype(np.uint8)
    b = (np.arange(16 * 18 * 3, dtype=np.uint32).reshape(16, 18, 3)
         * 11 % 256).astype(np.uint8)
    spark.createDataFrame(
        [(1, mc.encode_png(a)), (2, mc.encode_png(a)),
         (3, mc.encode_png(b))],
        "media_id long, content binary").write.parquet(f"{tmp_path}/media")

    rc = cli.main(["media-dedup", "--input", f"{tmp_path}/media",
                   "--kind", "image", "--output", f"{tmp_path}/pairs"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_pairs"] >= 1
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in spark.read.parquet(f"{tmp_path}/pairs").collect()}
    assert pairs[(1, 2)] == 0


def test_cli_media_probe(spark, tmp_path, capsys):
    """media-probe writes the container metadata table for a mixed
    corpus — ffmpeg-territory containers included — and reports the
    per-container census."""
    import json as _json

    import numpy as np

    from kiji_mapreduce_spark.pipeline import media_codecs as mc
    from tests.test_media import mp3_fixture, mp4_fixture

    png = mc.encode_png(
        np.zeros((4, 6, 3), np.uint8))
    spark.createDataFrame(
        [(1, mp4_fixture()), (2, mp3_fixture()), (3, png),
         (4, b"junk that is no container")],
        "media_id long, content binary").write.parquet(
        f"{tmp_path}/media")
    rc = cli.main(["media-probe", "--input", f"{tmp_path}/media",
                   "--output", f"{tmp_path}/probe"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rows"] == 4
    assert out["by_container"] == {"mp4": 1, "mp3": 1, "png": 1,
                                   "unknown": 1}
    rows = {r.media_id: r for r in
            spark.read.parquet(f"{tmp_path}/probe").collect()}
    assert rows[1].codec == "avc1" and rows[1].duration_ms == 2500.0
    assert rows[2].kind == "audio" and rows[2].sample_rate == 44100
    assert rows[3].width == 6 and rows[4].container is None


def test_cli_media_dedup_video_pairs(spark, tmp_path, capsys):
    """media-dedup --kind video decodes Motion-PNG clips, samples
    frames, and writes frame-aligned pair counts (n_matching)."""
    import json as _json

    import numpy as np

    from kiji_mapreduce_spark.pipeline import media_codecs as mc

    rng = np.random.RandomState(17)
    fr = [rng.randint(0, 256, size=(8, 9)).astype(np.uint8)
          for _ in range(4)]
    other = [rng.randint(0, 256, size=(8, 9)).astype(np.uint8)
             for _ in range(4)]
    spark.createDataFrame(
        [(1, mc.encode_video(fr)), (2, mc.encode_video(fr)),
         (3, mc.encode_video(other))],
        "media_id long, content binary").write.parquet(f"{tmp_path}/vids")

    rc = cli.main(["media-dedup", "--input", f"{tmp_path}/vids",
                   "--kind", "video", "--every-n", "2",
                   "--min-frames", "2", "--max-hamming", "2",
                   "--output", f"{tmp_path}/vpairs"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_pairs"] == 1 and out["kind"] == "video"
    rows = spark.read.parquet(f"{tmp_path}/vpairs").collect()
    assert [(r.id_a, r.id_b, r.n_matching) for r in rows] == [(1, 2, 2)]


def test_stream_media_dedup_incremental_index(spark, tmp_path):
    """Streaming perceptual-hash dedup against a persisted code index:
    batch 1 seeds the index (and emits its within-batch dup), batch 2 —
    a separate availableNow run restarting from the same checkpoint —
    emits new-vs-index and new-vs-new pairs but never re-emits the
    old-vs-old pair; undecodable blobs are dropped, not fatal; the
    index accumulates every decodable code."""
    import numpy as np

    from kiji_mapreduce_spark.pipeline import media_codecs as mc
    from kiji_mapreduce_spark.streaming import stream_media_dedup

    rng = np.random.RandomState(31)
    img_a = rng.randint(0, 256, size=(16, 18, 3)).astype(np.uint8)
    img_c = rng.randint(0, 256, size=(16, 18, 3)).astype(np.uint8)
    src = tmp_path / "media_src"
    idx, pairs_dir, ckpt = (str(tmp_path / d)
                            for d in ("idx", "pairs", "ckpt_md"))

    def _run():
        stream = (spark.readStream
                  .schema("media_id long, content binary")
                  .parquet(str(src)))
        q = stream_media_dedup(
            stream, index_dir=idx, pairs_dir=pairs_dir, checkpoint=ckpt,
            kind="image", max_hamming=2, bands=4)
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, mc.encode_png(img_a)), (2, mc.encode_png(img_a))],
        "media_id long, content binary"
    ).coalesce(1).write.mode("append").parquet(str(src))
    _run()
    first = {(r.id_a, r.id_b) for r in
             spark.read.parquet(pairs_dir).collect()}
    assert first == {(1, 2)}

    spark.createDataFrame(
        [(3, mc.encode_png(img_a)), (4, mc.encode_png(img_c)),
         (5, mc.encode_png(img_c)), (6, b"not media")],
        "media_id long, content binary"
    ).coalesce(1).write.mode("append").parquet(str(src))
    _run()
    rows = spark.read.parquet(pairs_dir).collect()
    assert sorted((r.id_a, r.id_b) for r in rows) == \
        [(1, 2), (1, 3), (2, 3), (4, 5)]  # (1,2) exactly once
    assert all(r.hamming == 0 for r in rows)
    index_ids = {r.media_id for r in spark.read.parquet(idx).collect()}
    assert index_ids == {1, 2, 3, 4, 5}  # 6 dropped as undecodable


def test_cli_media_dedup_incremental_index(spark, tmp_path, capsys):
    """media-dedup --index: first ingest seeds the index, second ingest
    pairs only new-vs-{index,new} and grows the index."""
    import json as _json

    import numpy as np

    from kiji_mapreduce_spark.pipeline import media_codecs as mc

    rng = np.random.RandomState(41)
    img = rng.randint(0, 256, size=(16, 18, 3)).astype(np.uint8)
    idx = str(tmp_path / "codes_idx")
    spark.createDataFrame(
        [(1, mc.encode_png(img))], "media_id long, content binary"
    ).write.parquet(f"{tmp_path}/b1")
    rc = cli.main(["media-dedup", "--input", f"{tmp_path}/b1",
                   "--kind", "image", "--index", idx,
                   "--output", f"{tmp_path}/p1"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_pairs"] == 0 and out["index_rows"] == 1

    spark.createDataFrame(
        [(2, mc.encode_png(img))], "media_id long, content binary"
    ).write.parquet(f"{tmp_path}/b2")
    rc = cli.main(["media-dedup", "--input", f"{tmp_path}/b2",
                   "--kind", "image", "--index", idx,
                   "--output", f"{tmp_path}/p2"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_pairs"] == 1 and out["index_rows"] == 2
    rows = spark.read.parquet(f"{tmp_path}/p2").collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in rows] == [(1, 2, 0)]

    # replay idempotence (ADVICE r7): re-running the SAME batch against
    # the same index overwrites its deterministic batch partition
    # instead of appending — index rows must NOT double-count
    rc = cli.main(["media-dedup", "--input", f"{tmp_path}/b2",
                   "--kind", "image", "--index", idx,
                   "--output", f"{tmp_path}/p2"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["index_rows"] == 2  # still 2, not 3
    assert {r.media_id for r in spark.read.parquet(idx).collect()} == \
        {1, 2}


def test_cli_media_dedup_jpeg_without_fake_decoder(spark, tmp_path,
                                                   capsys):
    """kiji-mr media-dedup decodes JPEG content with the native
    baseline codec — a JPEG re-encode of a PNG image pairs at
    hamming 0."""
    import json as _json

    import numpy as np

    from kiji_mapreduce_spark.pipeline import media_codecs as mc

    yy, xx = np.mgrid[0:32, 0:48]
    grad = np.stack([(xx * 5) % 256, (yy * 7) % 256,
                     (xx * 2 + yy * 3) % 256], -1).astype(np.uint8)
    distinct = np.random.RandomState(5).randint(
        0, 256, size=grad.shape).astype(np.uint8)
    spark.createDataFrame(
        [(1, mc.encode_png(grad)), (2, mc.encode_jpeg(grad)),
         (3, mc.encode_jpeg(distinct))],
        "media_id long, content binary"
    ).write.parquet(f"{tmp_path}/media")
    rc = cli.main(["media-dedup", "--input", f"{tmp_path}/media",
                   "--kind", "image",
                   "--output", f"{tmp_path}/pairs"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_pairs"] == 1
    rows = spark.read.parquet(f"{tmp_path}/pairs").collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in rows] == [(1, 2, 0)]


def test_cli_crawl_ingest_end_to_end(spark, tmp_path, capsys):
    """crawl-ingest: WARC archive in, documents-shaped parquet out —
    HTML stripped to text, URLs canonicalized, registered domain
    derived, deterministic doc ids, short docs dropped."""
    import json as _json

    from tests.test_io import _warc_record

    html = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<html><body><p>Hello crawl world today</p></body></html>")
    tiny = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<html><body>x</body></html>")
    d = tmp_path / "archives"
    d.mkdir()
    (d / "seg.warc").write_bytes(
        _warc_record("warcinfo", None, b"software: test")
        + _warc_record("response",
                       "HTTP://News.Example.co.uk:80/a?utm_source=t&b=1",
                       html)
        + _warc_record("response", "http://example.com/tiny", tiny))
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/docs", "--min-tokens", "2"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 1 and out["n_domains"] == 1
    assert out["n_rejected_encoded"] == 0
    row = spark.read.parquet(f"{tmp_path}/docs").first()
    assert row.url == "http://news.example.co.uk/a?b=1"
    assert row.domain == "example.co.uk"
    assert row.text == "Hello crawl world today"
    assert row.content_type == "text/html"
    # deterministic ids: a re-run produces the same doc_id
    first_id = row.doc_id
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/docs2", "--min-tokens", "2"])
    assert rc == 0
    capsys.readouterr()
    assert spark.read.parquet(f"{tmp_path}/docs2").first().doc_id == first_id
    # per-domain cap: 3 same-domain pages capped deterministically at 2
    (d / "seg2.warc").write_bytes(b"".join(
        _warc_record("response", f"http://big.site/{i}",
                     b"HTTP/1.1 200 OK\r\n\r\n<p>some words here ok</p>")
        for i in range(3)))
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/docs3", "--min-tokens", "2",
                   "--max-docs-per-domain", "2"])
    assert rc == 0
    out3 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    capped = spark.read.parquet(f"{tmp_path}/docs3")
    assert capped.filter("domain = 'big.site'").count() == 2
    assert out3["n_docs"] == 3  # 2 capped + the 1 example.co.uk doc


def test_cli_crawl_ingest_counts_encoded_rejects(spark, tmp_path,
                                                 capsys):
    """A brotli-encoded response is rejected (no garbage doc) and the
    run's stats carry the rejected counter — observed inside the
    ingest write itself, no second archive pass."""
    import json as _json

    from tests.test_io import _warc_record

    ok = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
          b"<p>kept page with plenty of words inside</p>")
    br = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
          b"Content-Encoding: br\r\n\r\n"
          + bytes((i * 53 + 7) % 256 for i in range(300)))
    d = tmp_path / "brarch"
    d.mkdir()
    (d / "seg.warc").write_bytes(
        _warc_record("response", "http://keep.example.com/", ok)
        + _warc_record("response", "http://drop.example.com/", br))
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/brdocs",
                   "--min-tokens", "2"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 1
    assert out["n_rejected_encoded"] == 1
    # per-encoding breakdown next to the corpus stats (r11 verdict
    # ask #5): the operator sees WHAT the gate dropped
    assert out["encoding_rejects"] == {"br": 1}
    rows = spark.read.parquet(f"{tmp_path}/brdocs").collect()
    assert [r.url for r in rows] == ["http://keep.example.com/"]

    # zero rejects -> no breakdown key (and no extra archive pass)
    d2 = tmp_path / "cleanarch"
    d2.mkdir()
    (d2 / "seg.warc").write_bytes(
        _warc_record("response", "http://keep.example.com/", ok))
    rc = cli.main(["crawl-ingest", "--input", str(d2),
                   "--output", f"{tmp_path}/cleandocs",
                   "--min-tokens", "2"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rejected_encoded"] == 0
    assert "encoding_rejects" not in out


def test_cli_crawl_ingest_media_output(spark, tmp_path, capsys):
    """--media-output extracts the crawl's media responses into a
    second table that `kiji-mr media-dedup` consumes as-is: the same
    image served at two URLs comes back as a near-dup pair, completing
    archive -> media table -> perceptual dedup in two commands."""
    import json as _json

    import numpy as np

    from kiji_mapreduce_spark.pipeline import media_codecs as mc
    from tests.test_io import _warc_record

    png = mc.encode_png(
        (np.arange(16 * 16 * 3, dtype=np.uint8) % 251).reshape(16, 16, 3))
    wav = mc.encode_wav(
        (np.sin(np.arange(256) / 7.0) * 900).astype(np.int16), 8000)
    html = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<p>regular page words here</p>")
    img = b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n" + png
    aud = b"HTTP/1.1 200 OK\r\nContent-Type: audio/wav\r\n\r\n" + wav
    d = tmp_path / "archives"
    d.mkdir()
    (d / "seg.warc").write_bytes(
        _warc_record("response", "http://a.example.com/page", html)
        + _warc_record("response", "http://a.example.com/logo.png", img)
        + _warc_record("response", "http://b.example.org/copy.png", img)
        + _warc_record("response", "http://a.example.com/pod.wav", aud))
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/docs",
                   "--media-output", f"{tmp_path}/media"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 1
    assert out["media_counts"] == {"image": 2, "audio": 1}
    media = spark.read.parquet(f"{tmp_path}/media")
    assert {r.domain for r in media.collect()} == \
        {"example.com", "example.org"}
    # the mixed-kind table works as-is: --kind scopes the decode (an
    # unfiltered run would abort on the WAV body, r8 review finding)
    rc = cli.main(["media-dedup", "--input", f"{tmp_path}/media",
                   "--kind", "image", "--output", f"{tmp_path}/pairs"])
    assert rc == 0
    capsys.readouterr()
    assert spark.read.parquet(f"{tmp_path}/pairs").count() == 1

    # media extraction is per-record, so it streams: same archives via
    # --stream land the same media rows (deterministic ids) in
    # batch_id= partitions
    rc = cli.main(["crawl-ingest", "--input", f"{d}/*.warc",
                   "--output", f"{tmp_path}/sdocs", "--stream",
                   "--checkpoint", f"{tmp_path}/ck",
                   "--media-output", f"{tmp_path}/smedia"])
    assert rc == 0
    sout = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sout["media"] == f"{tmp_path}/smedia"
    smedia = spark.read.parquet(f"{tmp_path}/smedia")
    assert {r.media_id for r in smedia.collect()} == \
        {r.media_id for r in media.collect()}


def test_cli_crawl_ingest_curate_end_to_end(spark, tmp_path, capsys):
    """r7 verdict ask #8: one command from .warc.gz to a curated,
    split, dedup-indexed corpus — quality gate drops the thin page,
    exact dedup collapses the mirrored page, every survivor carries a
    deterministic split, and the MinHash index of the final corpus
    catches a near-dup in the NEXT batch via dedup-index ingest."""
    import gzip
    import json as _json

    from tests.test_io import _warc_record

    good = ("the quick brown fox jumps over the lazy dog and then "
            "the fox naps in the warm sun for a long while today")
    other = ("a completely different page where the cat watches the "
             "birds from the window and the dog sleeps on the rug")

    def page(body: str) -> bytes:
        return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + f"<html><body><p>{body}</p></body></html>".encode())

    d = tmp_path / "arch"
    d.mkdir()
    (d / "seg.warc.gz").write_bytes(b"".join(
        gzip.compress(_warc_record("response", uri, page(body)))
        for uri, body in [
            ("http://a.example.com/1", good),
            ("http://mirror.example.org/1", good),   # exact dup
            ("http://b.example.com/2", other),
            ("http://thin.example.com/3", "too few words"),  # quality
        ]))
    idx = f"{tmp_path}/minhash_idx"
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/corpus", "--curate",
                   "--splits", "train=0.5,val=0.25,test=0.25",
                   "--dedup-index", idx])
    assert rc == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    corpus = spark.read.parquet(f"{tmp_path}/corpus")
    # 4 pages -> quality drops 'thin', dedup collapses the mirror -> 2
    assert stats["n_docs"] == 2 and stats["curated"] is True
    texts = sorted(r.text for r in corpus.collect())
    assert texts == sorted([good, other])
    assert set(corpus.columns) >= {"doc_id", "url", "domain", "split",
                                   "quality_score", "n_tokens"}
    assert all(r.split in ("train", "val", "test")
               for r in corpus.collect())
    assert sum(stats["split_counts"].values()) == 2
    # index rows cover exactly the surviving corpus
    assert stats["index_rows"] >= 1
    ids = {r.doc_id for r in corpus.collect()}
    assert {r.doc_id for r in spark.read.parquet(idx)
            .select("doc_id").distinct().collect()} == ids

    # deterministic ids: a re-run mints the same doc_ids
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/corpus2", "--curate"])
    assert rc == 0
    capsys.readouterr()
    assert {r.doc_id for r in spark.read.parquet(
        f"{tmp_path}/corpus2").collect()} == ids

    # next crawl batch: a page whose text near-duplicates the indexed
    # corpus is caught by dedup-index ingest against the SAME index
    (d2 := tmp_path / "arch2").mkdir()
    near = good.replace("lazy", "sleepy")
    (d2 / "seg.warc").write_bytes(
        _warc_record("response", "http://c.example.net/1", page(near)))
    rc = cli.main(["crawl-ingest", "--input", str(d2),
                   "--output", f"{tmp_path}/batch2"])
    assert rc == 0
    capsys.readouterr()
    rc = cli.main(["dedup-index", "--mode", "ingest",
                   "--input", f"{tmp_path}/batch2", "--index", idx,
                   "--pairs", f"{tmp_path}/pairs",
                   "--threshold", "0.5"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_pairs"] >= 1


def test_stream_crawl_ingest_exactly_once(spark, tmp_path, capsys):
    """Streaming crawl ingest: archives arriving over time are each
    processed exactly once across runs sharing a checkpoint, batch
    output lands in replay-idempotent batch_id= partitions, doc ids
    stay the deterministic xxhash64(path, record_no) — identical to
    the batch CLI's ids for the same archives (shared chain)."""
    import json as _json

    from tests.test_io import _warc_record

    body = b"HTTP/1.1 200 OK\r\n\r\n<p>some page words right here</p>"
    d = tmp_path / "inbox"
    d.mkdir()
    (d / "seg1.warc").write_bytes(
        _warc_record("response", "http://a.example.co.uk/1", body))
    ckpt = f"{tmp_path}/ckpt"
    out_dir = f"{tmp_path}/docs"
    rc = cli.main(["crawl-ingest", "--input", f"{d}/*.warc",
                   "--output", out_dir, "--stream",
                   "--checkpoint", ckpt])
    assert rc == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_docs"] == 1 and stats["streaming"] is True
    first = spark.read.parquet(out_dir).collect()
    assert first[0].domain == "example.co.uk"

    # second archive arrives; same checkpoint -> ONLY the new file is
    # processed, first batch's rows are untouched
    (d / "seg2.warc").write_bytes(
        _warc_record("response", "http://b.example.com/2", body))
    rc = cli.main(["crawl-ingest", "--input", f"{d}/*.warc",
                   "--output", out_dir, "--stream",
                   "--checkpoint", ckpt])
    assert rc == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # n_docs is THIS RUN's ingest (seg2 only), not the accumulated
    # corpus — and no full-corpus scan pays for the stat
    assert stats["n_docs"] == 1 and stats["n_batches"] == 1
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 2  # exactly once: seg1 NOT re-ingested
    assert {r.domain for r in rows} == {"example.co.uk", "example.com"}

    # batch CLI over the same archives mints the SAME doc ids
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/batch_docs"])
    assert rc == 0
    capsys.readouterr()
    assert {r.doc_id for r in rows} == \
        {r.doc_id for r in spark.read.parquet(
            f"{tmp_path}/batch_docs").collect()}

    # guard: corpus-level passes are refused in stream mode
    import pytest

    with pytest.raises(SystemExit):
        cli.main(["crawl-ingest", "--input", f"{d}/*.warc",
                  "--output", out_dir, "--stream",
                  "--checkpoint", ckpt, "--curate"])
    capsys.readouterr()


def test_cli_compact_small_files(spark, tmp_path, capsys):
    """compact: a streaming sink's accumulated batch_id= partitions
    (many tiny files) merge behind the atomic bulk-load swap. The
    DEFAULT preserves the dataset's own hive layout (files merged
    within each partition), so a stream writing new batch_id= dirs
    afterwards still reads whole; --flatten is the explicit terminal
    rewrite; --dry-run only reports; every row survives either way."""
    import json as _json

    # simulate 6 micro-batch writes of 2 rows each, 2 files per batch
    for b in range(6):
        spark.range(b * 2, b * 2 + 2).selectExpr(
            "id as doc_id", "id * 10 as v").repartition(2) \
            .write.parquet(f"{tmp_path}/docs/batch_id={b}")
    n_before = len(spark.read.parquet(f"{tmp_path}/docs").inputFiles())
    assert n_before >= 12

    rc = cli.main(["compact", "--input", f"{tmp_path}/docs",
                   "--dry-run"])
    assert rc == 0
    dry = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert dry["files_before"] == n_before and dry["n_rows"] == 12
    assert dry["partition_by"] == ["batch_id"]  # discovered layout
    # partitioned mode sizes files by records-per-file, not task count
    assert dry["max_records_per_file"] >= 1 and "target_files" not in dry
    assert len(spark.read.parquet(f"{tmp_path}/docs").inputFiles()) \
        == n_before  # dry run touched nothing

    # default: merge files WITHIN the discovered batch_id= layout
    rc = cli.main(["compact", "--input", f"{tmp_path}/docs"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    after = spark.read.parquet(f"{tmp_path}/docs")
    assert out["files_after"] == len(after.inputFiles()) == 6
    assert out["n_rows"] == 12
    assert all("batch_id=" in f for f in after.inputFiles())
    assert {(r.doc_id, r.v, r.batch_id) for r in after.collect()} == \
        {(i, i * 10, i // 2) for i in range(12)}

    # layout safety: a stream writing the NEXT batch dir after the
    # default compaction still reads whole (flat+hive mixes silently
    # drop the flat rows — the reason flatten is opt-in)
    spark.range(12, 14).selectExpr("id as doc_id", "id * 10 as v") \
        .write.parquet(f"{tmp_path}/docs/batch_id=6")
    assert spark.read.parquet(f"{tmp_path}/docs").count() == 14

    # --flatten: the terminal rewrite, partition column becomes data
    rc = cli.main(["compact", "--input", f"{tmp_path}/docs",
                   "--flatten"])
    assert rc == 0
    flat = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert flat["target_files"] == 1  # flat mode sizes by task count
    flatdf = spark.read.parquet(f"{tmp_path}/docs")
    assert flat["files_after"] == len(flatdf.inputFiles()) == 1
    assert {(r.doc_id, r.v, r.batch_id) for r in flatdf.collect()} == \
        {(i, i * 10, i // 2) for i in range(14)}

    # loud usage errors: missing dataset, flatten+partition-by
    import pytest

    with pytest.raises(SystemExit):
        cli.main(["compact", "--input", f"{tmp_path}/nope"])
    capsys.readouterr()
    with pytest.raises(SystemExit):
        cli.main(["compact", "--input", f"{tmp_path}/docs",
                  "--flatten", "--partition-by", "batch_id"])
    capsys.readouterr()


def test_compact_between_stream_media_dedup_runs(spark, tmp_path,
                                                 capsys):
    """The advertised maintenance loop: compacting the streaming
    dedup's code index BETWEEN runs (default layout-preserving mode)
    merges files within its batch_id= partitions, and the next stream
    run still pairs new arrivals against the full compacted index."""
    import numpy as np

    from kiji_mapreduce_spark.pipeline import media_codecs as mc
    from kiji_mapreduce_spark.streaming import stream_media_dedup

    img = mc.encode_png(
        np.random.RandomState(3).randint(0, 256, (12, 12, 3))
        .astype(np.uint8))
    src = tmp_path / "msrc"
    idx, pairs_dir, ckpt = (str(tmp_path / d)
                            for d in ("idx", "pairs", "ck"))

    def _run():
        stream = (spark.readStream
                  .schema("media_id long, content binary")
                  .parquet(str(src)))
        q = stream_media_dedup(
            stream, index_dir=idx, pairs_dir=pairs_dir,
            checkpoint=ckpt, kind="image")
        q.awaitTermination(120)

    spark.createDataFrame([(1, img)], "media_id long, content binary") \
        .repartition(3).write.mode("append").parquet(str(src))
    _run()
    n_files = len(spark.read.parquet(idx).inputFiles())

    rc = cli.main(["compact", "--input", idx])
    assert rc == 0
    capsys.readouterr()
    after = spark.read.parquet(idx)
    assert len(after.inputFiles()) <= n_files
    assert all("batch_id=" in f for f in after.inputFiles())

    spark.createDataFrame([(2, img)], "media_id long, content binary") \
        .write.mode("append").parquet(str(src))
    _run()
    pairs = spark.read.parquet(pairs_dir).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_stream_media_dedup_decodes_by_default(spark, tmp_path):
    """With only its required arguments, ``stream_media_dedup`` hashes
    decoded pixels: a PNG and its one-pixel-corrupted copy, whose bytes
    differ throughout, come out as a pair."""
    from kiji_mapreduce_spark.streaming import stream_media_dedup
    from tests.test_media import _png_and_one_pixel_corruption

    base, corrupt, _ = _png_and_one_pixel_corruption()
    src = str(tmp_path / "msrc")
    spark.createDataFrame(
        [(1, base), (2, corrupt)], "media_id long, content binary"
    ).coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema("media_id long, content binary")
              .parquet(src))
    q = stream_media_dedup(stream, str(tmp_path / "idx"),
                           str(tmp_path / "pairs"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    pairs = spark.read.parquet(str(tmp_path / "pairs")).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_cli_corpus_stats(spark, tmp_path, capsys):
    """corpus-stats: one grouping-sets pass over a documents table
    reports global totals, per-language and per-domain distributions,
    and the log2 length histogram; missing columns are loud usage
    errors and --domain-col none skips the domain half."""
    import json as _json

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog", "a.com"),
         (2, "the cat and the dog and the bird", "a.com"),
         (3, "der hund und die katze und der vogel sind da", "b.de"),
         (4, "one two", "c.org"),
         (5, None, "c.org")],  # null text = EMPTY doc, not max-length
        "doc_id long, text string, domain string")
    docs.write.parquet(f"{tmp_path}/docs")

    rc = cli.main(["corpus-stats", "--input", f"{tmp_path}/docs",
                   "--top-domains", "2"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 5
    assert out["n_tokens"] == 9 + 8 + 10 + 2
    assert sum(v["n_docs"] for v in out["languages"].values()) == 5
    assert out["languages"]["und"]["n_docs"] >= 1  # the null-text doc
    assert out["n_domains"] == 3
    assert {d["domain"]: d["n_docs"] for d in out["top_domains"]} in \
        ({"a.com": 2, "c.org": 2},)
    # log2 buckets: null -> 0 (least() skips nulls — the coalesce
    # keeps it out of the cap bucket); 2 tokens -> 2; 8/9/10 -> 4
    assert out["length_log2_histogram"] == {"0": 1, "2": 1, "4": 3}

    # no domain column: skipped on request, loud otherwise
    docs.drop("domain").write.parquet(f"{tmp_path}/nodom")
    import pytest

    with pytest.raises(SystemExit):
        cli.main(["corpus-stats", "--input", f"{tmp_path}/nodom"])
    capsys.readouterr()
    rc = cli.main(["corpus-stats", "--input", f"{tmp_path}/nodom",
                   "--domain-col", "none"])
    assert rc == 0
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["n_docs"] == 5 and "top_domains" not in out2
    assert "splits" not in out2  # no split column: skipped silently

    # post-curation table: per-split doc/token totals from the same
    # single pass
    docs.withColumn("split", F.when(F.col("doc_id") <= 3, "train")
                    .otherwise("val")) \
        .withColumn("quality_score",
                    F.col("doc_id").cast("double") / 10) \
        .write.parquet(f"{tmp_path}/split_docs")
    rc = cli.main(["corpus-stats", "--input", f"{tmp_path}/split_docs"])
    assert rc == 0
    out3 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["splits"]["train"] == \
        {"n_docs": 3, "n_tokens": 27, "avg_quality": 0.2}
    assert out3["splits"]["val"] == \
        {"n_docs": 2, "n_tokens": 2, "avg_quality": 0.45}
    assert out3["avg_quality"] == 0.3  # same pass, global group

    # media-table mode: kind/domain/byte totals, payloads never parsed
    spark.createDataFrame(
        [(1, "image", "a.com", b"x" * 10), (2, "image", "b.de", b"y" * 6),
         (3, "audio", "a.com", b"z" * 100)],
        "media_id long, kind string, domain string, content binary") \
        .write.parquet(f"{tmp_path}/media")
    rc = cli.main(["corpus-stats", "--input", f"{tmp_path}/media",
                   "--media"])
    assert rc == 0
    out4 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out4["n_rows"] == 3 and out4["n_bytes"] == 116
    assert out4["kinds"]["image"] == {"n_rows": 2, "n_bytes": 16}
    assert out4["n_domains"] == 2
    assert out4["top_domains"][0] == {"domain": "a.com", "n_bytes": 110}

    # loud usage errors (review findings): --media on a non-media
    # table (no content column), an explicitly named missing split
    # column; and a kind-less media table with --domain-col none
    # still reports global totals + histogram
    with pytest.raises(SystemExit):
        cli.main(["corpus-stats", "--input", f"{tmp_path}/docs",
                  "--media"])
    capsys.readouterr()
    with pytest.raises(SystemExit):
        cli.main(["corpus-stats", "--input", f"{tmp_path}/docs",
                  "--split-col", "splt"])
    capsys.readouterr()
    spark.createDataFrame(
        [(1, b"x" * 8)], "media_id long, content binary") \
        .write.parquet(f"{tmp_path}/bare_media")
    rc = cli.main(["corpus-stats", "--input", f"{tmp_path}/bare_media",
                   "--media", "--domain-col", "none"])
    assert rc == 0
    out5 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out5["n_rows"] == 1 and out5["n_bytes"] == 8
    assert "top_domains" not in out5


def test_streaming_multimodal_chain_warc_to_pairs(spark, tmp_path,
                                                  capsys):
    """The continuous multimodal pipeline end-to-end with ZERO batch
    jobs: WARC segments arrive in an inbox -> streaming crawl ingest
    extracts the media table (--stream --media-output) -> a second
    stream reads the media table's batch_id= partitions and dedups
    perceptually against the persisted code index. A duplicate image
    arriving in a LATER segment pairs against the index; both streams
    resume from their checkpoints and process each input exactly
    once."""
    import numpy as np

    from kiji_mapreduce_spark.pipeline import media_codecs as mc
    from kiji_mapreduce_spark.streaming import stream_media_dedup
    from tests.test_io import _warc_record

    rng = np.random.RandomState(7)
    img = mc.encode_png(
        rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8))
    resp = b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n" + img
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    ingest = ["crawl-ingest", "--input", f"{inbox}/*.warc",
              "--output", f"{tmp_path}/docs", "--stream",
              "--checkpoint", f"{tmp_path}/ick",
              "--media-output", f"{tmp_path}/media"]
    media_schema = ("media_id long, url string, domain string, "
                    "content_type string, kind string, "
                    "warc_date string, content binary")

    def _dedup_run():
        stream = (spark.readStream.schema(media_schema)
                  .parquet(f"{tmp_path}/media/batch_id=*"))
        q = stream_media_dedup(
            stream, index_dir=f"{tmp_path}/idx",
            pairs_dir=f"{tmp_path}/pairs",
            checkpoint=f"{tmp_path}/dck", kind="image")
        q.awaitTermination(120)

    (inbox / "seg1.warc").write_bytes(
        _warc_record("response", "http://a.com/x.png", resp))
    assert cli.main(ingest) == 0
    capsys.readouterr()
    _dedup_run()
    idx = spark.read.parquet(f"{tmp_path}/idx")
    assert idx.count() == 1  # seeded, no pairs yet

    (inbox / "seg2.warc").write_bytes(
        _warc_record("response", "http://b.net/copy.png", resp))
    assert cli.main(ingest) == 0
    capsys.readouterr()
    _dedup_run()
    pairs = spark.read.parquet(f"{tmp_path}/pairs").collect()
    assert len(pairs) == 1 and pairs[0].hamming == 0
    media_ids = {r.media_id for r in
                 spark.read.parquet(f"{tmp_path}/media").collect()}
    assert {pairs[0].id_a, pairs[0].id_b} == media_ids
    assert spark.read.parquet(f"{tmp_path}/idx").count() == 2


def test_cli_pipeline_commands_record_job_history(spark, tmp_path,
                                                  capsys):
    """r7 verdict ask #5: pipeline subcommands run outside Job, but
    --history must still land a job-history row — the reference records
    EVERY job (JobHistoryKijiTable.java:243-258) and these are exactly
    the expensive runs of a 100 TB pipeline. A crawl-ingest run gets a
    SUCCEEDED row with its stats as counters; a failing run gets a
    FAILED row."""
    import json as _json

    import pytest

    from tests.test_io import _warc_record

    hist = f"{tmp_path}/hist"
    d = tmp_path / "arch"
    d.mkdir()
    (d / "seg.warc").write_bytes(_warc_record(
        "response", "http://site.example.com/a",
        b"HTTP/1.1 200 OK\r\n\r\n<p>plenty of words in here</p>"))
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/docs", "--history", hist])
    assert rc == 0
    capsys.readouterr()
    rc = cli.main(["job-history", "--path", hist])
    assert rc == 0
    rows = [_json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 1
    row = rows[0]
    assert row["job_name"] == "crawl-ingest"
    assert row["job_end_status"] == "SUCCEEDED"
    assert row["job_end_time"] >= row["job_start_time"] > 0
    counters = _json.loads(row["job_counters"])
    assert counters["N_DOCS"] == 1 and counters["N_DOMAINS"] == 1
    conf = _json.loads(row["job_configuration"])
    assert conf["output"] == f"{tmp_path}/docs"

    # a failing run (strict parse of a truncated .gz archive) records a
    # FAILED row alongside the SUCCEEDED one
    import gzip

    blob = gzip.compress(_warc_record("response", "http://x/a", b"ok"))
    (d2 := tmp_path / "bad").mkdir()
    (d2 / "cut.warc.gz").write_bytes(blob[:-4])
    with pytest.raises(Exception):
        cli.main(["crawl-ingest", "--input", str(d2),
                  "--output", f"{tmp_path}/docs_bad",
                  "--history", hist])
    capsys.readouterr()
    rc = cli.main(["job-history", "--path", hist])
    assert rc == 0
    statuses = sorted(
        _json.loads(ln)["job_end_status"] for ln in
        capsys.readouterr().out.strip().splitlines())
    assert statuses == ["FAILED", "SUCCEEDED"]


def test_cli_media_dedup_rejects_legacy_flat_index(spark, tmp_path,
                                                   capsys):
    """r8 review finding: mixing a batch_id= partition into a pre-r8
    flat-appended index makes Spark silently DROP the flat rows on
    read — the CLI must refuse loudly instead."""
    import numpy as np
    import pytest

    from kiji_mapreduce_spark.pipeline import media_codecs as mc

    img = np.random.RandomState(3).randint(
        0, 256, size=(16, 16, 3)).astype(np.uint8)
    idx = f"{tmp_path}/legacy_idx"
    # a legacy flat index: top-level part files, no batch_id dirs
    spark.createDataFrame(
        [(99, 12345)], "media_id long, phash long"
    ).write.parquet(idx)
    spark.createDataFrame(
        [(1, mc.encode_png(img))], "media_id long, content binary"
    ).write.parquet(f"{tmp_path}/batch")
    with pytest.raises(SystemExit):
        cli.main(["media-dedup", "--input", f"{tmp_path}/batch",
                  "--kind", "image", "--index", idx,
                  "--output", f"{tmp_path}/pairs"])
    err = capsys.readouterr().err
    assert "legacy flat layout" in err


def test_cli_history_equals_form_records_failed_row(spark, tmp_path,
                                                    capsys):
    """r8 review finding: --history=PATH (argparse's = spelling) must
    record FAILED rows too, not only the two-token form."""
    import gzip
    import json as _json

    import pytest

    from tests.test_io import _warc_record

    blob = gzip.compress(_warc_record("response", "http://x/a", b"ok"))
    (d := tmp_path / "bad").mkdir()
    (d / "cut.warc.gz").write_bytes(blob[:-4])
    hist = f"{tmp_path}/hist"
    with pytest.raises(Exception):
        cli.main(["crawl-ingest", "--input", str(d),
                  "--output", f"{tmp_path}/docs",
                  f"--history={hist}"])
    capsys.readouterr()
    rc = cli.main(["job-history", "--path", hist])
    assert rc == 0
    rows = [_json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    assert [r["job_end_status"] for r in rows] == ["FAILED"]


def test_cli_crawl_ingest_psl_domain_buckets(spark, tmp_path, capsys):
    """r7 verdict ask #6: per-domain caps bucket by the PSL-exact
    registered domain — subdomains of one multi-label-ccTLD site merge
    into one bucket, per-user platform sites (github.io, PSL private
    section) stay separate, and --psl FILE / --psl=heuristic override
    the default snapshot."""
    import json as _json

    from tests.test_io import _warc_record

    body = b"HTTP/1.1 200 OK\r\n\r\n<p>enough words to pass here</p>"
    d = tmp_path / "arch"
    d.mkdir()
    (d / "seg.warc").write_bytes(b"".join(
        _warc_record("response", uri, body) for uri in [
            "http://news.example.com.au/1",
            "http://blog.example.com.au/2",
            "http://shop.example.com.au/3",
            "http://alice.github.io/a",
            "http://bob.github.io/b",
        ]))
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/docs",
                   "--max-docs-per-domain", "2"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    docs = spark.read.parquet(f"{tmp_path}/docs")
    # 3 example.com.au subdomain pages -> ONE bucket, capped at 2;
    # alice/bob.github.io are separate sites -> uncapped
    assert out["n_docs"] == 4 and out["n_domains"] == 3
    per = {r.domain: r.n for r in docs.groupBy("domain")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per == {"example.com.au": 2, "alice.github.io": 1,
                   "bob.github.io": 1}

    # a custom --psl file changes the bucketing (zz becomes 2-level)
    (d2 := tmp_path / "arch2").mkdir()
    (d2 / "seg.warc").write_bytes(b"".join(
        _warc_record("response", uri, body) for uri in [
            "http://a.site.co.zz/1", "http://b.site.co.zz/2"]))
    (pslf := tmp_path / "psl.dat").write_text("co.zz\n")
    rc = cli.main(["crawl-ingest", "--input", str(d2),
                   "--output", f"{tmp_path}/docs2",
                   "--psl", str(pslf)])
    assert rc == 0
    capsys.readouterr()
    assert [r.domain for r in spark.read.parquet(
        f"{tmp_path}/docs2").select("domain").distinct().collect()] == \
        ["site.co.zz"]

    # --psl=heuristic: expression fallback (github.io not special)
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/docs3",
                   "--psl", "heuristic"])
    assert rc == 0
    capsys.readouterr()
    doms = {r.domain for r in spark.read.parquet(
        f"{tmp_path}/docs3").select("domain").distinct().collect()}
    assert doms == {"example.com.au", "github.io"}


def test_cli_media_dedup_legacy_guard_is_scheme_agnostic(spark, tmp_path,
                                                         capsys,
                                                         monkeypatch):
    """r9 verdict #3: the legacy-flat-index probe used glob.glob, which
    never matches hdfs://-style paths — on a remote FS a legacy index
    silently passed and later reads silently dropped its rows. The guard
    now goes through the scheme-agnostic fs helpers and must fire for a
    faked remote index BEFORE any decode/write work happens."""
    import numpy as np
    import pytest

    from kiji_mapreduce_spark.io import outputs
    from kiji_mapreduce_spark.pipeline import media_codecs as mc

    remote_idx = "hdfs://namenode:8020/warehouse/media_idx"
    probed = {}

    def fake_exists(path, spark_arg=None):
        probed["exists"] = path
        return path == remote_idx

    def fake_listdir(path, spark_arg=None):
        probed["listdir"] = path
        return ["part-00000-abc.snappy.parquet", "_SUCCESS"]

    monkeypatch.setattr(outputs, "fs_exists", fake_exists)
    monkeypatch.setattr(outputs, "fs_listdir", fake_listdir)

    img = np.random.RandomState(5).randint(
        0, 256, size=(16, 16, 3)).astype(np.uint8)
    spark.createDataFrame(
        [(1, mc.encode_png(img))], "media_id long, content binary"
    ).write.parquet(f"{tmp_path}/batch")
    with pytest.raises(SystemExit):
        cli.main(["media-dedup", "--input", f"{tmp_path}/batch",
                  "--kind", "image", "--index", remote_idx,
                  "--output", f"{tmp_path}/pairs"])
    assert "legacy flat layout" in capsys.readouterr().err
    assert probed == {"exists": remote_idx, "listdir": remote_idx}
    # the guard fired before the pairs output was produced
    import os
    assert not os.path.exists(f"{tmp_path}/pairs")


def test_cli_history_abbreviation_records_failed_row(spark, tmp_path,
                                                     capsys):
    """r9 verdict #5: the failure hook re-scanned raw argv for the
    literal "--history" token, so argparse prefix abbreviations
    ("--hist PATH") recorded SUCCEEDED rows via args.history but
    silently skipped FAILED ones. The hook now reads the PARSED value
    stashed by _main."""
    import gzip
    import json as _json

    import pytest

    from tests.test_io import _warc_record

    blob = gzip.compress(_warc_record("response", "http://x/a", b"ok"))
    (d := tmp_path / "bad").mkdir()
    (d / "cut.warc.gz").write_bytes(blob[:-4])
    hist = f"{tmp_path}/hist"
    with pytest.raises(Exception):
        cli.main(["crawl-ingest", "--input", str(d),
                  "--output", f"{tmp_path}/docs",
                  "--hist", hist])
    capsys.readouterr()
    rc = cli.main(["job-history", "--path", hist])
    assert rc == 0
    rows = [_json.loads(ln) for ln in
            capsys.readouterr().out.strip().splitlines()]
    assert [r["job_end_status"] for r in rows] == ["FAILED"]
    assert rows[0]["job_name"] == "crawl-ingest"


def test_stream_batch_stats_replay_does_not_double_count():
    """r9 verdict #6: a foreachBatch retry re-enters with the same
    batch_id; the stats row must be upserted like the parquet partition
    it mirrors, not appended twice."""
    from kiji_mapreduce_spark.streaming.jobs import _upsert_batch_stat

    stats: list = []
    _upsert_batch_stat(stats, {"batch_id": 0, "n_docs": 5})
    _upsert_batch_stat(stats, {"batch_id": 1, "n_docs": 3})
    # batch 1 replays after a failure — possibly with a different count
    # (the overwrite wins, so the latest row is the truthful one)
    _upsert_batch_stat(stats, {"batch_id": 1, "n_docs": 4})
    assert stats == [{"batch_id": 0, "n_docs": 5},
                     {"batch_id": 1, "n_docs": 4}]


def test_cli_shard_ingest_batch_and_webdataset(spark, tmp_path, capsys):
    """shard-ingest converts tar shards to member rows, and WebDataset
    shards to grouped sample rows, in one command each."""
    import json as _json

    from tests.test_io import _make_tar

    (d := tmp_path / "shards").mkdir()
    _make_tar(d / "s0.tar", [("000001.jpg", b"J1"), ("000001.cls", b"4"),
                             ("000002.jpg", b"J2")])
    rc = cli.main(["shard-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/members"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rows"] == 3 and out["format"] == "tar"
    rc = cli.main(["shard-ingest", "--input", str(d),
                   "--format", "webdataset",
                   "--output", f"{tmp_path}/samples"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rows"] == 2
    rows = {r.key: r.sample for r in
            spark.read.parquet(f"{tmp_path}/samples").collect()}
    assert bytes(rows["000001"]["cls"]) == b"4"
    assert set(rows["000002"]) == {"jpg"}


def test_cli_shard_manifest_and_webdataset_pack(spark, tmp_path,
                                                capsys):
    """The loader-bookkeeping surfaces: shard-ingest --manifest writes
    per-source-shard (path, n_rows, n_bytes); webdataset-pack writes
    shard tars + its manifest; the pair round-trips."""
    import json as _json

    from tests.test_io import _make_tar

    (d := tmp_path / "shards2").mkdir()
    _make_tar(d / "s0.tar", [("000001.jpg", b"J1"), ("000001.cls", b"4"),
                             ("000002.jpg", b"J2xx")])
    _make_tar(d / "s1.tar", [("000003.jpg", b"J333")])
    rc = cli.main(["shard-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/members2",
                   "--manifest", f"{tmp_path}/members2.manifest"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_shards"] == 2 and out["manifest"]
    man = {r.path.rsplit("/", 1)[-1]: (r.n_rows, r.n_bytes)
           for r in spark.read.parquet(
               f"{tmp_path}/members2.manifest").collect()}
    assert man["s0.tar"] == (3, 2 + 1 + 4)
    assert man["s1.tar"] == (1, 4)

    # webdataset halves: per-sample byte totals, not member sizes
    rc = cli.main(["shard-ingest", "--input", str(d),
                   "--format", "webdataset",
                   "--output", f"{tmp_path}/samples2",
                   "--manifest", f"{tmp_path}/samples2.manifest"])
    assert rc == 0
    capsys.readouterr()
    man = {r.path.rsplit("/", 1)[-1]: (r.n_rows, r.n_bytes)
           for r in spark.read.parquet(
               f"{tmp_path}/samples2.manifest").collect()}
    assert man["s0.tar"] == (2, 7) and man["s1.tar"] == (1, 4)

    # pack the ingested samples back into shards, with a manifest
    rc = cli.main(["webdataset-pack", "--input", f"{tmp_path}/samples2",
                   "--output", f"{tmp_path}/packed",
                   "--n-shards", "1",
                   "--manifest", f"{tmp_path}/packed.manifest"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_shards"] == 1 and out["n_samples"] == 3
    mrow = spark.read.parquet(f"{tmp_path}/packed.manifest").first()
    assert mrow.n_samples == 3 and mrow.path.endswith(
        "shard-000000.tar")
    # and the packed shard re-ingests to the same samples
    rc = cli.main(["shard-ingest", "--input", f"{tmp_path}/packed",
                   "--format", "webdataset",
                   "--output", f"{tmp_path}/reingested"])
    assert rc == 0
    capsys.readouterr()
    back = {r.key: {k: bytes(v) for k, v in r.sample.items()}
            for r in spark.read.parquet(
                f"{tmp_path}/reingested").collect()}
    assert back["000001"] == {"jpg": b"J1", "cls": b"4"}
    assert back["000003"] == {"jpg": b"J333"}

    # --manifest is batch-only
    with pytest.raises(SystemExit):
        cli.main(["shard-ingest", "--input", str(d), "--stream",
                  "--checkpoint", f"{tmp_path}/ck",
                  "--output", f"{tmp_path}/x",
                  "--manifest", f"{tmp_path}/y"])
    capsys.readouterr()


def test_stream_shard_ingest_exactly_once(spark, tmp_path, capsys):
    """Streaming shard ingest: shards arriving over time are each
    processed exactly once across runs sharing a checkpoint; batch
    output lands in replay-idempotent batch_id= partitions."""
    import json as _json

    from tests.test_io import _make_tar

    (d := tmp_path / "inbox").mkdir()
    _make_tar(d / "s0.tar", [("a.bin", b"AA")])
    args = ["shard-ingest", "--input", f"{d}/*.tar",
            "--output", f"{tmp_path}/members", "--stream",
            "--checkpoint", f"{tmp_path}/ckpt"]
    rc = cli.main(args)
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rows"] == 1 and out["streaming"] is True
    _make_tar(d / "s1.tar", [("b.bin", b"BB"), ("c.bin", b"CC")])
    rc = cli.main(args)
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rows"] == 2  # this run's shards only, s0 not re-read
    rows = spark.read.parquet(f"{tmp_path}/members").collect()
    assert {r.member_path for r in rows} == {"a.bin", "b.bin", "c.bin"}
    assert {r.batch_id for r in rows} == {0, 1}


def test_cli_curate_strip_boilerplate(spark, tmp_path, capsys):
    """curate --strip-boilerplate removes site-template lines before
    quality scoring, so a short unique body under a big template
    survives the quality gate it would otherwise fail."""
    import json as _json

    header = "Accept all cookies to continue | Site navigation menu"
    docs = [(i, f"{header}\n{header}\n"
                "the quick brown fox jumps over the lazy dog "
                f"number {i} in a perfectly ordinary sentence",
             "en") for i in range(8)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string") \
        .write.parquet(f"{tmp_path}/docs")
    rc = cli.main(["curate", "--input", f"{tmp_path}/docs",
                   "--output", f"{tmp_path}/out",
                   "--min-quality", "0.0",
                   "--strip-boilerplate", "0.5"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs_out"] == 8
    texts = [r.text for r in
             spark.read.parquet(f"{tmp_path}/out").collect()]
    assert all(header not in t for t in texts)
    assert all("quick brown fox" in t for t in texts)

def test_cli_crawl_ingest_blocklists_and_noindex(spark, tmp_path,
                                                 capsys):
    """--block-domains / --block-urls drop matching documents (UT1
    list format: one entry per line, # comments), noindex pages are
    skipped and counted by default, and --keep-noindex ingests them."""
    import json as _json

    from tests.test_io import _warc_record

    def resp(extra, body):
        return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + extra + b"\r\n" + body)

    recs = (
        _warc_record("response", "http://keep.example.com/a",
                     resp(b"", b"<p>a perfectly fine page to keep</p>"))
        + _warc_record("response", "http://tracker.ads-network.com/b",
                       resp(b"", b"<p>blocked by its domain here</p>"))
        + _warc_record("response", "http://keep.example.com/casino-x",
                       resp(b"", b"<p>blocked by its url pattern</p>"))
        + _warc_record("response", "http://priv.example.com/c",
                       resp(b"X-Robots-Tag: noindex\r\n",
                            b"<p>publisher opted out of machines</p>")))
    d = tmp_path / "blwarc"
    d.mkdir()
    (d / "a.warc").write_bytes(recs)
    (bl := tmp_path / "domains.txt").write_text(
        "# ad networks\nads-network.com\n\n")
    (ul := tmp_path / "urls.txt").write_text("# gambling\ncasino\n")

    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/bldocs",
                   "--block-domains", str(bl), "--block-urls", str(ul),
                   "--min-tokens", "2"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 1
    assert out["n_noindex"] == 1
    rows = spark.read.parquet(f"{tmp_path}/bldocs").collect()
    assert [r.url for r in rows] == ["http://keep.example.com/a"]

    # --keep-noindex ingests the opted-out page (blocklists still apply)
    rc = cli.main(["crawl-ingest", "--input", str(d),
                   "--output", f"{tmp_path}/bldocs2",
                   "--block-domains", str(bl), "--block-urls", str(ul),
                   "--keep-noindex", "--min-tokens", "2"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 2 and out["n_noindex"] == 0

    # stream twin honors the same knobs
    rc = cli.main(["crawl-ingest", "--input", f"{d}/*.warc",
                   "--output", f"{tmp_path}/blstream",
                   "--checkpoint", f"{tmp_path}/blckpt", "--stream",
                   "--block-domains", str(bl), "--block-urls", str(ul),
                   "--min-tokens", "2"])
    assert rc == 0
    srows = spark.read.parquet(f"{tmp_path}/blstream").collect()
    assert [r.url for r in srows] == ["http://keep.example.com/a"]

    # the media half is policed by the SAME blocklists + opt-out
    from kiji_mapreduce_spark.pipeline import media_codecs

    png = media_codecs.encode_png(
        __import__("numpy").zeros((4, 4), dtype="uint8"))

    def img(extra):
        return (b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n"
                + extra + b"\r\n" + png)

    (d2 := tmp_path / "blmedia").mkdir()
    (d2 / "m.warc").write_bytes(
        _warc_record("response", "http://keep.example.com/i.png",
                     img(b""))
        + _warc_record("response",
                       "http://tracker.ads-network.com/i.png", img(b""))
        + _warc_record("response", "http://keep.example.com/ni.png",
                       img(b"X-Robots-Tag: noimageindex\r\n")))
    rc = cli.main(["crawl-ingest", "--input", str(d2),
                   "--output", f"{tmp_path}/bmdocs",
                   "--media-output", f"{tmp_path}/bmmedia",
                   "--block-domains", str(bl), "--block-urls", str(ul),
                   "--min-tokens", "1"])
    assert rc == 0
    capsys.readouterr()
    media = spark.read.parquet(f"{tmp_path}/bmmedia").collect()
    assert [r.url for r in media] == ["http://keep.example.com/i.png"]

    # and the STREAMING media branch applies the same policy
    rc = cli.main(["crawl-ingest", "--input", f"{d2}/*.warc",
                   "--output", f"{tmp_path}/smdocs",
                   "--media-output", f"{tmp_path}/smmedia",
                   "--checkpoint", f"{tmp_path}/smckpt", "--stream",
                   "--block-domains", str(bl), "--block-urls", str(ul),
                   "--min-tokens", "1"])
    assert rc == 0
    capsys.readouterr()
    smedia = spark.read.parquet(f"{tmp_path}/smmedia").collect()
    assert [r.url for r in smedia] == ["http://keep.example.com/i.png"]


def test_cli_curate_compress_ratio_flag(spark, tmp_path, capsys):
    """--compress-ratio LO,HI gates on the zlib redundancy signal;
    malformed specs are usage errors before any Spark work."""
    import hashlib
    import json as _json

    import pytest as _pytest

    spam = "buy now click here " * 200
    prose = " ".join(
        hashlib.sha256(bytes([i % 256, i // 256])).hexdigest()[:9]
        for i in range(400))
    spark.createDataFrame(
        [(1, spam, "en"), (2, prose, "en")],
        "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(f"{tmp_path}/cdocs")
    rc = cli.main(["curate", "--input", f"{tmp_path}/cdocs",
                   "--output", f"{tmp_path}/cout",
                   "--min-quality", "0.0",
                   "--compress-ratio", "0.2,0.95"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs_in"] == 2 and out["docs_out"] == 1
    assert [r.doc_id for r in
            spark.read.parquet(f"{tmp_path}/cout").collect()] == [2]
    with _pytest.raises(SystemExit):
        cli.main(["curate", "--input", "x", "--output", "y",
                  "--compress-ratio", "high,low"])
    with _pytest.raises(SystemExit):
        cli.main(["curate", "--input", "x", "--output", "y",
                  "--compress-ratio", "0.9,0.2"])


def test_stream_crawl_ingest_main_content_and_transcode(
        spark, tmp_path, capsys):
    """The stream honors the new per-record options: --transcode
    recovers a latin-1 page's accents and --main-content drops the
    link-dense navigation, inside the streaming twin."""
    from tests.test_io import _warc_record

    para = ("Le long paragraphe de l'article continue bien au-delà "
            "de quarante mots au sujet du café et du résumé, parce "
            "que l'arbre densitométrique publié exige plus de "
            "quarante mots d'un bloc qui suit directement une "
            "navigation chargée avant de l'appeler du contenu réel.")
    html = ('<div><a href="/">Accueil</a> <a href="/n">Infos</a> '
            '<a href="/s">Sport</a></div>'
            f"<p>{para}</p>")
    page = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=ISO-8859-1\r\n\r\n"
            + html.encode("iso-8859-1"))
    d = tmp_path / "inbox"
    d.mkdir()
    (d / "seg1.warc").write_bytes(
        _warc_record("response", "http://fr.example.com/", page))

    rc = cli.main(["crawl-ingest", "--input", f"{d}/*.warc",
                   "--output", f"{tmp_path}/docs", "--stream",
                   "--checkpoint", f"{tmp_path}/ckpt",
                   "--main-content", "--transcode"])
    assert rc == 0
    capsys.readouterr()
    [row] = spark.read.parquet(f"{tmp_path}/docs").collect()
    assert "café" in row.text and "résumé" in row.text  # transcoded
    assert "Accueil" not in row.text                    # nav dropped


def test_running_latest_null_rows_and_sentinel(spark, tmp_path):
    """NULL ts/value rows are skipped (a NaN value winning on ts would
    stick forever — NaN comparisons all false), and a key whose rows
    are ALL null emits nothing instead of leaking the (-2^62, -inf)
    state-init sentinel as an observation (r13 review finding)."""
    src = _write_stream_input(tmp_path, [
        {"user_id": 1, "ts_ms": 10, "value": 1.5},
        {"user_id": 1, "ts_ms": 30, "value": None},   # skipped
        {"user_id": 1, "ts_ms": 20, "value": 7.0},
        {"user_id": 2, "ts_ms": None, "value": 9.0},  # skipped
        {"user_id": 3, "ts_ms": None, "value": None},  # all-null key
    ])
    stream = (spark.readStream
              .schema("user_id long, ts_ms long, value double").json(src))
    out = []
    q = (running_latest(stream).writeStream.outputMode("update")
         .foreachBatch(lambda df, _: out.extend(df.collect()))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_nl")).start())
    q.awaitTermination(60)
    got = {r.key: (r.ts, r.value) for r in out}
    # key 1: the NULL-value row at ts=30 must not displace ts=20's 7.0;
    # keys 2 and 3 emit nothing (no valid observation yet)
    assert got == {1: (20, 7.0)}


def test_stream_dedup_exact_null_text_passthrough(spark, tmp_path):
    """NULL-text rows (extraction failures) pass through UN-deduped:
    keying dedup state on the NULL digest silently discarded every
    null-text row after the first (r13 review finding)."""
    from kiji_mapreduce_spark.streaming import stream_dedup_exact

    src = _write_stream_input(tmp_path, [
        {"ts": "2024-01-01T00:05:00Z", "text": "same words"},
        {"ts": "2024-01-01T00:06:00Z", "text": "same words"},
        {"ts": "2024-01-01T00:07:00Z", "text": None},
        {"ts": "2024-01-01T00:08:00Z", "text": None},
    ])
    stream = spark.readStream.schema("ts timestamp, text string").json(src)
    out = []
    q = (stream_dedup_exact(stream, watermark="1 hour")
         .writeStream.outputMode("append")
         .foreachBatch(lambda df, _: out.extend(df.collect()))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_np")).start())
    q.awaitTermination(60)
    texts = sorted((r.text or "<null>") for r in out)
    assert texts == ["<null>", "<null>", "same words"]


def test_stream_shard_ingest_bad_format_fails_fast(spark, tmp_path):
    """An unknown archive format (or a webdataset/format conflict)
    raises BEFORE the query starts — raising inside foreachBatch would
    wedge the checkpoint into replaying the same error forever (r13
    review finding)."""
    import pytest

    from kiji_mapreduce_spark.streaming.jobs import stream_shard_ingest

    (tmp_path / "shards").mkdir()
    with pytest.raises(ValueError, match="unknown archive format"):
        stream_shard_ingest(
            spark, str(tmp_path / "shards"), str(tmp_path / "out"),
            str(tmp_path / "ck1"), archive_format="rar")
    with pytest.raises(ValueError, match="webdataset"):
        stream_shard_ingest(
            spark, str(tmp_path / "shards"), str(tmp_path / "out2"),
            str(tmp_path / "ck2"), archive_format="zip", webdataset=True)


def test_put_delta_batch_id_replay_idempotent(spark, tmp_path):
    """put_delta(batch_id=N) replayed after a crash OVERWRITES its own
    _batch partition instead of appending duplicate fragments — the
    change feed sees each put once and the log stays clean (r13 review
    finding: the delta path was the one at-least-once streaming writer
    without the batch_id-partition discipline)."""
    import json as _json

    from kiji_mapreduce_spark.layout import TableLayout
    from kiji_mapreduce_spark.table import EntityTable

    layout = TableLayout.from_json(_json.dumps({
        "name": "rp", "families": [
            {"name": "m", "columns": [{"name": "v", "schema": "long"}]}]}))
    t = EntityTable.create(spark, f"{tmp_path}/rp_table", layout)
    puts = spark.createDataFrame(
        [(("a",), "m", "v", 1, "10"), (("b",), "m", "v", 1, "20")],
        "entity_id struct<key string>, family string, qualifier string,"
        " ts long, value_str string")
    t.put_delta(puts, batch_id=7)
    t.put_delta(puts, batch_id=7)  # foreachBatch at-least-once replay
    frags = spark.read.parquet(t._delta_path())
    assert frags.count() == 2          # not 4: the replay overwrote
    assert frags.select("_seq").distinct().collect()[0][0] == 7
    got = {r.entity_id.key: r.m.v[0].value for r in t.read().collect()}
    assert got == {"a": 10, "b": 20}
    # a DIFFERENT batch appends alongside
    puts2 = spark.createDataFrame(
        [(("c",), "m", "v", 1, "30")],
        "entity_id struct<key string>, family string, qualifier string,"
        " ts long, value_str string")
    t.put_delta(puts2, batch_id=8)
    assert spark.read.parquet(t._delta_path()).count() == 3
    assert t.read().count() == 3


def test_running_latest_string_keys(spark, tmp_path):
    """String keys keep their native type: the old hardcoded long cast
    killed the stream under ANSI (CAST_INVALID_INPUT) or merged every
    key into one NULL state group with ANSI off (r13 review finding)."""
    src = _write_stream_input(tmp_path, [
        {"user_id": "u-a", "ts_ms": 10, "value": 1.5},
        {"user_id": "u-a", "ts_ms": 30, "value": 2.5},
        {"user_id": "u-b", "ts_ms": 20, "value": 9.0},
    ])
    stream = (spark.readStream
              .schema("user_id string, ts_ms long, value double")
              .json(src))
    latest = running_latest(stream)
    out = []
    q = (latest.writeStream.outputMode("update")
         .foreachBatch(lambda df, _: out.extend(df.collect()))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt_sk")).start())
    q.awaitTermination(60)
    got = {r.key: (r.ts, r.value) for r in out}
    assert got == {"u-a": (30, 2.5), "u-b": (20, 9.0)}


def test_drain_to_memory_state_partitions_and_restore(spark, tmp_path):
    """drain_to_memory pins the streaming query's state partition count
    (r14: the batch shuffle default leaked into every micro-batch as
    per-partition state-store commit overhead) and ALWAYS restores the
    session conf afterwards — including when the stream itself fails."""
    from kiji_mapreduce_spark.streaming import drain_to_memory

    src = _write_stream_input(tmp_path, [
        {"k": "a", "ts_ms": 1_000_000 + i} for i in range(5)
    ] + [{"k": "b", "ts_ms": 1_000_500}])
    stream = (spark.readStream.schema("k string, ts_ms long").json(src)
              .withColumn("ts", F.timestamp_millis(F.col("ts_ms"))))
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy("k").agg(F.count(F.lit(1)).alias("n")))

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out = drain_to_memory(agg, "complete", "t_drain", state_partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    got = {r.k: r.n for r in out.collect()}
    assert got == {"a": 5, "b": 1}

    # conf restored even when start() raises (bad output mode for agg)
    try:
        drain_to_memory(stream, "complete", "t_drain_bad",
                        state_partitions=3)
    except Exception:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
