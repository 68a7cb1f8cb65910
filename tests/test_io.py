"""Inputs/outputs: spec parsing, XML record reader, sorted bulk staging +
atomic bulk load (SURVEY.md §2.1, §2.2, §3.2/3.3)."""

import os

import pytest
from pyspark.sql import functions as F

from kiji_mapreduce_spark.io.inputs import JobInput, job_input
from kiji_mapreduce_spark.io.outputs import (
    JobOutput, bulk_load, job_output, stage_sorted,
)

#: Fuzz budget multiplier: CI runs at 1 (the committed budgets);
#: a soak campaign sets KIJI_FUZZ_MULT=20/60 to widen every
#: hypothesis search in this file without touching the tests.
_FUZZ_MULT = int(os.environ.get("KIJI_FUZZ_MULT", "1"))


def test_input_spec_parsing():
    ji = job_input("format=text file=/a,/b foo=bar")
    assert ji.format == "text" and ji.paths == ["/a", "/b"]
    assert ji.options == {"foo": "bar"}
    with pytest.raises(ValueError):
        job_input("file=/a")


def test_output_spec_parsing():
    jo = job_output("format=hfile@8 file=/staging table=/t")
    assert jo.format == "hfile" and jo.nsplits == 8
    jo2 = job_output("format=text file=/out nsplits=3")
    assert jo2.nsplits == 3 and jo2.path == "/out"


def test_text_input(spark, tmp_path):
    (tmp_path / "in.txt").write_text("l1\nl2\n")
    df = JobInput("text", [str(tmp_path / "in.txt")]).load(spark)
    assert sorted(r.value for r in df.collect()) == ["l1", "l2"]


def test_wholefile_input(spark, tmp_path):
    (tmp_path / "a.txt").write_text("alpha body")
    (tmp_path / "b.txt").write_text("beta body")
    df = JobInput("small-text-files", [str(tmp_path / "*.txt")]).load(spark)
    got = {os.path.basename(r.path): r.text for r in df.collect()}
    assert got == {"a.txt": "alpha body", "b.txt": "beta body"}


def test_xml_input_records(spark, tmp_path):
    (tmp_path / "r.xml").write_text(
        "<root><user><name>a</name></user>junk"
        "<user attr=\"1\"><name>b</name></user></root>")
    df = JobInput("xml", [str(tmp_path / "r.xml")],
                  options={"rowTag": "user"}).load(spark)
    xmls = sorted(r.xml for r in df.collect())
    assert len(xmls) == 2
    assert xmls[0] == "<user attr=\"1\"><name>b</name></user>"
    assert xmls[1] == "<user><name>a</name></user>"


def test_xml_input_splits_large_file(spark, tmp_path):
    """A single XML file larger than one partition target parallelizes
    (the reference's split-spanning chunker, XMLInputFormat.java:55-67):
    records crossing split boundaries are stitched, none lost/duplicated."""
    n = 2000
    body = "".join(
        f"<user id=\"{i}\"><name>{'x' * 50}u{i}</name></user>\n"
        for i in range(n))
    f = tmp_path / "big.xml"
    f.write_text(f"<?xml version=\"1.0\"?>\n<users>\n{body}</users>\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    try:
        df = JobInput("xml", [str(f)], {"rowTag": "user"}).load(spark)
        assert df.rdd.getNumPartitions() > 1  # genuinely split
        rows = df.collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert len(rows) == n
    import re

    ids = sorted(int(re.search(r'id="(\d+)"', r.xml).group(1)) for r in rows)
    assert ids == list(range(n))


def test_csv_input(spark, tmp_path):
    (tmp_path / "d.csv").write_text("gwu@x.com,Garrett\n")
    df = JobInput("csv", [str(tmp_path / "d.csv")]).load(spark)
    assert df.count() == 1


def test_text_output_multi_column_tab_joined(spark, tmp_path):
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    JobOutput("text", str(tmp_path / "o"), nsplits=1).save(df)
    part = [f for f in os.listdir(tmp_path / "o") if f.startswith("part")][0]
    assert open(tmp_path / "o" / part).read().strip() == "a\t1"


def test_stage_sorted_and_bulk_load(spark, tmp_path):
    df = spark.createDataFrame(
        [(k, f"v{k}") for k in [5, 3, 9, 1, 7, 2, 8, 4, 6, 0]],
        "entity_id int, v string")
    staging = str(tmp_path / "staging")
    table = str(tmp_path / "table")
    stage_sorted(df, staging, key_cols=["entity_id"], nsplits=2)
    # each parquet file must be internally sorted (HFile invariant)
    files = [f for f in os.listdir(staging) if f.endswith(".parquet")]
    assert len(files) >= 1
    for f in files:
        vals = [r.entity_id for r in
                spark.read.parquet(f"{staging}/{f}").collect()]
        assert vals == sorted(vals)
    bulk_load(staging, table)
    assert spark.read.parquet(table).count() == 10
    # second load replaces atomically
    df2 = df.limit(3)
    stage_sorted(df2, staging, key_cols=["entity_id"], nsplits=1)
    bulk_load(staging, table)
    assert spark.read.parquet(table).count() == 3


def test_bulk_load_hadoop_fs_path(spark, tmp_path):
    """Non-local-scheme commits go through the JVM Hadoop FileSystem API
    (exercised here with file:/ URIs — the same code path HDFS/S3A take)."""
    from kiji_mapreduce_spark.io.outputs import _swap_dir_hadoop

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    staging = str(tmp_path / "hstaging")
    table = str(tmp_path / "htable")
    df.write.parquet(staging)
    bulk_load(f"file://{staging}", f"file://{table}", spark)
    assert spark.read.parquet(table).count() == 2
    # replace via the explicit hadoop swap (restore-on-failure discipline)
    df.limit(1).write.parquet(staging)
    _swap_dir_hadoop(f"file://{staging}", f"file://{table}", spark)
    assert spark.read.parquet(table).count() == 1
    assert not os.path.exists(staging)


def test_swap_partition_dirs_hadoop_fs_path(spark, tmp_path):
    """Bucket-scoped commits on non-local schemes go through the JVM
    FileSystem API: swapped partitions update, absent staged partitions
    delete, unnamed partitions stay byte-untouched."""
    from kiji_mapreduce_spark.io.outputs import _swap_partition_dirs_hadoop

    table = str(tmp_path / "ptable")
    staging = str(tmp_path / "pstaging")
    df = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 2)], "k int, _bucket int")
    df.write.partitionBy("_bucket").parquet(table)
    untouched = sorted(os.listdir(os.path.join(table, "_bucket=2")))
    # stage new contents for bucket 0 only; name bucket 1 with no staged
    # output (delete); leave bucket 2 unnamed (untouched)
    spark.createDataFrame([(10, 0), (11, 0)], "k int, _bucket int") \
        .write.partitionBy("_bucket").parquet(staging)
    _swap_partition_dirs_hadoop(
        f"file://{staging}", f"file://{table}",
        ["_bucket=0", "_bucket=1"], spark)
    out = spark.read.parquet(table)
    assert sorted(r.k for r in out.collect()) == [3, 10, 11]
    assert sorted(os.listdir(os.path.join(table, "_bucket=2"))) == untouched
    assert not os.path.exists(staging)


def test_stage_sorted_rolls_files_at_max_records(spark, tmp_path):
    """maxRecordsPerFile bounds staged file size (the 256 MB HFile-rolling
    analogue); rolled files stay individually sorted."""
    df = spark.createDataFrame(
        [(k,) for k in range(100, 0, -1)], "entity_id int")
    staging = str(tmp_path / "rolled")
    stage_sorted(df, staging, key_cols=["entity_id"], nsplits=1,
                 max_records_per_file=30)
    files = [f for f in os.listdir(staging) if f.endswith(".parquet")]
    assert len(files) >= 4  # 100 rows / 30-row bound
    for f in files:
        vals = [r.entity_id for r in
                spark.read.parquet(f"{staging}/{f}").collect()]
        assert vals == sorted(vals)
        assert len(vals) <= 30


def test_mapfile_output_sorted_indexed(spark, tmp_path):
    """'map' output is NOT a plain seq file (MapFileMapReduceJobOutput):
    part files are globally key-ordered, keys sorted within each file,
    and the index sidecar prunes a point lookup to one file."""
    from kiji_mapreduce_spark.io.outputs import mapfile_lookup

    df = spark.createDataFrame(
        [(f"k{i:03d}", f"v{i}") for i in range(100, 0, -1)],
        "key string, value string")
    path = str(tmp_path / "mapfile")
    JobOutput("map", path, nsplits=4).save(df)

    parts = sorted(p for p in os.listdir(path) if p.startswith("part-"))
    assert len(parts) == 4
    all_keys, prev_max = [], None
    for p in parts:
        ks = [k for k, _ in
              spark.sparkContext.sequenceFile(f"{path}/{p}").collect()]
        assert ks == sorted(ks)  # sorted within file
        if ks:
            assert prev_max is None or prev_max <= ks[0]  # global order
            prev_max = ks[-1]
        all_keys.extend(ks)
    assert len(all_keys) == 100
    assert mapfile_lookup(spark, path, "k042") == ["v42"]
    assert mapfile_lookup(spark, path, "nope") == []


def test_partitioned_parquet_output(spark, tmp_path):
    df = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-01", 3)],
        "dt string, v int")
    jo = job_output(f"format=parquet file={tmp_path}/part partition_by=dt")
    jo.save(df)
    assert sorted(d for d in os.listdir(tmp_path / "part")
                  if d.startswith("dt=")) == ["dt=2024-01-01", "dt=2024-01-02"]
    back = spark.read.parquet(f"{tmp_path}/part")
    pruned = back.filter(F.col("dt") == "2024-01-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(dt" in plan
    assert pruned.count() == 2


def test_sequence_file_roundtrip(spark, tmp_path):
    path = str(tmp_path / "seqdata")
    spark.sparkContext.parallelize(
        [("k1", "v1"), ("k2", "v2")], 1).saveAsSequenceFile(path)
    back = JobInput("seq", [path]).load(spark)
    assert {(r.key, r.value) for r in back.collect()} == {
        ("k1", "v1"), ("k2", "v2")}


def test_seq_output_format_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    JobOutput("seq", str(tmp_path / "seqout")).save(df)
    back = JobInput("seq", [str(tmp_path / "seqout")]).load(spark)
    assert {(r.key, r.value) for r in back.collect()} == {
        ("a", "1"), ("b", "2")}


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join: two tables bucketed on the key join without an
    Exchange on either side (the 100 TB co-location strategy)."""
    from kiji_mapreduce_spark.io.outputs import write_bucketed

    import shutil

    for t in ("bt_facts", "bt_dims"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    facts = spark.createDataFrame(
        [(i, i * 10.0) for i in range(100)], "k long, v double")
    dims = spark.createDataFrame(
        [(i, f"d{i}") for i in range(100)], "k long, name string")
    write_bucketed(facts, "bt_facts", ["k"], n_buckets=4)
    write_bucketed(dims, "bt_dims", ["k"], n_buckets=4)
    # force a non-broadcast plan so bucketing (not broadcast) elides the
    # shuffle — at real scale both sides are too big to broadcast anyway
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bt_facts").join(spark.table("bt_dims"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "ShuffleExchange" not in plan and "hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_avro_roundtrip(spark, tmp_path):
    """Avro is no longer jar-gated: the pure-Python container codec
    (``avro_io.py``) backs JobInput/JobOutput("avro") when spark-avro is
    absent, so the format works out of the box like the reference's
    first-class Avro inputs (MapReduceJobInputs.java:112-143)."""
    df = spark.createDataFrame(
        [("a", 1, 1.5), ("b", None, -2.0), ("c", 7, 0.0)],
        "k string, v int, f double")
    JobOutput("avro", str(tmp_path / "av"), nsplits=2).save(df)
    back = JobInput("avro", [str(tmp_path / "av")]).load(spark)
    assert sorted(r.k for r in back.collect()) == ["a", "b", "c"]
    assert dict(back.dtypes)["v"] == "int"
    assert {r.v for r in back.collect()} == {1, None, 7}


def test_xml_header_option(spark, tmp_path):
    """kiji.input.xml.header (XMLInputFormat.java:62,358): each record is
    prefixed so it stands alone as an XML document."""
    (tmp_path / "h.xml").write_text(
        "<users><user><name>a</name></user></users>")
    hdr = '<?xml version="1.0" encoding="UTF-8"?>'
    df = JobInput("xml", [str(tmp_path / "h.xml")],
                  {"rowTag": "user", "kiji.input.xml.header": hdr}) \
        .load(spark)
    assert df.collect()[0].xml == hdr + "<user><name>a</name></user>"


def test_xml_overrun_bound_drops_monster_record(spark, tmp_path):
    """kiji.input.xml.overrun.allowance (XMLInputFormat.java:65,324-351):
    a record whose closing tag is farther than the allowance is dropped
    instead of swallowing the rest of the file."""
    ok = "<user><name>x</name></user>"
    monster = "<user><name>" + "y" * 5000 + "</name></user>"
    (tmp_path / "o.xml").write_text(f"<users>{ok}{monster}{ok}</users>")
    df = JobInput("xml", [str(tmp_path / "o.xml")],
                  {"rowTag": "user",
                   "kiji.input.xml.overrun.allowance": "1000"}).load(spark)
    assert [r.xml for r in df.collect()] == [ok, ok]
    # unbounded keeps all three
    df_all = JobInput("xml", [str(tmp_path / "o.xml")],
                      {"rowTag": "user"}).load(spark)
    assert df_all.count() == 3


def test_seq_output_job_with_counters_does_not_hang(spark, tmp_path):
    """seq/map sinks run through the RDD API, which never fires the
    QueryExecutionListener feeding df.observe — Job.run() used to block
    forever on Observation.get (r5 review finding). The job must finish,
    write the files, and simply skip the counters."""
    from kiji_mapreduce_spark.job import GatherJobBuilder
    from kiji_mapreduce_spark.io.outputs import job_output
    from kiji_mapreduce_spark.operators import Gatherer

    class KV(Gatherer):
        def gather_df(self, df, ctx):
            return df.select(F.col("k"), F.col("v"))

        def reduce_df(self, g, ctx):
            return g

    df = spark.createDataFrame([("a", "1"), ("b", "2")],
                               "k string, v string")
    job = (GatherJobBuilder().with_input(df).with_gatherer(KV())
           .with_output(job_output(f"format=seq file={tmp_path}/seq"))
           .build())
    assert job.run() is True  # returns — no counters, no hang
    back = spark.sparkContext.sequenceFile(f"{tmp_path}/seq")
    assert sorted(back.collect()) == [("a", "1"), ("b", "2")]
    # rerun with default overwrite mode: must not crash on existing dir
    job2 = (GatherJobBuilder().with_input(df).with_gatherer(KV())
            .with_output(job_output(f"format=seq file={tmp_path}/seq"))
            .build())
    assert job2.run() is True


def test_mapfile_index_matches_written_files(spark, tmp_path):
    """The mapfile index derives from the SAME pinned shuffle as the
    part files (an unpinned repartitionByRange re-samples boundaries per
    execution), so every written key must be found via the index."""
    from kiji_mapreduce_spark.io.outputs import mapfile_lookup, write_mapfile

    rows = [(f"k{i:04d}", str(i)) for i in range(500)]
    df = spark.createDataFrame(rows, "k string, v string")
    write_mapfile(df, str(tmp_path / "mf"), nsplits=8)
    for probe in ("k0000", "k0137", "k0250", "k0499"):
        got = mapfile_lookup(spark, str(tmp_path / "mf"), probe)
        assert got == [str(int(probe[1:]))], probe


def test_job_input_kiji_table_spec(spark, tmp_path):
    """The reference spells kiji inputs with table=; it must parse as
    the path (used to IndexError on empty paths — r5 review finding)."""
    from kiji_mapreduce_spark.io.inputs import job_input

    ji = job_input(f"format=kiji table={tmp_path}/users")
    assert ji.paths == [f"{tmp_path}/users"]
    assert "table" not in ji.options


def test_job_output_mode_append_honored(spark, tmp_path):
    """mode= in an output spec must set the writer mode, not vanish into
    writer options (a requested append silently overwrote)."""
    from kiji_mapreduce_spark.io.outputs import job_output

    out = job_output(f"format=parquet file={tmp_path}/t mode=append")
    assert out.mode == "append" and "mode" not in out.options
    df = spark.createDataFrame([(1,)], "a long")
    out.save(df)
    out.save(df)
    assert spark.read.parquet(f"{tmp_path}/t").count() == 2


def test_xml_row_tag_with_regex_metachars(spark, tmp_path):
    """XML names may contain regex metacharacters ('.' is legal); the
    record pattern must treat the tag literally."""
    from kiji_mapreduce_spark.io.inputs import JobInput

    p = tmp_path / "dotted.xml"
    p.write_text("<root><my.rec><v>1</v></my.rec>"
                 "<myXrec><v>BAD</v></myXrec>"
                 "<my.rec><v>2</v></my.rec></root>")
    out = JobInput("xml", [str(p)],
                   {"rowTag": "my.rec"}).load(spark).collect()
    xmls = sorted(r.xml for r in out)
    assert len(xmls) == 2
    assert all("BAD" not in x for x in xmls)


def _warc_record(warc_type, uri, body, rid="<urn:uuid:1>"):
    headers = (f"WARC/1.0\r\n"
               f"WARC-Type: {warc_type}\r\n"
               f"WARC-Record-ID: {rid}\r\n"
               f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
               + (f"WARC-Target-URI: {uri}\r\n" if uri else "")
               + f"Content-Length: {len(body)}\r\n\r\n").encode()
    return headers + body + b"\r\n\r\n"


def test_warc_input_records(spark, tmp_path):
    """WARC records parse into typed rows: headers extracted, bodies
    length-framed and kept binary, one task per archive file; the gzip
    member-concatenation variant (the Common Crawl layout) parses
    identically; format=warc wires through the job-input spec."""
    import gzip

    from kiji_mapreduce_spark.io.inputs import job_input, read_warc_records

    body1 = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>hi</html>"
    body2 = "unicodé text".encode()
    blob = (_warc_record("warcinfo", None, b"software: test")
            + _warc_record("response", "http://example.com/a", body1)
            + _warc_record("response", "http://example.com/b", body2))
    d = tmp_path / "warc"
    d.mkdir()
    (d / "a.warc").write_bytes(blob)
    # per-record gzip members, concatenated — the .warc.gz layout
    gz = b"".join(gzip.compress(r) for r in (
        _warc_record("response", "http://example.com/c", b"gzbody"),))
    (d / "b.warc.gz").write_bytes(gz)

    rows = sorted(
        read_warc_records(spark, [str(d)]).collect(),
        key=lambda r: (r.path, r.record_no))
    assert [(r.warc_type, r.target_uri, r.record_no) for r in rows] == [
        ("warcinfo", "", 0),
        ("response", "http://example.com/a", 1),
        ("response", "http://example.com/b", 2),
        ("response", "http://example.com/c", 0),
    ]
    assert bytes(rows[1].content) == body1
    assert bytes(rows[2].content) == body2
    assert rows[2].content_length == len(body2)
    assert bytes(rows[3].content) == b"gzbody"

    spec = job_input(f"format=warc file={d}")
    assert spec.load(spark).count() == 4

    # malformed framing raises with the offset; lenient keeps the prefix
    (d / "a.warc").write_bytes(blob + b"GARBAGE-NOT-A-HEADER")
    import pytest as _pytest
    with _pytest.raises(Exception, match="malformed WARC"):
        read_warc_records(spark, [str(d / "a.warc")]).collect()
    ok = read_warc_records(spark, [str(d / "a.warc")],
                           lenient=True).collect()
    assert len(ok) == 3


def test_warc_to_text_pipeline(spark, tmp_path):
    """The full crawl-ingest chain: WARC response records ->
    http_html_text -> clean text rows ready for the quality/dedup ops.
    Headers split off, Content-Type extracted, script/style/comment
    spans dropped, tags stripped, entities decoded, whitespace
    collapsed."""
    from pyspark.sql import functions as F

    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline.text import http_html_text

    html = (b"<html><head><style>p{color:red}</style>"
            b"<script>var x = '<p>not text</p>';</script></head>"
            b"<!-- hidden comment --><body><h1>Title</h1>"
            b"<p>Hello &amp; welcome to  A&nbsp;&lt;B</p></body></html>")
    body = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
            b"charset=UTF-8\r\nServer: x\r\n\r\n" + html)
    bare = b"no headers, just text"
    d = tmp_path / "warc2"
    d.mkdir()
    (d / "crawl.warc").write_bytes(
        _warc_record("response", "http://example.com/p", body)
        + _warc_record("response", "http://example.com/q", bare))
    recs = read_warc_records(spark, [str(d)])
    out = {r.target_uri: r for r in
           http_html_text(recs).select(
               "target_uri", "content_type", "text").collect()}
    assert out["http://example.com/p"].content_type == "text/html"
    assert out["http://example.com/p"].text == \
        "Title Hello & welcome to A <B"
    # payload without an HTTP header block passes through whole
    assert out["http://example.com/q"].content_type == ""
    assert out["http://example.com/q"].text == "no headers, just text"


def test_warc_parser_roundtrip_property():
    """Property: any synthesized archive of records (arbitrary binary
    bodies, optional URIs, plain or per-record-gzipped) parses back to
    exactly the records written, in order, with bodies intact."""
    import gzip

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kiji_mapreduce_spark.io.inputs import _parse_warc

    record = st.tuples(
        st.sampled_from(["response", "request", "metadata", "warcinfo"]),
        st.one_of(st.none(), st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1, max_size=30).map(lambda p: f"http://x.test/{p}")),
        st.binary(max_size=300),
    )

    @settings(max_examples=30 * _FUZZ_MULT, deadline=None)
    @given(records=st.lists(record, min_size=1, max_size=6),
           gz=st.booleans())
    def _roundtrip(records, gz):
        blob = b"".join(
            _warc_record(t, u, b) for t, u, b in records)
        if gz:  # per-record gzip members — the .warc.gz layout
            blob = b"".join(
                gzip.compress(_warc_record(t, u, b))
                for t, u, b in records)
        got = list(_parse_warc(blob, "mem", lenient=False))
        assert [(g[1], g[2], g[6]) for g in got] == \
            [(t, u or "", b) for t, u, b in records]
        assert [g[0] for g in got] == list(range(len(records)))

    _roundtrip()


def test_warc_gzip_corruption_and_non_utf8(spark, tmp_path):
    """Review-fix contracts: a corrupt gzip member respects lenient
    (parsed prefix kept) and raises with the path in strict mode; a
    non-UTF-8 / binary payload flows through http_html_text as
    replacement characters instead of aborting the ANSI job."""
    import gzip

    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline.text import http_html_text

    d = tmp_path / "gzwarc"
    d.mkdir()
    good = gzip.compress(_warc_record("response", "http://x/a", b"okay"))
    (d / "bad.warc.gz").write_bytes(good + b"\x1f\x8bGARBAGE-MEMBER")
    ok = read_warc_records(spark, [str(d)], lenient=True).collect()
    assert [(r.target_uri, bytes(r.content)) for r in ok] == \
        [("http://x/a", b"okay")]
    import pytest as _pytest
    with _pytest.raises(Exception, match="corrupt gzip"):
        read_warc_records(spark, [str(d)]).collect()

    latin = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
             b"<p>caf\xe9 r\xe9sum\xe9</p>")
    (d / "latin.warc").write_bytes(
        _warc_record("response", "http://x/l", latin))
    rows = {r.target_uri: r.text for r in http_html_text(
        read_warc_records(spark, [str(d / "latin.warc")])).collect()}
    # latin-1 bytes degrade to U+FFFD and the job survives
    assert rows["http://x/l"] == "caf\ufffd r\ufffdsum\ufffd"


def test_warc_truncated_gzip_member_strict_raises():
    """ADVICE r7 (medium): strict mode must raise on a TRUNCATED final
    gzip member — both one cut mid-member (partial output) and one cut
    so early it produced no output. Pre-r8 both parsed clean with
    records silently missing, exactly the data loss --lenient exists to
    opt into. Lenient keeps the parsed prefix."""
    import gzip

    import pytest

    from kiji_mapreduce_spark.io.inputs import _parse_warc

    m1 = gzip.compress(_warc_record("response", "http://x/a", b"one"))
    m2 = gzip.compress(_warc_record("response", "http://x/b", b"two"))

    # early cut: member 2 produced no output -> lenient keeps record 1;
    # late cut (inside the 8-byte CRC/ISIZE trailer): all DATA already
    # inflated -> lenient keeps both records; strict raises either way
    # because the member never reached eof
    for cut, kept_expected in (
            (len(m1) + 5, [("http://x/a", b"one")]),
            (len(m1) + len(m2) - 3,
             [("http://x/a", b"one"), ("http://x/b", b"two")])):
        blob = (m1 + m2)[:cut]
        with pytest.raises(ValueError, match="truncated gzip member"):
            list(_parse_warc(blob, "mem", lenient=False))
        kept = list(_parse_warc(blob, "mem", lenient=True))
        assert [(g[2], g[6]) for g in kept] == kept_expected


def test_warc_framing_is_incremental():
    """r7 verdict ask #7: records are framed from the inflate loop, not
    from a whole-archive join — after the first record is yielded, the
    framer must not have consumed the rest of the chunk stream, so
    per-task memory stays O(record + chunk) on a multi-GB archive."""
    from kiji_mapreduce_spark.io.inputs import _frame_warc_records

    records = [_warc_record("response", f"http://x/{i}",
                            bytes([i % 251]) * 4096)
               for i in range(50)]
    blob = b"".join(records)
    step = 512
    pulled = 0

    def chunks():
        nonlocal pulled
        for off in range(0, len(blob), step):
            pulled += 1
            yield blob[off:off + step]

    total_chunks = -(-len(blob) // step)
    gen = _frame_warc_records(chunks(), "mem", lenient=False)
    first = next(gen)
    assert first[2] == "http://x/0"
    # one record spans ~ (4096 + headers) / 512 ~ 9 chunks; allow slack
    # for the trailer/padding probe but require FAR less than the file
    assert pulled <= 12, f"consumed {pulled} chunks for one record"
    assert pulled < total_chunks // 3
    rest = list(gen)
    assert len(rest) == 49 and rest[-1][2] == "http://x/49"


def test_html_escaped_entities_not_double_decoded(spark):
    """&amp;lt; is author-visible '&lt;' — decoding &amp; last keeps it
    from collapsing to '<' (review finding)."""
    from pyspark.sql import functions as F

    from kiji_mapreduce_spark.pipeline.text import http_html_text

    df = spark.createDataFrame(
        [(1, b"<p>a &amp;lt; b</p>")], "i long, content binary")
    assert http_html_text(df).first().text == "a &lt; b"


def test_warc_http_payload_decoding(spark, tmp_path):
    """Crawls capture HTTP responses AS SENT: chunked transfer framing
    and gzip/deflate content encodings must be normalized at ingest or
    the Catalyst extractor strips tags out of compressed bytes. Identity
    responses, non-HTTP payloads, and malformed framings pass through
    untouched (lenient by construction)."""
    import gzip
    import zlib

    from kiji_mapreduce_spark.io.inputs import (_decode_http_payload,
                                                read_warc_raw,
                                                read_warc_records)
    from kiji_mapreduce_spark.pipeline.text import http_html_text

    html = b"<html><body><p>compressed page text here</p></body></html>"

    def resp(extra_headers: bytes, payload: bytes) -> bytes:
        return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + extra_headers + b"\r\n" + payload)

    gz = resp(b"Content-Encoding: gzip\r\n"
              + f"Content-Length: {len(gzip.compress(html))}\r\n".encode(),
              gzip.compress(html))
    chunks = (b"10\r\n" + html[:16] + b"\r\n"
              + f"{len(html) - 16:x}\r\n".encode() + html[16:] + b"\r\n"
              + b"0\r\n\r\n")
    chunked = resp(b"Transfer-Encoding: chunked\r\n", chunks)
    gz_body = gzip.compress(html)
    both = resp(b"Transfer-Encoding: chunked\r\n"
                b"Content-Encoding: gzip\r\n",
                f"{len(gz_body):x}\r\n".encode() + gz_body
                + b"\r\n0\r\n\r\n")
    raw_deflate = resp(b"Content-Encoding: deflate\r\n",
                       zlib.compress(html)[2:-4])  # raw-deflate wild form
    plain = resp(b"", html)

    for blob in (gz, chunked, both, raw_deflate):
        out = _decode_http_payload(blob)
        assert out.endswith(html), blob[:60]
        head = out.split(b"\r\n\r\n", 1)[0].lower()
        assert b"transfer-encoding" not in head
        assert b"content-encoding" not in head
        assert b"content-type: text/html" in head
    # untouched passthroughs
    assert _decode_http_payload(plain) == plain
    assert _decode_http_payload(b"not http at all") == \
        b"not http at all"
    malformed = resp(b"Transfer-Encoding: chunked\r\n", b"zz\r\nnope")
    assert _decode_http_payload(malformed) == malformed
    truncated = resp(b"Content-Encoding: gzip\r\n", gz_body[:5])
    assert _decode_http_payload(truncated) == truncated

    # end to end: a gzipped page extracts the same text as a plain one
    d = tmp_path / "encwarc"
    d.mkdir()
    (d / "a.warc").write_bytes(
        _warc_record("response", "http://x/gz", gz)
        + _warc_record("response", "http://x/plain", plain)
        + _warc_record("response", "http://x/chunked", chunked))
    rows = {r.target_uri: r.text for r in http_html_text(
        read_warc_records(spark, [str(d)])).collect()}
    assert rows["http://x/gz"] == rows["http://x/plain"] \
        == rows["http://x/chunked"] == "compressed page text here"
    # read_warc_raw preserves the captured bytes verbatim
    raw = {r.target_uri: bytes(r.record)
           for r in read_warc_raw(spark, [str(d)]).collect()}
    assert raw["http://x/gz"].endswith(gz)


def test_warc_http_payload_decoding_adversarial():
    """The decoder's lenient contract under hostile payloads (r8 review
    findings): a negative chunk-size token must not spin the de-chunk
    loop forever, a multi-member gzip body (servers flushing
    incrementally) must decode ALL members, and a gzip bomb must pass
    through instead of materializing gigabytes in the archive's task."""
    import gzip
    import zlib

    from kiji_mapreduce_spark.io import inputs as io_inputs
    from kiji_mapreduce_spark.io.inputs import _decode_http_payload

    def resp(extra_headers: bytes, payload: bytes) -> bytes:
        return b"HTTP/1.1 200 OK\r\n" + extra_headers + b"\r\n" + payload

    # negative chunk size: int("-6", 16) parses, and the resulting
    # negative slice bounds moved pos BACKWARDS -> infinite loop with
    # unbounded `out` growth before the strict-hex guard
    neg = resp(b"Transfer-Encoding: chunked\r\n", b"-6\r\nanything")
    assert _decode_http_payload(neg) == neg
    # absurd-width token (past the 16-hex-digit cap) passes through too
    wide = resp(b"Transfer-Encoding: chunked\r\n",
                b"1" * 40 + b"\r\nx")
    assert _decode_http_payload(wide) == wide

    # multi-member gzip body: one zlib.decompress(wbits=47) call
    # returned only the FIRST member -- silent loss of most page text
    multi = resp(b"Content-Encoding: gzip\r\n",
                 gzip.compress(b"part one ") + gzip.compress(b"part two"))
    assert _decode_http_payload(multi).endswith(b"part one part two")
    # junk after the last member is ignored, members before it kept
    junk_tail = resp(b"Content-Encoding: gzip\r\n",
                     gzip.compress(b"kept text") + b"\x00garbage")
    assert _decode_http_payload(junk_tail).endswith(b"kept text")

    # bomb: inflating past _MAX_INFLATE refuses and passes through
    # (cap temporarily lowered so the test itself stays tiny)
    bomb = resp(b"Content-Encoding: gzip\r\n",
                gzip.compress(b"\x00" * (1 << 20)))
    orig = io_inputs._MAX_INFLATE
    io_inputs._MAX_INFLATE = 1 << 16
    try:
        assert _decode_http_payload(bomb) == bomb
    finally:
        io_inputs._MAX_INFLATE = orig
    # ...and the same body decodes fine under the real cap
    assert _decode_http_payload(bomb).endswith(b"\x00" * (1 << 20))

    # deflate single-stream with trailing junk still passes through
    # (raw-deflate fallback would misparse it): lenient means verbatim
    tail = zlib.compress(b"page")[2:-4] + b"trailing"
    blob = resp(b"Content-Encoding: deflate\r\n", tail)
    out = _decode_http_payload(blob)
    assert out == blob or out.endswith(b"page")


def test_http_payload_decode_roundtrip_property():
    """Property: for ANY body bytes, framing them with chunked
    transfer coding (arbitrary chunk splits) and/or compressing with
    gzip (1..3 concatenated members), x-gzip, zlib-deflate or
    raw-deflate, then decoding, recovers the original body exactly —
    and the encoding headers are gone. The inverse direction of the
    adversarial tests: decode must be the true inverse of every
    encoding a server can legally produce."""
    import gzip
    import zlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kiji_mapreduce_spark.io.inputs import _decode_http_payload

    @settings(max_examples=60 * _FUZZ_MULT, deadline=None)
    @given(body=st.binary(max_size=400),
           cuts=st.lists(st.integers(0, 400), max_size=4),
           enc=st.sampled_from([None, "gzip", "x-gzip", "gzip2",
                                "gzip3", "deflate", "raw-deflate"]),
           chunked=st.booleans())
    def _roundtrip(body, cuts, enc, chunked):
        payload = body
        headers = [b"HTTP/1.1 200 OK", b"Content-Type: text/html"]
        if enc:
            if enc.startswith("gzip") or enc == "x-gzip":
                n = int(enc[4:]) if enc[4:].isdigit() else 1
                # split into n member payloads at deterministic points
                step = max(1, len(payload) // n) if payload else 1
                parts = [payload[i * step:(i + 1) * step]
                         for i in range(n - 1)]
                parts.append(payload[(n - 1) * step:])
                payload = b"".join(gzip.compress(p) for p in parts)
                name = b"x-gzip" if enc == "x-gzip" else b"gzip"
            elif enc == "deflate":
                payload, name = zlib.compress(payload), b"deflate"
            else:
                payload, name = zlib.compress(payload)[2:-4], b"deflate"
            headers.append(b"Content-Encoding: " + name)
            headers.append(
                b"Content-Length: " + str(len(payload)).encode())
        if chunked:
            bounds = sorted({min(c, len(payload)) for c in cuts}
                            | {0, len(payload)})
            pieces = [payload[a:b]
                      for a, b in zip(bounds, bounds[1:]) if b > a]
            payload = b"".join(
                b"%x\r\n" % len(p) + p + b"\r\n" for p in pieces
            ) + b"0\r\n\r\n"
            headers.append(b"Transfer-Encoding: chunked")
        blob = b"\r\n".join(headers) + b"\r\n\r\n" + payload
        out = _decode_http_payload(blob)
        head, _, got = out.partition(b"\r\n\r\n")
        assert got == body
        assert b"transfer-encoding" not in head.lower()
        assert b"content-encoding" not in head.lower()

    _roundtrip()


def test_compact_parquet_ignores_partition_markers_above_root(spark,
                                                              tmp_path):
    """r9 verdict #4: partition-column discovery matched "/col=" anywhere
    in the first file's full path — a parent directory like
    .../date=2024/docs misclassified a DATA column named "date" as a
    partition column and silently rewrote the flat layout into
    directories. Discovery must look only below the dataset root."""
    from kiji_mapreduce_spark.io.outputs import compact_parquet

    root = f"{tmp_path}/date=2024/docs"
    spark.createDataFrame(
        [(1, "2024"), (2, "2025")], "id long, date string"
    ).repartition(2).write.parquet(root)

    dry = compact_parquet(spark, root, dry_run=True)
    assert dry["partition_by"] == []  # flat dataset stays flat

    stats = compact_parquet(spark, root, target_bytes=1 << 30)
    assert stats["partition_by"] == []
    after = spark.read.parquet(root)
    # layout preserved: no date= subdirectories under the root
    assert all("/docs/part-" in f for f in after.inputFiles())
    assert {(r.id, r.date) for r in after.collect()} == \
        {(1, "2024"), (2, "2025")}

    # and a genuinely hive-partitioned dataset under the same parent
    # still discovers its real partition column
    proot = f"{tmp_path}/date=2024/parts"
    spark.createDataFrame(
        [(1, 0), (2, 1)], "id long, bucket int"
    ).write.partitionBy("bucket").parquet(proot)
    dry = compact_parquet(spark, proot, dry_run=True)
    assert dry["partition_by"] == ["bucket"]


def test_dataset_relative_mismatch_is_unknown_not_flat(spark, tmp_path,
                                                       monkeypatch):
    """r10 review: when root relativization fails (scheme/authority
    spelling mismatch), compact_parquet must NOT default to flattening
    — that is the terminal layout change its docstring warns about. A
    failed match returns None and discovery falls back to the
    conservative full-path heuristic."""
    from kiji_mapreduce_spark.io import outputs

    # direct: mismatched schemes -> None, matched -> relative path
    assert outputs._dataset_relative(
        "s3a://bucket/a/b/part-0.parquet", "hdfs://nn/a", spark) is None
    assert outputs._dataset_relative(
        "file:///t/a/b=1/part-0.parquet", "file:/t/a", spark) == \
        "b=1/part-0.parquet"

    # end to end: force the mismatch and check the partitioned layout
    # survives a compact
    proot = f"{tmp_path}/parts"
    spark.createDataFrame(
        [(1, 0), (2, 1)], "id long, bucket int"
    ).write.partitionBy("bucket").parquet(proot)
    monkeypatch.setattr(outputs, "_dataset_relative",
                        lambda *a, **k: None)
    stats = outputs.compact_parquet(spark, proot, dry_run=True)
    assert stats["partition_by"] == ["bucket"]


def _make_tar(path, members, mode="w"):
    import io as _io
    import tarfile

    with tarfile.open(path, mode) as tf:
        for name, data in members:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            tf.addfile(ti, _io.BytesIO(data))


def test_tar_input_members(spark, tmp_path):
    """tar and tar.gz shards read one row per regular-file member,
    member order preserved per archive; the job_input spec spelling
    (format=tar) resolves to the same reader."""
    from kiji_mapreduce_spark.io.inputs import (job_input,
                                                read_archive_members)

    (d := tmp_path / "shards").mkdir()
    _make_tar(d / "a.tar", [("x/one.bin", b"\x00\x01"),
                            ("two.txt", b"hello")])
    _make_tar(d / "b.tar.gz", [("three.txt", b"zzz")], mode="w:gz")
    rows = read_archive_members(spark, str(d)).collect()
    by_name = {r.member_path: r for r in rows}
    assert set(by_name) == {"x/one.bin", "two.txt", "three.txt"}
    assert bytes(by_name["x/one.bin"].content) == b"\x00\x01"
    assert by_name["two.txt"].size == 5
    assert by_name["three.txt"].path.endswith("b.tar.gz")
    # member_no orders within each archive
    a_rows = sorted((r.member_no, r.member_path) for r in rows
                    if r.path.endswith("a.tar"))
    assert a_rows == [(0, "x/one.bin"), (1, "two.txt")]
    spec = job_input(f"format=tar file={d}")
    assert spec.load(spark).count() == 3


def test_zip_input_members(spark, tmp_path):
    """zip members read one row each (dirs skipped); corrupt zip
    raises strict, keeps-parsed lenient."""
    import zipfile

    import pytest as _pytest

    from kiji_mapreduce_spark.io.inputs import read_archive_members

    (d := tmp_path / "z").mkdir()
    with zipfile.ZipFile(d / "a.zip", "w") as zf:
        zf.writestr("dir/", "")
        zf.writestr("img.png", b"\x89PNG fake")
        zf.writestr("meta.json", b"{}")
    rows = read_archive_members(spark, str(d),
                                archive_format="zip").collect()
    assert {r.member_path for r in rows} == {"img.png", "meta.json"}
    (bad := tmp_path / "bad").mkdir()
    (bad / "c.zip").write_bytes(b"PK\x03\x04 not a real zip")
    with _pytest.raises(Exception):
        read_archive_members(spark, str(bad),
                             archive_format="zip").collect()
    assert read_archive_members(spark, str(bad), archive_format="zip",
                                lenient=True).count() == 0


def test_tar_lenient_truncation(spark, tmp_path):
    """A shard cut mid-member fails the job strict (silent data loss
    otherwise) and keeps the complete members lenient — the WARC
    contract."""
    import pytest as _pytest

    from kiji_mapreduce_spark.io.inputs import read_archive_members

    (d := tmp_path / "t").mkdir()
    _make_tar(d / "a.tar", [("one.bin", b"A" * 600),
                            ("two.bin", b"B" * 600)])
    whole = (d / "a.tar").read_bytes()
    # cut inside member 2's DATA (tarfile flags data truncation; a cut
    # exactly at a header boundary is indistinguishable from a
    # marker-less tar, which tarfile deliberately tolerates)
    (d / "a.tar").write_bytes(whole[:1536 + 512 + 100])
    with _pytest.raises(Exception):
        read_archive_members(spark, str(d)).collect()
    kept = read_archive_members(spark, str(d), lenient=True).collect()
    assert [r.member_path for r in kept] == ["one.bin"]


def test_tar_gz_header_truncation():
    """A .tar.gz cut INSIDE its gzip header (first 3 bytes): CPython's
    tarfile stream reader does ``ord(self.__read(1))`` and ``__read``
    returns b"" at EOF, so this surfaces as TypeError, not TarError —
    lenient must swallow it (the shard stream's never-raises contract),
    strict must re-spell it ValueError."""
    import gzip

    import pytest as _pytest

    from kiji_mapreduce_spark.io.inputs import _iter_tar_members

    whole = gzip.compress(b"not a tar, but a full gzip header")
    for cut in range(0, 10):
        blob = whole[:cut]
        assert list(_iter_tar_members(blob, "s.tar.gz", True)) == []
        with _pytest.raises(ValueError):
            list(_iter_tar_members(blob, "s.tar.gz", False))


def test_archive_member_bomb_gate(spark, tmp_path, monkeypatch):
    """Declared member sizes past the per-archive ceiling fail before
    any read — the archive-layer twin of the codec decode gates."""
    import zipfile

    import pytest as _pytest

    from kiji_mapreduce_spark.io import inputs

    (d := tmp_path / "b").mkdir()
    with zipfile.ZipFile(d / "a.zip", "w") as zf:
        zf.writestr("big.bin", b"x" * 2000)
    blob = (d / "a.zip").read_bytes()
    monkeypatch.setattr(inputs, "_MAX_ARCHIVE_MEMBER_BYTES", 1000)
    with _pytest.raises(ValueError, match="ceiling"):
        list(inputs._iter_zip_members(blob, "a.zip", lenient=False))
    _make_tar(d / "a.tar", [("big.bin", b"x" * 2000)])
    with _pytest.raises(ValueError, match="ceiling"):
        list(inputs._iter_tar_members(
            (d / "a.tar").read_bytes(), "a.tar", lenient=False))


def test_webdataset_samples(spark, tmp_path):
    """WebDataset-convention tar: members sharing a basename-to-first-
    dot group into one sample row with a map<extension, bytes> column;
    contiguous grouping, per-shard."""
    from kiji_mapreduce_spark.io.inputs import read_webdataset

    (d := tmp_path / "wds").mkdir()
    _make_tar(d / "shard-000.tar", [
        ("000017.jpg", b"JPGDATA17"),
        ("000017.cls", b"3"),
        ("000017.json", b'{"a":1}'),
        ("000042.jpg", b"JPGDATA42"),
        ("000042.cls", b"7"),
    ], mode="w")
    _make_tar(d / "shard-001.tar.gz", [
        ("000099.seg.png", b"SEGPNG"),  # extension = all after 1st dot
        ("000099.jpg", b"JPG99"),
    ], mode="w:gz")
    rows = {r.key: r for r in read_webdataset(spark, str(d)).collect()}
    assert set(rows) == {"000017", "000042", "000099"}
    s17 = rows["000017"].sample
    assert bytes(s17["jpg"]) == b"JPGDATA17"
    assert set(s17) == {"jpg", "cls", "json"}
    assert bytes(rows["000042"].sample["cls"]) == b"7"
    s99 = rows["000099"].sample
    assert set(s99) == {"seg.png", "jpg"}
    assert rows["000099"].path.endswith("shard-001.tar.gz")


def test_zip_encrypted_member_contract(tmp_path):
    """An encrypted zip member surfaces through the strict/lenient
    contract (zipfile spells it RuntimeError) instead of leaking a
    raw exception into the task."""
    import struct
    import zipfile

    import pytest as _pytest

    from kiji_mapreduce_spark.io import inputs

    p = tmp_path / "enc.zip"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("a.txt", b"secret")
    blob = bytearray(p.read_bytes())
    # set the encryption bit in both local and central headers
    for magic in (b"PK\x03\x04", b"PK\x01\x02"):
        i = blob.find(magic)
        off = i + (6 if magic == b"PK\x03\x04" else 8)
        flags = struct.unpack_from("<H", blob, off)[0] | 0x1
        struct.pack_into("<H", blob, off, flags)
    with _pytest.raises(ValueError, match="unreadable zip"):
        list(inputs._iter_zip_members(bytes(blob), "enc.zip",
                                      lenient=False))
    assert list(inputs._iter_zip_members(bytes(blob), "enc.zip",
                                         lenient=True)) == []


def test_archive_bomb_gate_respects_lenient(tmp_path, monkeypatch):
    """The declared-size ceiling honors the lenient contract: the
    always-lenient shard STREAM must skip a hostile shard (keeping
    prior members), not wedge the claimed offset-log batch forever."""
    import zipfile

    from kiji_mapreduce_spark.io import inputs

    (d := tmp_path / "b").mkdir()
    _make_tar(d / "a.tar", [("ok.bin", b"y" * 100),
                            ("big.bin", b"x" * 2000)])
    with zipfile.ZipFile(d / "a.zip", "w") as zf:
        zf.writestr("ok.bin", b"y" * 100)
        zf.writestr("big.bin", b"x" * 2000)
    monkeypatch.setattr(inputs, "_MAX_ARCHIVE_MEMBER_BYTES", 1000)
    tar_kept = list(inputs._iter_tar_members(
        (d / "a.tar").read_bytes(), "a.tar", lenient=True))
    zip_kept = list(inputs._iter_zip_members(
        (d / "a.zip").read_bytes(), "a.zip", lenient=True))
    assert [m[0] for m in tar_kept] == ["ok.bin"]
    assert [m[0] for m in zip_kept] == ["ok.bin"]


def test_webdataset_dotted_directory_keys(spark, tmp_path):
    """The sample key splits at the first dot of the BASENAME: a
    dotted directory component must not collapse the archive into one
    mega-sample (the convention's base_plus_ext semantics)."""
    from kiji_mapreduce_spark.io.inputs import read_webdataset

    (d := tmp_path / "wds").mkdir()
    _make_tar(d / "s.tar", [
        ("images.v2/0001.jpg", b"J1"),
        ("images.v2/0001.json", b"M1"),
        ("images.v2/0002.jpg", b"J2"),
        ("noext", b"N"),
    ])
    rows = {r.key: dict(r.sample) for r in
            read_webdataset(spark, str(d)).collect()}
    assert set(rows) == {"images.v2/0001", "images.v2/0002", "noext"}
    assert bytes(rows["images.v2/0001"]["json"]) == b"M1"
    assert set(rows["noext"]) == {""}


def test_cdx_index_records(spark, tmp_path):
    """CDXJ crawl-index lines parse to typed rows, numeric strings
    cast, malformed/header lines yield NULL fields instead of
    failing, gzip files read transparently."""
    import gzip as _gzip

    from kiji_mapreduce_spark.io.inputs import read_cdx

    good = ('com,example)/page 20240101123456 '
            '{"url": "http://example.com/page", "mime": "text/html", '
            '"status": "200", "digest": "AAAA", "length": "1234", '
            '"offset": "5678", "filename": "seg/x.warc.gz", '
            '"languages": "eng"}')
    other = ('org,site)/a 20240202000000 '
             '{"url": "https://site.org/a", "mime": "image/png", '
             '"status": "404", "length": "10", "offset": "0", '
             '"filename": "seg/y.warc.gz"}')
    junk = "not a cdx line"
    d = tmp_path / "cdx"
    d.mkdir()
    (d / "part1.cdx").write_text(good + "\n" + junk + "\n")
    with _gzip.open(d / "part2.cdx.gz", "wt") as f:
        f.write(other + "\n")

    rows = {r.surt_key: r for r in read_cdx(spark, [str(d)]).collect()}
    assert len(rows) == 3  # junk row present with NULL fields
    g = rows["com,example)/page"]
    assert (g.ts, g.url, g.status, g.length, g.offset, g.filename,
            g.languages) == ("20240101123456", "http://example.com/page",
                             200, 1234, 5678, "seg/x.warc.gz", "eng")
    o = rows["org,site)/a"]
    assert o.status == 404 and o.mime == "image/png"
    assert rows[None].url is None  # the junk line

    # the selection workflow: index filter BEFORE any WARC byte moves
    sel = (read_cdx(spark, [str(d)])
           .filter("status = 200 AND mime = 'text/html'"))
    assert [r.filename for r in sel.collect()] == ["seg/x.warc.gz"]

    # the declarative job-input spec reaches the same reader
    from kiji_mapreduce_spark.io.inputs import JobInput

    via_spec = JobInput(format="cdx", paths=[str(d)]).load(spark)
    assert via_spec.count() == 3


def _cc_warc_gz(records):
    """Common Crawl layout: each WARC record gzip-compressed as its
    OWN member, members concatenated. Returns (blob, [(offset,
    length)]) so a test can build the matching CDX index."""
    import gzip as _gzip

    blob = bytearray()
    ranges = []
    for rec in records:
        member = _gzip.compress(rec, mtime=0)
        ranges.append((len(blob), len(member)))
        blob += member
    return bytes(blob), ranges


def test_warc_records_from_ranges_byte_identical(spark, tmp_path):
    """The CDX-pointed range fetch (r12 verdict ask #3): records
    fetched via (filename, offset, length) ranges equal the
    whole-file-parsed records byte-for-byte, for both the per-member
    gzip layout and a plain .warc; the index-filter-then-fetch job
    input spec reaches the same reader."""
    import json as _json

    from kiji_mapreduce_spark.io.inputs import (
        JobInput, read_warc_records, warc_records_from_ranges)

    page = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<html><p>range fetched body</p></html>")
    png = (b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n"
           b"\x89PNG fake bytes")
    recs = [
        _warc_record("response", "http://a.example.com/page", page,
                     rid="<urn:uuid:a>"),
        _warc_record("response", "http://a.example.com/img.png", png,
                     rid="<urn:uuid:b>"),
        _warc_record("request", "http://a.example.com/page",
                     b"GET /page HTTP/1.1\r\n\r\n",
                     rid="<urn:uuid:c>"),
    ]
    gz_blob, gz_ranges = _cc_warc_gz(recs)
    d = tmp_path / "warcs" / "seg"
    d.mkdir(parents=True)
    (d / "a.warc.gz").write_bytes(gz_blob)
    plain = b"".join(recs)
    (d / "b.warc").write_bytes(plain)

    # whole-file parse = the ground truth
    whole = {(r.path.split("/")[-1], r.record_no): r
             for r in read_warc_records(
                 spark, [str(d)]).collect()}

    # plain-file ranges: raw record offsets
    plain_ranges = []
    off = 0
    for rec in recs:
        plain_ranges.append((off, len(rec)))
        off += len(rec)

    rows = ([("seg/a.warc.gz", o, ln) for o, ln in gz_ranges]
            + [("seg/b.warc", o, ln) for o, ln in plain_ranges])
    ranges = spark.createDataFrame(
        rows, "filename string, offset long, length long")
    got = warc_records_from_ranges(
        ranges, base=str(tmp_path / "warcs")).collect()
    assert len(got) == 6
    for r in got:
        fname = r.path.split("/")[-1]
        # match by position within the file: ranges were emitted in
        # record order, record_no within a range is 0
        assert r.record_no == 0
    by_uri = {}
    for r in got:
        by_uri.setdefault(r.path.split("/")[-1], {})[
            (r.target_uri, r.record_id)] = r
    for (fname, no), w in whole.items():
        g = by_uri[fname][(w.target_uri, w.record_id)]
        assert bytes(g.content) == bytes(w.content)  # byte-identical
        assert (g.warc_type, g.warc_date, g.content_length) == \
            (w.warc_type, w.warc_date, w.content_length)

    # the index-first job-input path: CDX lines -> filter -> fetch
    idx_lines = []
    for (o, ln), uri, st, mime in zip(
            gz_ranges,
            ["http://a.example.com/page", "http://a.example.com/img.png",
             "http://a.example.com/page"],
            ["200", "200", "200"], ["text/html", "image/png",
                                    "application/http"]):
        idx_lines.append(
            "com,example,a)/ 20240101000000 " + _json.dumps(
                {"url": uri, "mime": mime, "status": st,
                 "length": str(ln), "offset": str(o),
                 "filename": "seg/a.warc.gz"}))
    (tmp_path / "idx.cdx").write_text("\n".join(idx_lines) + "\n")
    via = JobInput(
        format="cdx", paths=[str(tmp_path / "idx.cdx")],
        options={"fetch": "records", "mime": "text/html",
                 "warc_base": str(tmp_path / "warcs")}).load(spark)
    out = via.collect()
    assert len(out) == 1
    assert out[0].target_uri == "http://a.example.com/page"
    assert b"range fetched body" in bytes(out[0].content)


def test_warc_range_fetch_gates_and_lenient(spark, tmp_path):
    """Range-fetch error surface: a declared length over the 1 GiB
    gate, an offset past EOF, a misaligned offset (mid-member bytes),
    a negative/zero range and a missing file all raise ValueError in
    strict mode and SKIP (keeping the good ranges) in lenient mode."""
    import pytest as _pytest

    from kiji_mapreduce_spark.io.inputs import warc_records_from_ranges

    page = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<p>ok</p>")
    recs = [_warc_record("response", "http://g.example.com/x", page)]
    blob, ranges = _cc_warc_gz(recs)
    (tmp_path / "g.warc.gz").write_bytes(blob)
    good = ("g.warc.gz", ranges[0][0], ranges[0][1])

    bads = [
        ("g.warc.gz", 0, 2 << 30),          # over the declared gate
        ("g.warc.gz", len(blob) + 10, 64),  # past EOF
        ("g.warc.gz", 3, ranges[0][1] - 3),  # misaligned: mid-member
        ("g.warc.gz", -1, 10),              # negative offset
        ("g.warc.gz", 0, 0),                # zero length
        ("missing.warc.gz", 0, 10),         # no such file
    ]
    for bad in bads:
        df = spark.createDataFrame(
            [good, bad], "filename string, offset long, length long")
        with _pytest.raises(Exception, match="range|read|such file"):
            warc_records_from_ranges(df, base=str(tmp_path)).collect()
        kept = warc_records_from_ranges(
            df, base=str(tmp_path), lenient=True).collect()
        assert [r.target_uri for r in kept] == \
            ["http://g.example.com/x"], f"lenient lost good range: {bad}"

    # r13 review finding: TWO ranges on the same MISSING file — the
    # second must also skip, not crash on a stale None handle cached
    # by the first failed open
    df = spark.createDataFrame(
        [good, ("missing.warc.gz", 0, 10), ("missing.warc.gz", 20, 10)],
        "filename string, offset long, length long")
    kept = warc_records_from_ranges(
        df, base=str(tmp_path), lenient=True).collect()
    assert [r.target_uri for r in kept] == ["http://g.example.com/x"]

    # the failed-open memo must be PER-PATH: a missing file sorting
    # BEFORE a good file in the same partition skips its own ranges
    # only — the good file's open still happens
    df = spark.createDataFrame(
        [("a-missing.warc.gz", 0, 10), ("a-missing.warc.gz", 20, 10),
         good],
        "filename string, offset long, length long").coalesce(1)
    kept = warc_records_from_ranges(
        df, base=str(tmp_path), lenient=True).collect()
    assert [r.target_uri for r in kept] == ["http://g.example.com/x"]


def test_warc_range_fetch_relative_base_resolves_driver_side(
        spark, tmp_path, monkeypatch):
    """A RELATIVE plain-path base resolves against the DRIVER's cwd at
    call time, not the executor Python worker's cwd at fetch time
    (r13 review finding: worker cwds differ from the shell's on a real
    cluster, and under --lenient every open then failed silently —
    n_docs=0 with exit 0). Pinned by chdir-ing away between building
    the plan and collecting it: the captured base must already be
    absolute."""
    import os

    from kiji_mapreduce_spark.io.inputs import warc_records_from_ranges

    page = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<p>relative base</p>")
    recs = [_warc_record("response", "http://rb.example.com/x", page)]
    blob, ranges = _cc_warc_gz(recs)
    d = tmp_path / "warcs"
    d.mkdir()
    (d / "r.warc.gz").write_bytes(blob)

    monkeypatch.chdir(tmp_path)
    df = spark.createDataFrame(
        [("r.warc.gz", ranges[0][0], ranges[0][1])],
        "filename string, offset long, length long")
    fetched = warc_records_from_ranges(df, base="warcs", lenient=True)
    monkeypatch.chdir(os.path.dirname(str(tmp_path)))
    got = fetched.collect()
    assert [r.target_uri for r in got] == ["http://rb.example.com/x"]


def test_cdx_adversarial_json_tails(spark, tmp_path):
    """read_cdx under hostile JSON tails (r12 verdict #5): valid
    ``key ts {..}`` prefixes with adversarial JSON — wrong-typed and
    huge numerics, nested objects/arrays, duplicate keys, escaped
    quotes, unicode, null fields, deep nesting, unterminated bodies —
    never raise; unparsable tails yield NULL fields and parsable ones
    surface exactly the typed values from_json can extract."""
    from kiji_mapreduce_spark.io.inputs import read_cdx

    pre = "com,x)/p 20240101000000 "
    lines = [
        pre + '{"offset": "not-a-number", "length": "12e4"}',
        pre + '{"offset": 99999999999999999999999999, "length": -5}',
        pre + '{"offset": {"nested": 1}, "filename": ["a", "b"]}',
        pre + '{"url": "u", "url": "dup-wins"}',
        pre + '{"url": "quote \\" inside", "mime": "text/\\u00e9"}',
        pre + '{"status": null, "digest": null}',
        pre + '{"a": {"b": {"c": {"d": {"e": {"f": 1}}}}}}',
        pre + '{"offset": "5678", "filename": "ok.warc.gz"',  # no }
        pre + '{}',
        pre + '{"offset": "00123", "status": "0200"}',
    ]
    (tmp_path / "adv.cdx").write_text("\n".join(lines) + "\n")
    rows = read_cdx(spark, [str(tmp_path / "adv.cdx")]).collect()
    assert len(rows) == len(lines)
    # every row keys (the key regex needs only the '{' prefix); the
    # unterminated-JSON line's FIELDS stay NULL (asserted below via
    # its filename never surfacing)
    assert all(r.surt_key == "com,x)/p" for r in rows)
    offs = {r.offset for r in rows}
    assert 123 in offs          # leading zeros still cast
    stats = {r.status for r in rows}
    assert 200 in stats
    fnames = {r.filename for r in rows if r.filename is not None}
    assert "ok.warc.gz" not in fnames  # unterminated line is all-NULL
    urls = {r.url for r in rows if r.url is not None}
    assert 'quote " inside' in urls


def test_cli_crawl_ingest_cdx_index(spark, tmp_path, capsys):
    """crawl-ingest --cdx-index end to end: CDXJ lines select two of
    three captures (status+mime filters), only those ranges are
    fetched from the archive under --input, and the resulting
    documents match a whole-archive ingest of the same pages; flag
    combinations that cannot work are usage errors."""
    import json as _json

    import pytest as _pytest

    from kiji_mapreduce_spark import cli

    pages = {
        "http://c.example.com/keep1":
            b"<p>first kept page body with words</p>",
        "http://c.example.com/keep2":
            b"<p>second kept page body with words</p>",
        "http://c.example.com/skip":
            b"<p>filtered out page body</p>",
    }
    recs, metas = [], []
    for uri, html in pages.items():
        body = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + html)
        recs.append(_warc_record("response", uri, body))
        metas.append(uri)
    blob, ranges = _cc_warc_gz(recs)
    warcs = tmp_path / "warcs"
    (warcs / "seg").mkdir(parents=True)
    (warcs / "seg" / "c.warc.gz").write_bytes(blob)

    idx_lines = []
    for (off, ln), uri in zip(ranges, metas):
        mime = "text/plain" if uri.endswith("skip") else "text/html"
        idx_lines.append(
            "com,example,c)/ 20240101000000 " + _json.dumps(
                {"url": uri, "mime": mime, "status": "200",
                 "length": str(ln), "offset": str(off),
                 "filename": "seg/c.warc.gz"}))
    (tmp_path / "i.cdx").write_text("\n".join(idx_lines) + "\n")

    rc = cli.main([
        "crawl-ingest", "--input", str(warcs),
        "--cdx-index", str(tmp_path / "i.cdx"),
        "--cdx-status", "200", "--cdx-mime", "text/html",
        "--output", f"{tmp_path}/docs"])
    assert rc == 0
    stats = _json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_docs"] == 2
    got = {r.url: r.text
           for r in spark.read.parquet(f"{tmp_path}/docs").collect()}
    assert set(got) == {"http://c.example.com/keep1",
                        "http://c.example.com/keep2"}
    assert "first kept page body" in got["http://c.example.com/keep1"]

    for bad in (["--stream", "--checkpoint", f"{tmp_path}/ck"],
                ["--wet"]):
        with _pytest.raises(SystemExit):
            cli.main(["crawl-ingest", "--input", str(warcs),
                      "--cdx-index", str(tmp_path / "i.cdx"),
                      "--output", f"{tmp_path}/d2"] + bad)
    with _pytest.raises(SystemExit):
        cli.main(["crawl-ingest", "--input", str(warcs),
                  "--cdx-mime", "text/html",
                  "--output", f"{tmp_path}/d3"])


def test_warc_range_fetch_striping(spark, tmp_path):
    """A tiny stripe size forces one file's ranges across MANY
    shuffle partitions (the single-huge-archive parallelism case);
    results are identical to the single-stripe fetch."""
    from kiji_mapreduce_spark.io.inputs import warc_records_from_ranges

    recs = [_warc_record("response", f"http://st.example.com/{i}",
                         b"HTTP/1.1 200 OK\r\n\r\n" + b"w" * 50)
            for i in range(12)]
    blob, ranges = _cc_warc_gz(recs)
    (tmp_path / "s.warc.gz").write_bytes(blob)
    df = spark.createDataFrame(
        [("s.warc.gz", o, ln) for o, ln in ranges],
        "filename string, offset long, length long")
    wide = warc_records_from_ranges(df, base=str(tmp_path),
                                    stripe_bytes=64)
    one = warc_records_from_ranges(df, base=str(tmp_path))
    key = lambda r: (r.offset, r.target_uri, bytes(r.content))
    assert sorted(map(key, wide.collect())) == \
        sorted(map(key, one.collect()))


def test_warc_range_fetch_uri_scheme_via_pyarrow(spark, tmp_path):
    """Range filenames carrying a URI scheme bypass --base and open
    through pyarrow.fs (file:// exercises the exact branch s3://hdfs
    take in production — seekable input files, ranged reads); results
    are byte-identical to the plain-path fetch."""
    from kiji_mapreduce_spark.io.inputs import warc_records_from_ranges

    page = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<p>uri scheme fetched</p>")
    recs = [_warc_record("response", "http://u.example.com/x", page)]
    blob, ranges = _cc_warc_gz(recs)
    f = tmp_path / "u.warc.gz"
    f.write_bytes(blob)

    df = spark.createDataFrame(
        [(f"file://{f}", ranges[0][0], ranges[0][1])],
        "filename string, offset long, length long")
    got = warc_records_from_ranges(df).collect()
    assert len(got) == 1
    assert got[0].target_uri == "http://u.example.com/x"
    assert bytes(got[0].content) == page


def test_warc_member_index_and_cdx_roundtrip(spark, tmp_path, capsys):
    """The generation half of the index-first loop: warc_member_index
    tracks per-gzip-member (and plain-record) byte ranges + HTTP
    status/mime/digest; cdx_lines renders CDXJ that read_cdx parses
    back; warc_records_from_ranges fetches byte-identical records
    through the whole loop; the cdx-index CLI + crawl-ingest
    --cdx-index compose end to end."""
    import gzip as _gzip
    import hashlib
    import json as _json

    from kiji_mapreduce_spark import cli
    from kiji_mapreduce_spark.io.inputs import (
        cdx_lines, read_cdx, read_warc_records, warc_member_index,
        warc_records_from_ranges)

    def resp(uri_tail, words):
        body = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                b"<html><p>" + (words.encode() + b" ") * 12
                + b"</p></html>")
        return _warc_record("response",
                            f"http://idx.example.com/{uri_tail}", body)

    recs = [resp("a", "alpha page words"), resp("b", "bravo page words"),
            resp("c", "charlie page words")]
    warcs = tmp_path / "warcs"
    warcs.mkdir()
    gz_blob, gz_ranges = _cc_warc_gz(recs)
    (warcs / "x.warc.gz").write_bytes(gz_blob)
    (warcs / "y.warc").write_bytes(b"".join(recs))

    files = spark.read.format("binaryFile").load(str(warcs))
    idx = warc_member_index(files).collect()
    assert len(idx) == 6
    by_file = {}
    for r in idx:
        by_file.setdefault(r.path.split("/")[-1], []).append(r)
    got_gz = sorted((r.offset, r.length)
                    for r in by_file["x.warc.gz"])
    assert got_gz == sorted(gz_ranges)
    for r in idx:
        assert r.status == 200 and r.mime == "text/html"
        assert r.warc_type == "response"
        assert len(r.digest) == 32
    # digest is over the record payload
    whole = {(r.path.split("/")[-1], r.target_uri): r
             for r in read_warc_records(
                 spark, [str(warcs)]).collect()}
    for r in idx:
        w = whole[(r.path.split("/")[-1], r.target_uri)]
        assert r.digest == hashlib.md5(bytes(w.content)).hexdigest()

    # CDXJ render -> parse -> fetch: byte-identical records
    idx_df = warc_member_index(files)
    cdx_lines(idx_df, base=str(warcs)).write.mode("overwrite") \
        .text(f"{tmp_path}/cdx")
    parsed = read_cdx(spark, [f"{tmp_path}/cdx"])
    rows = parsed.collect()
    assert all(r.surt_key == "com,example,idx)/" + r.url[-1]
               for r in rows)
    assert all(r.ts == "20240101000000" for r in rows)
    fetched = {(r.path.split("/")[-1], r.target_uri): r
               for r in warc_records_from_ranges(
                   parsed, base=str(warcs)).collect()}
    assert len(fetched) == 6
    for k, w in whole.items():
        assert bytes(fetched[k].content) == bytes(w.content)

    # CLI loop: cdx-index then crawl-ingest --cdx-index
    rc = cli.main(["cdx-index", "--input", str(warcs),
                   "--output", f"{tmp_path}/cdx2", "--gzip"])
    assert rc == 0
    stats = _json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_lines"] == 6
    rc = cli.main(["crawl-ingest", "--input", str(warcs),
                   "--cdx-index", f"{tmp_path}/cdx2",
                   "--cdx-mime", "text/html",
                   "--output", f"{tmp_path}/docs"])
    assert rc == 0
    urls = {r.url
            for r in spark.read.parquet(f"{tmp_path}/docs").collect()}
    assert urls == {f"http://idx.example.com/{t}" for t in "abc"}


def test_warc_member_index_lenient_truncation(spark, tmp_path):
    """A truncated archive indexes its parsed prefix under lenient
    and raises under strict — the parser's contract."""
    import pytest as _pytest

    from kiji_mapreduce_spark.io.inputs import warc_member_index

    recs = [_warc_record("response", "http://t.example.com/1",
                         b"HTTP/1.1 200 OK\r\n\r\nbody one"),
            _warc_record("response", "http://t.example.com/2",
                         b"HTTP/1.1 200 OK\r\n\r\nbody two")]
    blob, ranges = _cc_warc_gz(recs)
    cut = blob[:ranges[1][0] + 10]  # inside the second member
    (tmp_path / "t.warc.gz").write_bytes(cut)
    files = spark.read.format("binaryFile").load(str(tmp_path))
    kept = warc_member_index(files, lenient=True).collect()
    assert [r.target_uri for r in kept] == ["http://t.example.com/1"]
    with _pytest.raises(Exception, match="truncated|corrupt"):
        warc_member_index(files, lenient=False).collect()


def _cc_warc_zst(records, lead_skippable=False, seek_table=False):
    """Per-record-frame .warc.zst layout (the zstd twin of
    ``_cc_warc_gz``): each record is its own zstd frame, frames
    concatenated, optionally book-ended by skippable frames (tool
    metadata up front, the seekable format's seek table at the end —
    neither carries records, so neither gets an index row). Returns
    (blob, [(offset, length)]) for the DATA frames only."""
    import struct as _struct

    from tests.test_zstd import _store_frame

    blob = bytearray()
    if lead_skippable:
        blob += _struct.pack("<II", 0x184D2A50, 4) + b"meta"
    ranges = []
    for rec in records:
        frame = _store_frame(rec)
        ranges.append((len(blob), len(frame)))
        blob += frame
    if seek_table:
        blob += _struct.pack("<II", 0x184D2A5E, 8) + bytes(8)
    return bytes(blob), ranges


def test_warc_member_index_whole_frame_zst_refused(spark, tmp_path):
    """A .warc.zst whose single frame holds the WHOLE archive is not
    the per-record-frame layout — every index line would point at the
    same range and a fetch would duplicate every record. Strict mode
    says so explicitly; lenient skips the file."""
    import pytest as _pytest

    from tests.test_zstd import _store_frame

    from kiji_mapreduce_spark.io.inputs import warc_member_index

    recs = [_warc_record("response", "http://w.example.com/1",
                         b"HTTP/1.1 200 OK\r\n\r\nbody one"),
            _warc_record("response", "http://w.example.com/2",
                         b"HTTP/1.1 200 OK\r\n\r\nbody two")]
    (tmp_path / "z.warc.zst").write_bytes(_store_frame(b"".join(recs)))
    files = spark.read.format("binaryFile").load(str(tmp_path))
    assert warc_member_index(files, lenient=True).collect() == []
    with _pytest.raises(Exception,
                        match="per-record|frames 2 records"):
        warc_member_index(files, lenient=False).collect()


def test_warc_member_index_zst_roundtrip_byte_identity(spark,
                                                       tmp_path):
    """The r13 verdict ask: per-record-frame .warc.zst archives are
    seekable through the whole index-first loop — warc_member_index
    records per-frame byte ranges (skippable frames passed over),
    cdx_lines renders them, read_cdx parses them back, and
    warc_records_from_ranges fetches records BYTE-IDENTICAL to the
    whole-file .warc.zst parse."""
    from kiji_mapreduce_spark.io.inputs import (
        cdx_lines, read_cdx, read_warc_records, warc_member_index,
        warc_records_from_ranges)

    def resp(tail, words):
        body = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                b"<html><p>" + (words.encode() + b" ") * 12
                + b"</p></html>")
        return _warc_record("response",
                            f"http://zr.example.com/{tail}", body)

    recs = [resp("a", "alpha zst words"), resp("b", "bravo zst words"),
            resp("c", "charlie zst words")]
    blob, ranges = _cc_warc_zst(recs, lead_skippable=True,
                                seek_table=True)
    warcs = tmp_path / "warcs"
    warcs.mkdir()
    (warcs / "z.warc.zst").write_bytes(blob)

    files = spark.read.format("binaryFile").load(str(warcs))
    idx = warc_member_index(files).collect()
    assert sorted((r.offset, r.length) for r in idx) == sorted(ranges)
    assert all(r.status == 200 and r.mime == "text/html" for r in idx)

    cdx_lines(warc_member_index(files), base=str(warcs)) \
        .write.mode("overwrite").text(f"{tmp_path}/cdx")
    parsed = read_cdx(spark, [f"{tmp_path}/cdx"])
    whole = {r.target_uri: r
             for r in read_warc_records(
                 spark, [str(warcs)]).collect()}
    fetched = {r.target_uri: r
               for r in warc_records_from_ranges(
                   parsed, base=str(warcs)).collect()}
    assert len(fetched) == len(whole) == 3
    for uri, w in whole.items():
        assert bytes(fetched[uri].content) == bytes(w.content)

    # truncation inside the LAST data frame: lenient indexes the
    # parsed prefix (the walker's contract), strict raises
    import pytest as _pytest

    (warcs / "z.warc.zst").write_bytes(
        blob[:ranges[-1][0] + 10])
    files = spark.read.format("binaryFile").load(str(warcs))
    kept = warc_member_index(files, lenient=True).collect()
    assert sorted(r.target_uri for r in kept) == [
        "http://zr.example.com/a", "http://zr.example.com/b"]
    # the READ path keeps the same parsed prefix (read and index must
    # agree on what a truncated archive contains)
    read_kept = read_warc_records(spark, [str(warcs)],
                                  lenient=True).collect()
    assert sorted(r.target_uri for r in read_kept) == [
        "http://zr.example.com/a", "http://zr.example.com/b"]
    with _pytest.raises(Exception,
                        match="truncated|corrupt|overruns"):
        warc_member_index(files, lenient=False).collect()
    with _pytest.raises(Exception, match="corrupt zstd WARC"):
        read_warc_records(spark, [str(warcs)]).collect()


def test_warc_zst_range_fetch_corrupt_range(spark, tmp_path):
    """A CDX-pointed range whose zstd frame is corrupt is a per-range
    error: strict raises 'corrupt zstd range', lenient skips it and
    keeps the good ranges — never a silent wrong record."""
    import struct as _struct

    import pytest as _pytest

    from kiji_mapreduce_spark.io.inputs import warc_records_from_ranges

    page = b"HTTP/1.1 200 OK\r\n\r\n<p>zst range ok</p>"
    recs = [_warc_record("response", "http://zc.example.com/good",
                         page),
            _warc_record("response", "http://zc.example.com/bad",
                         page)]
    blob, ranges = _cc_warc_zst(recs)
    # corrupt the second frame's block header: reserved block type
    # (valid magic, so it routes into the zstd branch and FAILS there)
    broken = bytearray(blob)
    off2 = ranges[1][0]
    # magic + fhd + FCS (single-segment: 1 byte when fhd>>6==0, else 2)
    hdr = 4 + 1 + (1 if blob[off2 + 4] >> 6 == 0 else 2)
    broken[off2 + hdr:off2 + hdr + 3] = _struct.pack(
        "<I", (1 << 3) | (3 << 1) | 1)[:3]
    (tmp_path / "c.warc.zst").write_bytes(bytes(broken))

    df = spark.createDataFrame(
        [("c.warc.zst", o, ln) for o, ln in ranges],
        "filename string, offset long, length long")
    kept = warc_records_from_ranges(
        df, base=str(tmp_path), lenient=True).collect()
    assert [r.target_uri for r in kept] == [
        "http://zc.example.com/good"]
    with _pytest.raises(Exception, match="corrupt zstd range"):
        warc_records_from_ranges(df, base=str(tmp_path)).collect()


def test_warc_range_fetch_unknown_scheme(spark, tmp_path):
    """A range filename with a scheme pyarrow cannot resolve is a
    per-range error: strict raises, lenient skips it and keeps the
    good ranges."""
    import pytest as _pytest

    from kiji_mapreduce_spark.io.inputs import warc_records_from_ranges

    page = b"HTTP/1.1 200 OK\r\n\r\n<p>ok</p>"
    recs = [_warc_record("response", "http://k.example.com/x", page)]
    blob, ranges = _cc_warc_gz(recs)
    (tmp_path / "k.warc.gz").write_bytes(blob)
    df = spark.createDataFrame(
        [("k.warc.gz", ranges[0][0], ranges[0][1]),
         ("noSuchScheme://bucket/k.warc.gz", 0, 64)],
        "filename string, offset long, length long")
    kept = warc_records_from_ranges(
        df, base=str(tmp_path), lenient=True).collect()
    assert [r.target_uri for r in kept] == ["http://k.example.com/x"]
    with _pytest.raises(Exception):
        warc_records_from_ranges(df, base=str(tmp_path)).collect()


def test_range_fetched_docs_get_unique_doc_ids(spark, tmp_path):
    """r13 review finding: range-fetched records restart record_no at
    0 per range, so doc ids must also hash the range offset — without
    it every single-record range from one archive minted the SAME
    doc_id (and one robots verdict / dedup survivor spoke for the
    whole archive). Whole-file ingest ids stay unchanged."""
    from kiji_mapreduce_spark.io.inputs import (read_warc_records,
                                                warc_records_from_ranges)
    from kiji_mapreduce_spark.pipeline.crawl import crawl_documents

    page = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<p>distinct page body words here</p>")
    recs = [_warc_record("response", f"http://u.example.com/{i}", page)
            for i in range(6)]
    blob, ranges = _cc_warc_gz(recs)
    (tmp_path / "u.warc.gz").write_bytes(blob)

    rdf = spark.createDataFrame(
        [("u.warc.gz", o, ln) for o, ln in ranges],
        "filename string, offset long, length long")
    fetched = warc_records_from_ranges(rdf, base=str(tmp_path))
    docs = crawl_documents(fetched, spark).collect()
    assert len(docs) == 6
    assert len({r.doc_id for r in docs}) == 6  # all UNIQUE

    # whole-file path minting unchanged (dedup indexes / splits keyed
    # on these ids stay stable across engine versions)
    whole = read_warc_records(spark, [str(tmp_path)])
    wdocs = crawl_documents(whole, spark).collect()
    assert len({r.doc_id for r in wdocs}) == 6


def test_warc_member_index_rejects_multirecord_member(spark, tmp_path):
    """A whole-file gzip member holding several records is NOT the
    per-record-member layout — an index over it would fetch N copies
    of every record. Strict refuses with the recompress hint; lenient
    keeps the records indexed before the bad member."""
    import gzip as _gzip

    import pytest as _pytest

    from kiji_mapreduce_spark.io.inputs import warc_member_index

    body = b"HTTP/1.1 200 OK\r\n\r\nwords"
    ok = _gzip.compress(
        _warc_record("response", "http://m.example.com/ok", body),
        mtime=0)
    multi = _gzip.compress(
        _warc_record("response", "http://m.example.com/1", body)
        + _warc_record("response", "http://m.example.com/2", body),
        mtime=0)
    (tmp_path / "m.warc.gz").write_bytes(ok + multi)
    files = spark.read.format("binaryFile").load(str(tmp_path))
    with _pytest.raises(Exception, match="per-record-member"):
        warc_member_index(files, lenient=False).collect()
    kept = warc_member_index(files, lenient=True).collect()
    assert [r.target_uri for r in kept] == ["http://m.example.com/ok"]


def test_job_output_seq_kv_contract_and_unsupported_options(spark, tmp_path):
    """seq output fails loudly on a non-2-column frame (a 3rd column was
    silently dropped, a 1-column frame crashed executor-side) and on
    options/partition_by it cannot honor (r13 review finding)."""
    three = spark.createDataFrame([("k", "v", "extra")], "a string, b string, c string")
    with pytest.raises(ValueError, match="exactly 2 columns"):
        JobOutput(format="seq", path=f"{tmp_path}/s1").save(three)
    one = spark.createDataFrame([("k",)], "a string")
    with pytest.raises(ValueError, match="exactly 2 columns"):
        JobOutput(format="seq", path=f"{tmp_path}/s2").save(one)
    two = spark.createDataFrame([("k", "v")], "a string, b string")
    with pytest.raises(ValueError, match="does not support options"):
        JobOutput(format="seq", path=f"{tmp_path}/s3",
                  options={"compression": "gzip"}).save(two)
    with pytest.raises(ValueError, match="partition_by"):
        JobOutput(format="map", path=f"{tmp_path}/s4",
                  partition_by=["a"]).save(two)
    with pytest.raises(ValueError, match="overwrite-only"):
        JobOutput(format="hfile", path=f"{tmp_path}/s5",
                  mode="append", key_cols=["a"]).save(two)


def test_job_output_text_honors_compression(spark, tmp_path):
    """compression= parsed from the spec reaches the text writer instead
    of being silently dropped (r13 review finding)."""
    df = spark.createDataFrame([("hello",)], "v string")
    jo = job_output(f"format=text file={tmp_path}/tz compression=gzip")
    jo.save(df)
    files = os.listdir(f"{tmp_path}/tz")
    assert any(f.endswith(".txt.gz") for f in files), files


def test_job_output_parses_key_cols(spark, tmp_path):
    """key_cols= lands on JobOutput.key_cols (it fell into the ignored
    options dict, silently staging hfiles on entity_id — r13 review
    finding)."""
    jo = job_output(f"format=hfile file={tmp_path}/h key_cols=b,a")
    assert jo.key_cols == ["b", "a"]
    assert "key_cols" not in jo.options
    df = spark.createDataFrame([(2, 1), (1, 2)], "a int, b int")
    jo.save(df)
    assert spark.read.parquet(f"{tmp_path}/h").count() == 2


def test_kiji_output_probe_is_scheme_agnostic(spark, tmp_path):
    """A format=kiji write at a file://-prefixed LIVE entity table routes
    through upsert instead of destructively parquet-overwriting the
    table dir (r13 review finding: os.path.exists said False for any
    scheme-prefixed path)."""
    import json as _json

    from kiji_mapreduce_spark.layout import TableLayout
    from kiji_mapreduce_spark.table import EntityTable

    layout = TableLayout.from_json(_json.dumps({
        "name": "ko", "families": [
            {"name": "m", "columns": [{"name": "v", "schema": "long"}]}]}))
    path = f"{tmp_path}/ko_table"
    t = EntityTable.create(spark, path, layout)
    rows = spark.createDataFrame([(("a",), 7)],
                                 "entity_id struct<key string>, v long")
    JobOutput(format="kiji", path=f"file://{path}").save(
        rows.select("entity_id", F.struct(
            F.array(F.struct(F.lit(1).cast("long").alias("ts"),
                             F.col("v").alias("value"))).alias("v"))
            .alias("m")))
    # the layout sidecar survived and the row landed through upsert
    assert os.path.exists(os.path.join(path, "_kiji_layout.json"))
    got = {r.entity_id.key: r.m.v[0].value
           for r in EntityTable.open(spark, path).read().collect()}
    assert got == {"a": 7}


def test_strip_file_scheme_single_slash(tmp_path):
    """file:/x (Hadoop Path.toString), file:///x and file://x all strip
    to local paths (r13 review finding: the single-slash form broke
    fs_exists and write-mode semantics)."""
    from kiji_mapreduce_spark.io.outputs import _strip_file_scheme, fs_exists

    assert _strip_file_scheme("file:/a/b") == "/a/b"
    assert _strip_file_scheme("file:///a/b") == "/a/b"
    assert _strip_file_scheme("/a/b") == "/a/b"
    assert _strip_file_scheme("s3a://bucket/x") == "s3a://bucket/x"
    (tmp_path / "probe").write_text("x")
    assert fs_exists(f"file:/{str(tmp_path).lstrip('/')}/probe")
    assert fs_exists(f"file://{tmp_path}/probe")


def test_warc_negative_content_length(spark):
    """A crafted negative Content-Length must not desync the framer —
    the -(header+4) value made the post-record trim delete ZERO bytes
    and the generator yield the same record forever."""
    import itertools

    import pytest

    from kiji_mapreduce_spark.io.inputs import _frame_warc_records

    hdr = (b"WARC/1.0\r\n"
           b"WARC-Type: response\r\n")
    # length == -(header_end + 4) reproduces the infinite loop
    for length in (-1, -(len(hdr) + len(b"Content-Length: -00\r\n") + 2)):
        blob = hdr + b"Content-Length: %d\r\n\r\n" % length
        with pytest.raises(ValueError, match="negative Content-Length"):
            list(_frame_warc_records([blob], "mem", lenient=False))
        # lenient: stops cleanly, and NEVER yields unbounded records
        out = list(itertools.islice(
            _frame_warc_records([blob], "mem", lenient=True), 10))
        assert out == []


def test_warc_header_hunt_is_bounded():
    """A WARC/-prefixed stream with no CRLF CRLF terminator must fail
    at the header cap instead of buffering the whole archive."""
    import pytest

    from kiji_mapreduce_spark.io.inputs import _frame_warc_records

    def chunks():
        yield b"WARC/1.0\r\n"
        while True:  # endless header-ish bytes, never a blank line
            yield b"X-Junk: aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa\r\n" * 1024

    with pytest.raises(ValueError, match="malformed WARC record header"):
        next(_frame_warc_records(chunks(), "mem", lenient=False))


def test_warc_non_warc_stream_rejected_without_buffering():
    """Garbage that is not WARC at record start is rejected from the
    first bytes — the framer must not consume the stream hunting for a
    header terminator."""
    import pytest

    from kiji_mapreduce_spark.io.inputs import _frame_warc_records

    pulled = 0

    def chunks():
        nonlocal pulled
        while True:
            pulled += 1
            yield b"\x00garbage" * 131072  # 1 MiB chunks, no CRLFCRLF

    with pytest.raises(ValueError, match="malformed"):
        next(_frame_warc_records(chunks(), "mem", lenient=False))
    assert pulled <= 2, f"buffered {pulled} chunks before rejecting"


def test_webdataset_empty_shard_lenient(spark, tmp_path):
    """A corrupt (or merely member-less) shard yields no rows instead
    of crashing Arrow with an untyped empty 'sample' column — the exact
    case lenient=True promises to survive."""
    import tarfile

    from kiji_mapreduce_spark.io.inputs import read_webdataset

    d = tmp_path / "shards"
    d.mkdir()
    (d / "bad.tar").write_bytes(b"\x1f\x8b\x00TRUNCATED")
    with tarfile.open(d / "good.tar", "w") as tf:
        import io as _io

        data = b"payload"
        ti = tarfile.TarInfo("s1.txt")
        ti.size = len(data)
        tf.addfile(ti, _io.BytesIO(data))
    rows = read_webdataset(spark, [str(d)], lenient=True).collect()
    assert [(r.key, dict(r.sample)) for r in rows] == \
        [("s1", {"txt": b"payload"})]


def test_small_text_files_non_utf8_degrades(spark, tmp_path):
    """One Latin-1 file in the corpus degrades to U+FFFD instead of
    aborting the whole read under the ANSI decode."""
    from kiji_mapreduce_spark.io.inputs import JobInput

    (tmp_path / "ok.txt").write_text("hello", encoding="utf-8")
    (tmp_path / "latin.txt").write_bytes(b"caf\xe9")
    out = {r.path.rsplit("/", 1)[-1]: r.text
           for r in JobInput("small-text-files",
                             [str(tmp_path)]).load(spark).collect()}
    assert out["ok.txt"] == "hello"
    assert out["latin.txt"] == "caf�"


def test_avro_fallback_write_rejects_object_store(spark, tmp_path,
                                                  monkeypatch):
    """Without the jar, a scheme path raises loudly instead of
    os.makedirs-ing a literal local 's3:/bucket' and 'succeeding'."""
    import pytest

    from kiji_mapreduce_spark.io import avro_io

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    with pytest.raises(NotImplementedError, match="local"):
        avro_io._write_avro_fallback(df, "s3://bucket/out")
    # file:// still works (strips to a local path)
    avro_io._write_avro_fallback(df, f"file://{tmp_path}/out")
    import os

    assert os.path.exists(f"{tmp_path}/out/_SUCCESS")


def test_avro_writer_rejects_multibranch_union():
    """The documented [null, T]-only writer contract is enforced: a
    general union raises instead of silently encoding every value as
    the first non-null branch."""
    import json

    import pytest

    from kiji_mapreduce_spark.io import avro_codec

    schema = json.dumps({
        "type": "record", "name": "R",
        "fields": [{"name": "x",
                    "type": ["null", "string", "int"]}]})
    with pytest.raises(ValueError, match="non-null branches"):
        avro_codec.write_container(schema, [{"x": 42}])


def test_avro_decoder_rejects_negative_union_and_enum_index():
    """A corrupt NEGATIVE union/enum index raises the corrupt-data
    error instead of silently wrapping to the last branch/symbol."""
    import json

    import pytest

    from kiji_mapreduce_spark.io import avro_codec

    schema = json.dumps({
        "type": "record", "name": "R",
        "fields": [{"name": "x", "type": ["null", "long"]}]})
    good = avro_codec.write_container(schema, [{"x": 7}], codec="null")
    # the encoded union index 1 (zigzag 0x02) -> -1 (zigzag 0x01):
    # flip the first body byte after the header block prefix
    idx = good.rfind(b"\x02\x0e")  # union idx 1, long 7
    assert idx != -1
    bad = good[:idx] + b"\x01" + good[idx + 1:]
    with pytest.raises(ValueError):
        list(avro_codec.read_container(bad))


def test_collocations_degenerate_corpus_npmi(spark):
    """p_pair == 1 (every adjacent pair is the same bigram) returns
    the Bouma perfect-association limit 1.0 instead of aborting with
    DIVIDE_BY_ZERO under ANSI."""
    from kiji_mapreduce_spark.pipeline import lm

    docs = spark.createDataFrame([(i, "a b") for i in range(4)],
                                 "doc_id long, text string")
    rows = lm.collocations(docs, min_count=2).collect()
    assert len(rows) == 1
    assert rows[0].w1 == "a" and rows[0].w2 == "b"
    assert rows[0].npmi == 1.0


def test_write_warc_round_trip_all_compressions(spark, tmp_path):
    """The WARC sink round-trips through the engine's own reader for
    every compression: per-record members/frames, header fields
    preserved (absent ones come back as ""), deterministic shard
    bytes under replay."""
    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.io.outputs import write_warc

    rows = [
        ("response", "http://w.example.com/a", "2024-01-01T00:00:00Z",
         "<urn:uuid:a>", b"HTTP/1.1 200 OK\r\n\r\n<p>alpha</p>"),
        ("response", "http://w.example.com/b", "2024-01-02T00:00:00Z",
         "<urn:uuid:b>", b"\x00\x01binary body\xff" * 40),
        ("warcinfo", None, "2024-01-03T00:00:00Z",
         "<urn:uuid:c>", b"software: kiji-mr"),
        ("request", "http://w.example.com/a", None,
         "<urn:uuid:d>", None),
    ]
    df = spark.createDataFrame(
        rows, "warc_type string, target_uri string, warc_date string, "
              "record_id string, content binary")
    want = {(t, u or "", d or "", r, bytes(c or b""))
            for t, u, d, r, c in rows}
    for comp in ("gzip", "zstd", "none"):
        out = tmp_path / comp
        manifest = write_warc(df, str(out), compression=comp,
                              n_shards=2)
        assert sum(m["n_records"] for m in manifest) == len(rows)
        got = {(r.warc_type, r.target_uri, r.warc_date, r.record_id,
                bytes(r.content))
               for r in read_warc_records(
                   spark, [str(out)]).collect()}
        assert got == want, comp
        # deterministic replay: identical bytes file-for-file
        before = {m["path"]: open(m["path"], "rb").read()
                  for m in manifest}
        write_warc(df, str(out), compression=comp, n_shards=2)
        for path, blob in before.items():
            assert open(path, "rb").read() == blob, comp


def test_write_warc_zst_closes_index_first_loop(spark, tmp_path):
    """write_warc(zstd) output is immediately seekable by the
    engine's own index-first machinery: cdx-index the written shards,
    fetch ONE record by its byte range, byte-identical — and the
    store-mode frames carry checksums the strict decoder verifies."""
    from kiji_mapreduce_spark.io import zstd_codec
    from kiji_mapreduce_spark.io.inputs import (read_warc_records,
                                                warc_member_index,
                                                warc_records_from_ranges)
    from kiji_mapreduce_spark.io.outputs import write_warc

    df = spark.createDataFrame(
        [("response", f"http://z.example.com/{i}",
          "2024-01-01T00:00:00Z", f"<urn:uuid:{i}>",
          f"HTTP/1.1 200 OK\r\n\r\n<p>page {i}</p>".encode())
         for i in range(6)],
        "warc_type string, target_uri string, warc_date string, "
        "record_id string, content binary")
    out = tmp_path / "zst"
    write_warc(df, str(out), compression="zstd", n_shards=1)

    files = spark.read.format("binaryFile").load(str(out))
    idx = warc_member_index(files)
    rows = idx.collect()
    assert len(rows) == 6
    target = next(r for r in rows
                  if r.target_uri == "http://z.example.com/3")
    one = warc_records_from_ranges(
        spark.createDataFrame(
            [(target.path, target.offset, target.length)],
            "filename string, offset long, length long")).collect()
    assert len(one) == 1
    whole = {r.target_uri: bytes(r.content)
             for r in read_warc_records(spark, [str(out)]).collect()}
    assert bytes(one[0].content) == whole["http://z.example.com/3"]
    # the pointed range is one checksummed frame that decodes with its
    # content checksum verified
    from urllib.parse import urlparse

    with open(urlparse(target.path).path, "rb") as f:
        f.seek(target.offset)
        frame = f.read(target.length)
    assert zstd_codec.decompress(frame)

    # the shard ends with the official seekable-format seek table:
    # footer magic + one (csize, dsize) entry per record frame, and
    # the entries point exactly at the indexed ranges
    import struct as _struct

    blob = open(urlparse(target.path).path, "rb").read()
    assert _struct.unpack("<I", blob[-4:])[0] == 0x8F92EAB1
    n_frames = _struct.unpack("<I", blob[-9:-5])[0]
    assert n_frames == 6
    entries = blob[-9 - 8 * n_frames:-9]
    csizes = [_struct.unpack_from("<II", entries, 8 * i)[0]
              for i in range(n_frames)]
    assert sorted(csizes) == sorted(r.length for r in rows)


def test_cli_warc_pack_reshard_and_index(spark, tmp_path, capsys):
    """kiji-mr warc-pack --from-warc re-shards archives into
    per-record-member files whose records survive byte-identically,
    and cdx-index runs directly on the output (the write side of the
    index-first loop, end to end through the CLI)."""
    import json as _json

    from kiji_mapreduce_spark import cli
    from kiji_mapreduce_spark.io.inputs import read_warc_records

    recs = [_warc_record("response", f"http://p.example.com/{i}",
                         f"HTTP/1.1 200 OK\r\n\r\n<p>pg {i}</p>"
                         .encode(), rid=f"<urn:uuid:{i}>")
            for i in range(4)]
    # one record with headers OUTSIDE the 5-column parse: re-sharding
    # must preserve them byte-for-byte (the r14 review finding — the
    # parsed-then-re-rendered path silently stripped Content-Type,
    # digests, IP, ...)
    extra_body = b"HTTP/1.1 200 OK\r\n\r\n<p>extra</p>"
    recs.append(
        (b"WARC/1.0\r\n"
         b"WARC-Type: response\r\n"
         b"WARC-Record-ID: <urn:uuid:extra>\r\n"
         b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
         b"WARC-Target-URI: http://p.example.com/extra\r\n"
         b"Content-Type: application/http; msgtype=response\r\n"
         b"WARC-Payload-Digest: sha1:FAKEDIGESTFAKEDIGEST\r\n"
         b"WARC-IP-Address: 192.0.2.7\r\n"
         + f"Content-Length: {len(extra_body)}\r\n\r\n".encode()
         + extra_body + b"\r\n\r\n"))
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.warc").write_bytes(b"".join(recs[:3]))
    blob, _ = _cc_warc_gz(recs[3:])
    (src / "b.warc.gz").write_bytes(blob)

    rc = cli.main(["warc-pack", "--from-warc", "--input", str(src),
                   "--output", f"{tmp_path}/packed",
                   "--compression", "zstd", "--n-shards", "2"])
    assert rc == 0
    stats = _json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_records"] == 5 and stats["n_shards"] <= 2

    before = {r.target_uri: bytes(r.content)
              for r in read_warc_records(spark, [str(src)]).collect()}
    after = {r.target_uri: bytes(r.content)
             for r in read_warc_records(
                 spark, [f"{tmp_path}/packed"]).collect()}
    assert after == before

    # raw byte identity: the FULL record bytes — every header
    # included — survive the re-shard verbatim
    from kiji_mapreduce_spark.io.inputs import read_warc_raw

    raw_before = sorted(
        bytes(r.record)
        for r in read_warc_raw(spark, [str(src)]).collect())
    raw_after = sorted(
        bytes(r.record)
        for r in read_warc_raw(spark,
                               [f"{tmp_path}/packed"]).collect())
    assert raw_after == raw_before
    assert any(b"WARC-Payload-Digest: sha1:FAKEDIGEST" in r
               for r in raw_after)

    rc = cli.main(["cdx-index", "--input", f"{tmp_path}/packed",
                   "--output", f"{tmp_path}/cdx"])
    assert rc == 0
    stats = _json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_lines"] == 5


def test_write_warc_hostile_headers_and_big_bodies(spark, tmp_path):
    """Writer hardening: raw CR/LF in header values (a hostile
    crawled 'URI' attempting WARC header injection) percent-encodes
    instead of desyncing the archive; a body over the 128 KiB zstd
    block ceiling spans multiple raw blocks in one frame; unicode
    survives."""
    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.io.outputs import write_warc

    big = bytes(range(256)) * 1200  # 300 KB > one store block
    rows = [
        ("response", "http://evil.example.com/\r\nWARC-Type: fake",
         "2024-01-01T00:00:00Z", "<urn:uuid:inj>", b"body one"),
        ("response", "http://big.example.com/x",
         "2024-01-01T00:00:00Z", "<urn:uuid:big>", big),
        ("response", "http://uni.example.com/café",
         "2024-01-01T00:00:00Z", "<urn:uuid:uni>",
         "café 中文".encode()),
    ]
    df = spark.createDataFrame(
        rows, "warc_type string, target_uri string, warc_date string, "
              "record_id string, content binary")
    for comp in ("gzip", "zstd", "none"):
        out = tmp_path / comp
        write_warc(df, str(out), compression=comp, n_shards=1)
        got = {r.record_id: r
               for r in read_warc_records(
                   spark, [str(out)]).collect()}
        assert len(got) == 3, comp  # injection did NOT split records
        assert got["<urn:uuid:inj>"].target_uri == \
            "http://evil.example.com/%0D%0AWARC-Type: fake"
        assert got["<urn:uuid:inj>"].warc_type == "response"
        assert bytes(got["<urn:uuid:big>"].content) == big
        assert got["<urn:uuid:uni>"].target_uri == \
            "http://uni.example.com/café"
        assert bytes(got["<urn:uuid:uni>"].content) == \
            "café 中文".encode()


def test_write_warc_modes_and_file_uri(spark, tmp_path):
    """r14 review findings: a rerun deriving FEWER shards removes the
    stale shard files (mode='overwrite', the default) instead of
    leaving them to silently re-enter the corpus; mode='error'
    refuses a non-empty shard dir; and Spark's single-slash
    file:/path out_dir spelling lands in the real directory, not a
    literal './file:' one."""
    import pytest as _pytest

    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.io.outputs import write_warc

    def df(n):
        return spark.createDataFrame(
            [("response", f"http://m.example.com/{i}",
              "2024-01-01T00:00:00Z", f"<urn:uuid:{i}>", b"x")
             for i in range(n)],
            "warc_type string, target_uri string, warc_date string, "
            "record_id string, content binary")

    out = tmp_path / "m"
    write_warc(df(40), str(out), n_shards=4)
    assert len(list(out.glob("shard-*.warc.gz"))) == 4
    write_warc(df(2), str(out), n_shards=1)
    assert len(list(out.glob("shard-*.warc.gz"))) == 1  # stale gone
    assert read_warc_records(spark, [str(out)]).count() == 2

    with _pytest.raises(Exception, match="already in"):
        write_warc(df(2), str(out), n_shards=1, mode="error")

    # single-slash file: URI (the form Spark itself emits)
    uri_out = f"file:{tmp_path}/uri_form"
    write_warc(df(3), uri_out, n_shards=1)
    assert (tmp_path / "uri_form" / "shard-000000.warc.gz").exists()
    assert not (tmp_path / "file:").exists()


def test_warc_pack_keep_ids_survivor_loop(spark, tmp_path, capsys):
    """The curated-survivors loop: read_warc_raw mints the SAME
    doc_id as the whole-file crawl ingest (xxhash64(path,
    record_no)), so a curate verdict table filters the raw records
    directly — warc-pack --keep-ids writes ONLY the survivors back,
    byte-identical."""
    import json as _json

    from kiji_mapreduce_spark import cli
    from kiji_mapreduce_spark.io.inputs import (read_warc_raw,
                                                read_warc_records)
    from kiji_mapreduce_spark.pipeline.crawl import crawl_documents

    page = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<p>survivor loop page words here</p>")
    recs = [_warc_record("response", f"http://s.example.com/{i}",
                         page, rid=f"<urn:uuid:{i}>")
            for i in range(6)]
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.warc").write_bytes(b"".join(recs))

    docs = crawl_documents(
        read_warc_records(spark, [str(src)]), spark)
    raw = read_warc_raw(spark, [str(src)])
    # id parity: every crawl doc_id appears among the raw ids
    doc_ids = {r.doc_id for r in docs.collect()}
    raw_ids = {r.doc_id for r in raw.collect()}
    assert doc_ids <= raw_ids and len(doc_ids) == 6

    survivors = docs.filter(
        F.col("url").isin("http://s.example.com/1",
                          "http://s.example.com/4"))
    survivors.select("doc_id").write.mode("overwrite") \
        .parquet(f"{tmp_path}/keep")

    rc = cli.main(["warc-pack", "--from-warc", "--input", str(src),
                   "--keep-ids", f"{tmp_path}/keep",
                   "--output", f"{tmp_path}/kept",
                   "--n-shards", "1"])
    assert rc == 0
    stats = _json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_records"] == 2
    kept = read_warc_records(spark, [f"{tmp_path}/kept"]).collect()
    assert sorted(r.target_uri for r in kept) == [
        "http://s.example.com/1", "http://s.example.com/4"]
