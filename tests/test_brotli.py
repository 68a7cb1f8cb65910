"""Tests for brotli decode through pyarrow's bundled library
(io.brotli_codec)."""

import base64

import pyarrow as pa
import pytest

from kiji_mapreduce_spark.io import brotli_codec

#: reference-encoded (libbrotlienc q9) fixture for the page below
PAGE = b"<p>a brotli page with enough words to keep around</p>"
PAGE_BR = base64.b64decode(
    "GzQAAMRtbF3Haxxp/ToRBEkEG3DgUrTYRgPjsDF2ruA41kt5IG9/Gop60IpJAFuk"
    "5R3eKU0O")


def test_decode_fixture_and_error_surface():
    assert brotli_codec.decompress(PAGE_BR) == PAGE
    for bad in (PAGE_BR[:8], PAGE_BR + b"x", b"\xff\xff\xffgarbage",
                b""):
        with pytest.raises(ValueError):
            brotli_codec.decompress(bad)
    with pytest.raises(ValueError, match="ceiling"):
        brotli_codec.decompress(PAGE_BR, max_output=10)


def test_round_trips_via_system_encoder():
    """Round-trips through pyarrow's brotli encoder at q1-11."""
    import os
    import random

    random.seed(7)
    for trial in range(20):
        n = random.randint(0, 30000)
        kind = trial % 3
        if kind == 0:
            data = os.urandom(n // 4)
        elif kind == 1:
            data = (b"tile " * (n // 5 + 1))[:n]
        else:
            data = bytes(random.randrange(7) for _ in range(n))
        for q in (1, 5, 9, 11):
            enc = pa.Codec("brotli", compression_level=q).compress(
                data, asbytes=True)
            assert brotli_codec.decompress(enc) == data


def test_http_br_body_decodes(spark, tmp_path):
    """content-encoding: br pages become documents end-to-end;
    corrupt br bodies still reject-and-count."""
    from kiji_mapreduce_spark.io.inputs import (_decode_http_payload,
                                                read_warc_records)
    from kiji_mapreduce_spark.pipeline.crawl import (crawl_documents,
                                                     encoding_rejects)
    from tests.test_io import _warc_record

    body = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: br\r\n\r\n" + PAGE_BR)
    out = _decode_http_payload(body)
    assert out.endswith(b"\r\n\r\n" + PAGE)

    recs = (_warc_record("response", "http://br.example.com/ok",
                         body)
            + _warc_record("response", "http://br.example.com/corrupt",
                           b"HTTP/1.1 200 OK\r\n"
                           b"Content-Encoding: br\r\n\r\n"
                           + bytes((i * 37 + 101) % 256
                                   for i in range(400))))
    d = tmp_path / "brwarc2"
    d.mkdir()
    (d / "a.warc").write_bytes(recs)
    records = read_warc_records(spark, [str(d)])
    docs = crawl_documents(records, spark)
    assert {r.url for r in docs.collect()} == {"http://br.example.com/ok"}
    rej = {r.content_encoding: r.n_rejected
           for r in encoding_rejects(records).collect()}
    assert rej == {"br": 1}

