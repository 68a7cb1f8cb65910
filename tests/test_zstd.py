"""Tests for the zstd codec (io.zstd_codec): ``decompress`` over
pyarrow's bundled libzstd, the header-only ``frame_spans`` walk, the
store-mode encoder, and the ingest paths that decode zstd.

Fixture strategy: the committed frames below were generated once with
the REFERENCE implementation (`zstd` CLI, v1.5.7) over inputs this file
re-derives deterministically, so correctness is always judged against
reference-encoder output even when no zstd binary is present. When the
CLI IS available, a randomized round-trip cross-check runs too (the
codec-parity pattern PIL plays for the image codecs). The hand-built
hostile frames below target stages of an entropy decoder; each must
still raise ValueError, with libzstd's reason in the message.
"""

import base64
import hashlib
import io
import shutil
import struct
import subprocess
import tarfile

import pytest

from kiji_mapreduce_spark.io import zstd_codec

_HAVE_CLI = shutil.which("zstd") is not None

#: reference frames: name -> (expected plaintext builder, b64 frame)
FIXTURES = {
    "text_l3": (
        lambda: ("the quick brown fox jumps over the lazy dog. "
                 * 120).encode(),
        "KLUv/QRYxQEAxAJ0aGUgcXVpY2sgYnJvd24gZm94IGp1bXBzIG92ZXIgdGhlIG"
        "xhenkgZG9nLgIA5ARVBwxhlgHqUhqE"),
    "text_l19": (
        lambda: ("the quick brown fox jumps over the lazy dog. "
                 * 120).encode(),
        "KLUv/QRotQEA1AJ0aGUgcXVpY2sgYnJvd24gZm94IGp1bXBzIG92ZXIgdGhlIG"
        "xhenkgZG9nLiABAEUn2Ksy6lIahA=="),
    "periodic_l1": (
        lambda: bytes(range(256)) * 40,
        "KLUv/QRIVQgABBAAAQIDBAUGBwgJCgsMDQ4PEBESExQVFhcYGRobHB0eHyAhIi"
        "MkJSYnKCkqKywtLi8wMTIzNDU2Nzg5Ojs8PT4/QEFCQ0RFRkdISUpLTE1OT1BR"
        "UlNUVVZXWFlaW1xdXl9gYWJjZGVmZ2hpamtsbW5vcHFyc3R1dnd4eXp7fH1+f4"
        "CBgoOEhYaHiImKi4yNjo+QkZKTlJWWl5iZmpucnZ6foKGio6SlpqeoqaqrrK2u"
        "r7CxsrO0tba3uLm6u7y9vr/AwcLDxMXGx8jJysvMzc7P0NHS09TV1tfY2drb3N"
        "3e3+Dh4uPk5ebn6Onq6+zt7u/w8fLz9PX29/j5+vv8/f7/AQAA/WaAX1Pi23B5"),
    "lowent_l9_nocheck": (
        lambda: bytes(i % 7 for i in range(20000)),
        "KLUv/QBgfQAAOAABAgMEBQYBABaO9mIE"),
    "empty_l3": (lambda: b"", "KLUv/SQAAQAAmenYUQ=="),
    "one_l1": (lambda: b"Z", "KLUv/QRICQAAWgtXNV8="),
}

#: tar.zst shard (reference-encoded): members re-declared in the test
TAR_ZST = base64.b64decode(
    "KLUv/QRYDQYAcgggHbAydQCzU+kgAf0H/Qf9B/Yjt7RNuPvX////T5UBtJksBnu5"
    "WqYtyVHss8KVKoU6mUqkkSgE+oCeDmejyWAulgplIolAHo4GY6FIIA6GAmEgCAD4"
    "3SoODcerprr1puhoS/E/13Y28Lzxcue5d17fygfZlje7//8kaf+f7++G/T8YIHCD"
    "qKA8jYseOKgTcAD0Us0Y1XDtAY5l+at9r9ICEMaYipvZH0Ca51WETAqIt6UGoBOv"
    "ifCNJI5dBqd8BM4NC1Q=")


def test_reference_fixtures_decode():
    for name, (builder, b64) in FIXTURES.items():
        frame = base64.b64decode(b64)
        out = zstd_codec.decompress(frame)
        assert out == builder(), name


def test_large_reference_fixture_mixed_entropy():
    """A bigger frame exercising FSE-compressed sequence tables and
    multi-stream Huffman literals (sha256 output is incompressible
    enough to force varied block shapes)."""
    if not _HAVE_CLI:
        pytest.skip("zstd CLI not present")
    data = b"".join(hashlib.sha256(bytes([i % 256])).digest()
                    for i in range(300))
    frame = subprocess.run(["zstd", "-5", "-c"], input=data,
                           capture_output=True, check=True).stdout
    assert zstd_codec.decompress(frame) == data


def test_multi_frame_and_skippable():
    a = base64.b64decode(FIXTURES["one_l1"][1])
    b = base64.b64decode(FIXTURES["empty_l3"][1])
    skip = struct.pack("<II", 0x184D2A53, 5) + b"extra"
    out = zstd_codec.decompress(a + skip + b + a)
    assert out == b"ZZ"


def test_bomb_gate_fires_mid_decode():
    frame = base64.b64decode(FIXTURES["periodic_l1"][1])  # 10240 bytes
    with pytest.raises(ValueError, match="ceiling"):
        zstd_codec.decompress(frame, max_output=1000)


def test_dictionary_frames_rejected():
    # frame header with Dictionary_ID_flag set: loud refusal, never a
    # silent wrong decode
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0x01, 0x00, 0x07])
    with pytest.raises(ValueError, match="Dictionary mismatch"):
        zstd_codec.decompress(frame + b"\x00" * 8)


def test_corrupt_inputs_raise_valueerror_only():
    frame = bytearray(base64.b64decode(FIXTURES["text_l3"][1]))
    for cut in range(len(frame)):
        try:
            zstd_codec.decompress(bytes(frame[:cut]))
        except ValueError:
            pass
    for i in range(len(frame)):
        mut = bytearray(frame)
        mut[i] ^= 0x41
        try:
            zstd_codec.decompress(bytes(mut), max_output=1 << 20)
        except ValueError:
            pass


@pytest.mark.skipif(not _HAVE_CLI, reason="zstd CLI not present")
def test_cli_round_trips():
    """Cross-check against the reference encoder over varied shapes
    and levels — checksums verified, so the XXH64 implementation is on
    the hook too."""
    import random

    random.seed(20260815)
    for trial in range(40):
        size = random.randint(0, 40000)
        kind = trial % 4
        if kind == 0:
            data = bytes(random.randrange(256)
                         for _ in range(min(size, 2000)))
        elif kind == 1:
            w = bytes(random.randrange(256)
                      for _ in range(random.randint(1, 40)))
            data = (w * (size // max(len(w), 1) + 1))[:size]
        elif kind == 2:
            data = b" ".join(
                random.choice([b"the", b"cat", b"sat", b"<p>", b"01"])
                for _ in range(size // 4))
        else:
            data = bytes(random.randrange(5) for _ in range(size))
        lvl = random.choice(["-1", "-3", "-9", "-19"])
        frame = subprocess.run(["zstd", lvl, "-c"], input=data,
                               capture_output=True, check=True).stdout
        assert zstd_codec.decompress(frame) == data, trial


def _frame_ll0_rep2():
    """Hand-built minimal frame: zero literals, one sequence with
    ll=0 whose offset resolves through Repeated_Offset2 (initial 4) —
    standalone it is corrupt (offset 4 into empty output)."""
    lit = b"\x00"  # raw literals, regen 0
    # nbseq=1; modes: LL/OF/ML all RLE; RLE symbols 0,0,0; bitstream =
    # sentinel only (all tables are zero-bit)
    body = lit + b"\x01\x54\x00\x00\x00\x01"
    bh = (len(body) << 3) | (2 << 1) | 1
    return (struct.pack("<I", 0xFD2FB528) + b"\x00\x70"
            + struct.pack("<I", bh)[:3] + body)


def test_match_offsets_cannot_cross_frames():
    """RFC 8878 frames are independent: a match may not reach into the
    previous frame's output. Review-confirmed r12 bug: the offset was
    checked against the GLOBAL buffer, so frame1 + corrupt frame2
    'decoded' 3 cross-frame bytes where the reference decoder rejects
    the stream as corruption."""
    bad = _frame_ll0_rep2()
    with pytest.raises(ValueError, match="Data corruption detected"):
        zstd_codec.decompress(bad)
    good_first = base64.b64decode(FIXTURES["text_l3"][1])
    with pytest.raises(ValueError, match="Data corruption detected"):
        zstd_codec.decompress(good_first + bad)


def test_skippable_only_stream_is_empty():
    """A stream of only skippable frames decodes to b'' (the reference
    accepts it), so is_zstd and decompress cannot disagree — and a
    .tar.zst led by a skippable metadata frame still routes into the
    zstd branch of the tar iterator."""
    from kiji_mapreduce_spark.io.inputs import _iter_tar_members

    skip = struct.pack("<II", 0x184D2A50, 3) + b"abc"
    assert zstd_codec.decompress(skip) == b""
    assert zstd_codec.is_zstd(skip)
    members = list(_iter_tar_members(skip + TAR_ZST, "s.tar.zst",
                                     False))
    assert [n for n, _, _ in members] == ["0001.txt", "0002.txt",
                                          "0003.bin"]


@pytest.mark.skipif(not _HAVE_CLI, reason="zstd CLI not present")
def test_differential_accept_reject_vs_reference():
    """Behavioral parity under mutation: for bit-flipped/truncated
    reference frames, whenever BOTH decoders accept, the outputs must
    match byte-for-byte; and this decoder must never accept what the
    reference rejects WITH a different output than some accepted case
    — i.e. no silent wrong decodes."""
    import random

    random.seed(99)
    data = b"differential fuzz target text " * 150
    frame = subprocess.run(["zstd", "-3", "-c"], input=data,
                           capture_output=True, check=True).stdout
    divergent = []
    for trial in range(200):
        blob = bytearray(frame)
        if trial % 2:
            blob = blob[:random.randrange(len(blob))]
        else:
            for _ in range(random.randint(1, 4)):
                blob[random.randrange(len(blob))] ^= \
                    1 << random.randrange(8)
        blob = bytes(blob)
        ref = subprocess.run(["zstd", "-d", "-c"], input=blob,
                             capture_output=True)
        try:
            mine = zstd_codec.decompress(blob, max_output=1 << 22)
        except ValueError:
            mine = None
        if ref.returncode == 0 and mine is not None \
                and ref.stdout != mine:
            divergent.append(trial)
    assert not divergent, divergent


def test_http_zstd_body_decodes(monkeypatch):
    """The HTTP payload normalizer inflates Content-Encoding: zstd via
    libzstd and strips the stale headers — the gzip contract extended
    to the web's next compression: no compressed-size gate, only the
    ``_MAX_INFLATE`` decoded-size ceiling."""
    from kiji_mapreduce_spark.io import inputs as inputs_mod
    from kiji_mapreduce_spark.io.inputs import _decode_http_payload

    page = FIXTURES["text_l3"][0]()
    frame = base64.b64decode(FIXTURES["text_l3"][1])
    body = (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
            b"Content-Encoding: zstd\r\n\r\n" + frame)
    out = _decode_http_payload(body)
    assert out.endswith(b"\r\n\r\n" + page)
    assert b"content-encoding" not in out.lower().split(b"\r\n\r\n")[0]
    # corrupt frame: lenient passthrough, untouched
    bad = body[:-10] + b"corruption"
    assert _decode_http_payload(bad) == bad
    # a body over 8 MiB COMPRESSED still inflates (store-mode frames
    # are as large as their content)
    text = b"large page words " * ((9 << 20) // 17)
    big = (b"HTTP/1.1 200 OK\r\nContent-Encoding: zstd\r\n\r\n"
           + zstd_codec.compress_store(text))
    assert len(big) > 8 << 20
    assert _decode_http_payload(big).endswith(b"\r\n\r\n" + text)
    # a bomb (a ~1 KB frame of 128 KiB RLE blocks) stops at the
    # decoded-size ceiling, shrunk here to keep the test small, and is
    # left encoded for the crawl gate to reject-and-count
    monkeypatch.setattr(inputs_mod, "_MAX_INFLATE", 1 << 20)
    rle = _block(1, b"x", last=0, bsize=1 << 17)
    bomb_frame = _frame(rle * 256 + _block(0, b""), window=0x38)
    with pytest.raises(ValueError, match="ceiling"):
        zstd_codec.decompress(bomb_frame, max_output=1 << 20)
    bomb = (b"HTTP/1.1 200 OK\r\nContent-Encoding: zstd\r\n\r\n"
            + bomb_frame)
    assert _decode_http_payload(bomb) == bomb


def test_ingest_verifies_zstd_checksums():
    """A store-mode frame with one flipped payload byte keeps valid
    structure; only its XXH64 content checksum catches the flip. Every
    ingest path refuses it: the range fetch, the .warc.zst frame
    loop and the strict tar reader raise, and the HTTP normalizer
    leaves the body encoded."""
    from kiji_mapreduce_spark.io.inputs import (_decode_http_payload,
                                                _inflate_range,
                                                _iter_tar_members,
                                                _zst_data_frames)
    from tests.test_io import _warc_record

    def flipped(data: bytes, marker: bytes) -> bytes:
        frame = bytearray(zstd_codec.compress_store(data))
        frame[frame.index(marker)] ^= 0x01
        return bytes(frame)

    rec = _warc_record("response", "http://c.example.com/",
                       b"HTTP/1.1 200 OK\r\n\r\nchecksummed page")
    good = zstd_codec.compress_store(rec)
    assert _inflate_range(good, "t") == rec
    bad = flipped(rec, b"checksummed")
    with pytest.raises(ValueError, match="checksum"):
        _inflate_range(bad, "t")
    with pytest.raises(ValueError, match="checksum"):
        list(_zst_data_frames(bad, "t.warc.zst"))

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        payload = b"checksummed member"
        info = tarfile.TarInfo("0001.txt")
        info.size = len(payload)
        tf.addfile(info, io.BytesIO(payload))
    with pytest.raises(ValueError, match="checksum"):
        list(_iter_tar_members(flipped(buf.getvalue(), b"checksummed"),
                               "s.tar.zst", False))

    body = b"HTTP/1.1 200 OK\r\nContent-Encoding: zstd\r\n\r\n"
    assert _decode_http_payload(body + good).endswith(rec)
    assert _decode_http_payload(body + bad) == body + bad


def test_tar_zst_shard_members():
    """.tar.zst shards walk through the same member iterator as
    gz/bz2/xz — the WebDataset/HF-datasets shard compression."""
    from kiji_mapreduce_spark.io.inputs import _iter_tar_members

    members = list(_iter_tar_members(TAR_ZST, "s.tar.zst", False))
    assert [(n, s) for n, s, _ in members] == [
        ("0001.txt", 9), ("0002.txt", 13), ("0003.bin", 64)]
    assert members[0][2] == b"alpha doc"
    assert members[1][2] == b"beta document"
    assert members[2][2] == bytes(range(64))
    # truncated inside the zstd frame: lenient empty, strict ValueError
    cut = TAR_ZST[:40]
    assert list(_iter_tar_members(cut, "s.tar.zst", True)) == []
    with pytest.raises(ValueError):
        list(_iter_tar_members(cut, "s.tar.zst", False))


def test_crawl_gate_zstd_semantics(spark, tmp_path):
    """End-to-end through the crawl ingest: a zstd page becomes a
    document (not a reject), a mislabeled-identity 'zstd' body is kept
    by the sniff, and a corrupt zstd body is rejected and counted."""
    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline.crawl import (crawl_documents,
                                                     encoding_rejects)
    from tests.test_io import _warc_record

    frame = base64.b64decode(FIXTURES["text_l3"][1])

    def resp(extra, payload):
        return (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                + extra + b"\r\n" + payload)

    recs = (
        _warc_record("response", "http://zst.example.com/ok",
                     resp(b"Content-Encoding: zstd\r\n", frame))
        + _warc_record("response", "http://zst.example.com/liar",
                       resp(b"Content-Encoding: zstd\r\n",
                            b"plain text a misconfigured server "
                            b"labeled zstd"))
        + _warc_record("response", "http://zst.example.com/corrupt",
                       resp(b"Content-Encoding: zstd\r\n",
                            frame[:20] + bytes(300))))
    d = tmp_path / "zstwarc"
    d.mkdir()
    (d / "a.warc").write_bytes(recs)
    records = read_warc_records(spark, [str(d)])
    urls = {r.url for r in crawl_documents(records, spark).collect()}
    assert urls == {"http://zst.example.com/ok",
                    "http://zst.example.com/liar"}
    rej = {r.content_encoding: r.n_rejected
           for r in encoding_rejects(records).collect()}
    assert rej == {"zstd": 1}


def _store_frame(data: bytes) -> bytes:
    """Hand-built store-mode zstd frame (single-segment, raw blocks)
    — lets the test synthesize .warc.zst without an encoder."""
    out = bytearray(b"\x28\xb5\x2f\xfd")
    if len(data) < 256:
        out.append(0x20)  # single-segment, 1-byte FCS
        out.append(len(data))
    else:
        out.append(0x60)  # single-segment, 2-byte FCS (size - 256)
        out += (len(data) - 256).to_bytes(2, "little")
    out += ((len(data) << 3) | 1).to_bytes(3, "little")  # raw, last
    out += data
    return bytes(out)


def test_warc_zst_records(spark, tmp_path):
    """.warc.zst archives parse through the same WARC framer as .gz:
    records come back identically, a truncated frame is lenient-empty
    / strict-loud, and the crawl chain ingests the documents."""
    from kiji_mapreduce_spark.io.inputs import read_warc_records
    from kiji_mapreduce_spark.pipeline.crawl import crawl_documents
    from tests.test_io import _warc_record

    page = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<p>zstandard compressed archive page words</p>")
    warc = (_warc_record("response", "http://z.example.com/1", page)
            + _warc_record("response", "http://z.example.com/2", page))
    d = tmp_path / "zwarc"
    d.mkdir()
    (d / "a.warc.zst").write_bytes(_store_frame(warc))

    records = read_warc_records(spark, [str(d)])
    rows = records.collect()
    assert len(rows) == 2
    assert {r.target_uri for r in rows} == {"http://z.example.com/1",
                                            "http://z.example.com/2"}
    docs = crawl_documents(records, spark)
    assert docs.count() == 2

    # cut inside the zstd frame: lenient keeps nothing (all-or-
    # nothing decompression), strict raises
    (d / "a.warc.zst").write_bytes(_store_frame(warc)[:30])
    assert read_warc_records(spark, [str(d)], lenient=True).count() == 0
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_warc_records(spark, [str(d)]).collect()


def _frame(body: bytes, fhd: int = 0x00, window: int = 0x00,
           fcs: bytes = b"") -> bytes:
    """Assemble a zstd frame from parts: magic, frame-header
    descriptor, window descriptor (when not single-segment), optional
    frame-content-size bytes, then raw block bytes."""
    head = struct.pack("<I", 0xFD2FB528) + bytes([fhd])
    if not fhd & 0x20:
        head += bytes([window])
    return head + fcs + body


def _block(btype: int, payload: bytes, last: int = 1,
           bsize: int | None = None) -> bytes:
    if bsize is None:
        bsize = len(payload)
    bh = last | (btype << 1) | (bsize << 3)
    return bh.to_bytes(3, "little") + payload


def test_adversarial_fse_accuracy_log():
    """r12 verdict #5: FSE accuracy-log edges pinned. A sequences
    section whose LL table declares accuracy_log 15 (> the spec max 9
    for literal lengths) must ValueError at the table read, before any
    table allocation; the same nibble at the Huffman-weight FSE seam
    (max 6) must too."""
    # compressed block: raw literal 'A' (header 0x08), n_seq=1,
    # modes byte LL=FSE_Compressed, then the hostile ncount whose
    # first 4 bits are 15 -> accuracy_log = 20
    blk = bytes([0x08, ord("A"), 0x01, 0x80, 0x0F])
    frame = _frame(_block(2, blk))
    with pytest.raises(ValueError, match="Data corruption detected"):
        zstd_codec.decompress(frame)

    # Huffman weights via FSE: header byte < 128 is the compressed
    # size; give it the same hostile ncount (max_log there is 6)
    lit_hdr = (2 | (0 << 2) | (1 << 4) | (2 << 14)).to_bytes(3, "little")
    blk2 = lit_hdr + bytes([0x02, 0x0F]) + bytes([0x00])
    frame2 = _frame(_block(2, blk2))
    with pytest.raises(ValueError, match="Data corruption detected"):
        zstd_codec.decompress(frame2)


def test_adversarial_huffman_weights():
    """Huffman weight-overflow edges: a single weight of 15 forces
    table_log 15 (> the 11-bit ceiling); weights {3,1} leave a
    non-power-of-two remainder (not completable); an all-zero weight
    list is an empty tree. Each is ValueError, never a wrong table."""
    def lit_compressed(section: bytes, regen: int = 4) -> bytes:
        h = 2 | (0 << 2) | (regen << 4) | (len(section) << 14)
        return h.to_bytes(3, "little") + section

    cases = [
        (bytes([128, 0xF0]), "Data corruption detected"),
        (bytes([129, 0x31]), "Data corruption detected"),
        (bytes([129, 0x00]), "Data corruption detected"),
    ]
    for desc, msg in cases:
        blk = lit_compressed(desc + b"\x01")
        with pytest.raises(ValueError, match=msg):
            zstd_codec.decompress(_frame(_block(2, blk)))


def test_adversarial_window_and_size_bombs():
    """Window/size bombs cannot allocate: a 0xFF window descriptor
    (~3.75 TB declared window) on a 5-byte raw-block frame is refused
    — as the zstd CLI refuses it — a declared 8-byte
    frame-content-size of 2^40 allocates nothing up front, and the
    output ceiling fires on the FIRST block that crosses it."""
    huge_window = _frame(_block(0, b"hello"), window=0xFF)
    with pytest.raises(ValueError, match="too much memory"):
        zstd_codec.decompress(huge_window)
    if _HAVE_CLI:
        ref = subprocess.run(["zstd", "-d", "-c"], input=huge_window,
                             capture_output=True)
        assert ref.returncode != 0

    # fcs_size=8 (fhd>>6 == 3), declared 1 TiB; first RLE block then
    # trips the caller's ceiling before materializing anything close.
    # With a 1 KiB window (descriptor 0x00) the 128 KiB block is
    # itself over the block maximum, so it is rejected as corrupt;
    # with a 128 KiB window (0x38) it is legal and the ceiling fires
    fcs = (1 << 40).to_bytes(8, "little")
    rle_max = _block(1, b"x", last=0, bsize=1 << 17)
    bomb = _frame(rle_max + _block(0, b""), fhd=0xC0, fcs=fcs)
    with pytest.raises(ValueError, match="Data corruption detected"):
        zstd_codec.decompress(bomb, max_output=1 << 16)
    bomb = _frame(rle_max + _block(0, b""), fhd=0xC0, fcs=fcs,
                  window=0x38)
    with pytest.raises(ValueError, match="ceiling"):
        zstd_codec.decompress(bomb, max_output=1 << 16)

    # a raw-literals header declaring over Block_Maximum_Size
    h5 = (0 | (3 << 2)).to_bytes(1, "little") \
        + (0xFFFF).to_bytes(2, "little")
    blk = bytes([h5[0] | 0xF0]) + b"\xff\xff\xff\xff"
    with pytest.raises(ValueError):
        zstd_codec.decompress(_frame(_block(2, blk)))


def test_explicit_zero_dictionary_id_decodes():
    """RFC 8878 §3.1.1.1.3: an explicit Dictionary_ID field with value
    0 means 'no dictionary' — such frames are self-contained and the
    reference decoder accepts them (verified differentially in review),
    so this decoder must too."""
    name, b64 = FIXTURES["text_l3"]
    frame = bytearray(base64.b64decode(b64))
    want = zstd_codec.decompress(bytes(frame))
    fhd = frame[4]
    assert fhd & 0x03 == 0  # fixture has no DID field
    frame[4] = fhd | 0x01   # 1-byte Dictionary_ID
    insert_at = 5 + (0 if fhd & 0x20 else 1)  # after window descriptor
    patched = bytes(frame[:insert_at]) + b"\x00" + bytes(frame[insert_at:])
    assert zstd_codec.decompress(patched) == want
    # a REAL dictionary reference still refuses loudly
    patched7 = bytes(frame[:insert_at]) + b"\x07" + bytes(frame[insert_at:])
    with pytest.raises(ValueError, match="Dictionary mismatch"):
        zstd_codec.decompress(patched7)


def test_raw_and_compressed_blocks_over_maximum_rejected():
    """Block_Maximum_Size (128 KiB) applies to Raw and Compressed
    blocks, not just RLE — the reference decoder rejects oversize
    blocks, so decoding them would diverge on validity."""
    magic = struct.pack("<I", 0xFD2FB528)
    for btype in (0, 2):
        bh = ((1 << 20) << 3) | (btype << 1) | 1  # 1 MiB, last block
        frame = (magic + bytes([0x00, 0x00])      # fhd, window desc
                 + bh.to_bytes(3, "little") + b"\x00" * 16)
        with pytest.raises(ValueError, match="Data corruption detected"):
            zstd_codec.decompress(frame)


def test_frame_spans_fixture_coverage():
    """frame_spans boundaries tile the input exactly and per-span
    decompression reproduces the whole-stream decode — over every
    reference fixture, concatenations of them, and interleaved
    skippable frames (the seam warc_member_index stands on)."""
    skip = struct.pack("<II", 0x184D2A50, 3) + b"xyz"
    streams = [base64.b64decode(b64) for _, b64 in FIXTURES.values()]
    streams.append(b"".join(streams))
    streams.append(skip + streams[0] + skip + streams[1] + skip)
    for stream in streams:
        spans = list(zstd_codec.frame_spans(stream))
        assert spans[0][0] == 0 and spans[-1][1] == len(stream)
        assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
        got = b"".join(
            zstd_codec.decompress(stream[s:e])
            for s, e, skippable in spans if not skippable)
        assert got == zstd_codec.decompress(stream)


def test_frame_spans_mutation_parity():
    """No silent mis-slice: for bit-flipped/truncated streams, the
    span walk + per-span decode must agree with the whole-stream
    decoder — same bytes when both accept, and whenever the whole
    stream is rejected, the walk or some span's decode rejects too
    (frame_spans validates only sizing; everything else fails in
    decompress on the span)."""
    import os
    import random

    random.seed(20260816)
    base = (struct.pack("<II", 0x184D2A50, 2) + b"md"
            + base64.b64decode(FIXTURES["text_l3"][1])
            + base64.b64decode(FIXTURES["periodic_l1"][1]))
    trials = 300 * int(os.environ.get("KIJI_FUZZ_MULT", "1"))
    for trial in range(trials):
        blob = bytearray(base)
        if trial % 2:
            blob = blob[:random.randrange(len(blob))]
        else:
            for _ in range(random.randint(1, 4)):
                blob[random.randrange(len(blob))] ^= \
                    1 << random.randrange(8)
        blob = bytes(blob)
        try:
            whole = zstd_codec.decompress(blob, max_output=1 << 22)
        except ValueError:
            whole = None
        try:
            parts = b"".join(
                zstd_codec.decompress(blob[s:e], max_output=1 << 22)
                for s, e, skippable
                in zstd_codec.frame_spans(blob) if not skippable)
        except ValueError:
            parts = None
        assert parts == whole, trial


def test_warc_zst_cumulative_output_gate(monkeypatch):
    """Frame-by-frame decode keeps the ARCHIVE-level bomb gate: many
    under-the-per-frame-cap frames must trip the cumulative ceiling
    (r14 review finding — the per-frame rewrite had silently dropped
    the total bound), and the read and index loops share one decode
    path so both stop at the same frame."""
    from kiji_mapreduce_spark.io import inputs

    frame = _store_frame(b"x" * 1000)
    blob = frame * 5
    monkeypatch.setattr(inputs, "_MAX_ZSTD_ARCHIVE_OUT", 2500)
    out = []
    with pytest.raises(ValueError, match="ceiling|corrupt"):
        for _off, _ln, data in inputs._zst_data_frames(blob, "t"):
            out.append(len(data))
    assert out == [1000, 1000]  # frame 3 would cross 2500
    # lenient read keeps exactly those two frames' records: the
    # member walk (index path) is the same generator, so the
    # agreement holds by construction
    kept = list(inputs._walk_zst_members(blob[:len(frame) * 2], "t"))
    assert [len(d) for _o, _l, d in kept] == [1000, 1000]
