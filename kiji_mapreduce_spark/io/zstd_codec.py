"""Zstandard (RFC 8878) frames: decode through pyarrow's libzstd,
plus the header-only frame walk and the store-mode encoder behind the
seekable ``.warc.zst`` layout.

Why it exists: real crawls carry ``Content-Encoding: zstd`` responses
and training shards ship as ``.tar.zst``. pyarrow (a declared
dependency) bundles libzstd, so ``decompress`` is a thin wrapper over
``pa.input_stream(..., compression="zstd")``: C-speed decode with
content-checksum verification, concatenated frames and skippable
frames handled by the library. Callers therefore gate OUTPUT only —
``max_output`` is the bomb gate (the ``_inflate_http_body`` twin) — and
put no ceiling on compressed input, the same rule as gzip/bz2/xz.

What stays in-repo is what libzstd's streaming API does not expose:
``frame_spans`` (frame boundaries without decoding, the per-frame
member walk of a ``.warc.zst``), ``compress_store`` (byte-stable
store-mode frames) and ``seek_table`` (the seekable-format footer).

Error surface: ``ValueError`` for ANY malformed input — the corrupt-
data contract shared with ``avro_codec``/``media_codecs`` (fuzz-pinned
in tests/test_properties.py), so lenient callers catch one class.
"""

from __future__ import annotations

import struct

_FRAME_MAGIC = 0xFD2FB528
_SKIPPABLE_LO = 0x184D2A50
_SKIPPABLE_HI = 0x184D2A5F

_BLOCK_MAX = 1 << 17  # Block_Maximum_Size ceiling (128 KiB)

#: decode in slices of this size, so the output ceiling is checked
#: between reads instead of reserving ``max_output`` up front
_READ_CHUNK = 1 << 20


def _xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 (the public xxHash spec) — zstd's content checksum."""
    m = (1 << 64) - 1
    p1, p2, p3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, \
        0x165667B19E3779F9
    p4, p5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & m

    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + p1 + p2) & m, (seed + p2) & m, seed,
             (seed - p1) & m]
        while i + 32 <= n:
            for j in range(4):
                (lane,) = struct.unpack_from("<Q", data, i + 8 * j)
                v[j] = (rotl((v[j] + lane * p2) & m, 31) * p1) & m
            i += 32
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12)
             + rotl(v[3], 18)) & m
        for j in range(4):
            h = ((h ^ (rotl((v[j] * p2) & m, 31) * p1) & m)
                 * p1 + p4) & m
    else:
        h = (seed + p5) & m
    h = (h + n) & m
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (rotl(h ^ (rotl((lane * p2) & m, 31) * p1) & m, 27)
             * p1 + p4) & m
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (rotl(h ^ (lane * p1) & m, 23) * p2 + p3) & m
        i += 4
    while i < n:
        h = (rotl(h ^ (data[i] * p5) & m, 11) * p1) & m
        i += 1
    h = ((h ^ (h >> 33)) * p2) & m
    h = ((h ^ (h >> 29)) * p3) & m
    return h ^ (h >> 32)


def _data_frame_header(data: bytes, pos: int):
    """Size a data-frame header starting AFTER the magic: returns
    (pos_past_header, has_checksum). The RFC 8878 §3.1.1.1 size
    arithmetic (did_size/fcs_size tables, the single-segment
    1-byte-FCS special case, the window-descriptor byte); field
    validation is libzstd's, in ``decompress``."""
    if pos >= len(data):
        raise ValueError("zstd: truncated frame header")
    fhd = data[pos]
    single = bool(fhd & 0x20)
    fcs_size = (0, 2, 4, 8)[fhd >> 6]
    if fhd >> 6 == 0 and single:
        fcs_size = 1
    pos += 1 + (0 if single else 1) + (0, 1, 2, 4)[fhd & 3] + fcs_size
    if pos > len(data):
        raise ValueError("zstd: truncated frame header")
    return pos, bool(fhd & 0x04)


def _block_header(data: bytes, pos: int):
    """Decode one 3-byte block header: returns (pos_past_header,
    last, btype, bsize); rejects the reserved block type."""
    if pos + 3 > len(data):
        raise ValueError("zstd: truncated block header")
    bh = int.from_bytes(data[pos:pos + 3], "little")
    last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
    if btype == 3:
        raise ValueError("zstd: reserved block type")
    return pos + 3, last, btype, bsize


def decompress(data: bytes, max_output: int = 1 << 28) -> bytes:
    """Decode a (possibly multi-frame) zstd stream -> bytes.

    Raises ``ValueError`` on any malformation (libzstd's reason in the
    message), on checksum mismatch, on dictionary-requiring frames, and
    the moment decoded output would exceed ``max_output`` (at most
    ``max_output + 1`` bytes are ever decoded)."""
    return arrow_decompress(data, "zstd", max_output)


def arrow_decompress(data: bytes, compression: str,
                     max_output: int) -> bytes:
    """Decode ``data`` through pyarrow's bundled ``compression`` library
    (``"zstd"`` here, ``"brotli"`` in ``brotli_codec``) in
    ``_READ_CHUNK`` slices, raising ``ValueError`` on empty input, on
    any library error, and once output would exceed ``max_output``."""
    import pyarrow as pa

    if not data:
        raise ValueError(f"{compression}: empty input")
    chunks, total = [], 0
    try:
        with pa.input_stream(pa.py_buffer(data),
                             compression=compression) as src:
            while chunk := src.read(
                    min(_READ_CHUNK, max_output + 1 - total)):
                total += len(chunk)
                if total > max_output:
                    raise ValueError(
                        f"{compression}: output over the caller's "
                        "ceiling")
                chunks.append(chunk)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"{compression}: {e}") from e
    return b"".join(chunks)


def is_zstd(data: bytes) -> bool:
    """Cheap magic probe (zstd frame or skippable frame)."""
    if len(data) < 4:
        return False
    (magic,) = struct.unpack_from("<I", data, 0)
    return magic == _FRAME_MAGIC or \
        _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI


def frame_spans(data: bytes):
    """Yield ``(start, end, is_skippable)`` byte spans for each frame
    of a concatenated zstd stream WITHOUT decoding payloads — the seam
    that lets the CDX member walk treat every data frame of a
    per-record-frame ``.warc.zst`` as an indexable member (the gzip-
    member analogue; RFC 8878 §3.1: frames are self-delimiting and
    concatenable, skippable frames carry metadata such as the seekable
    format's seek table).

    Only frame and block HEADERS are parsed — sizes are declared, so
    the walk is O(frames + blocks). Field validation beyond sizing
    (reserved bits, dictionary IDs, content-size checks) is left to
    ``decompress``, which callers run on each yielded span: a span
    this walk mis-slices can only FAIL there, never decode silently
    wrong. ValueError on any structural malformation, the decoder's
    shared contract."""
    if not data:
        # mirror decompress's empty-input contract so the two can
        # never disagree on acceptance (differential fuzz pin)
        raise ValueError("zstd: no zstd frame in input")
    pos = 0
    while pos < len(data):
        start = pos
        if pos + 4 > len(data):
            raise ValueError("zstd: truncated frame magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            if pos + 4 > len(data):
                raise ValueError("zstd: truncated skippable frame")
            (sz,) = struct.unpack_from("<I", data, pos)
            pos += 4 + sz
            if pos > len(data):
                raise ValueError("zstd: skippable frame overruns input")
            yield start, pos, True
            continue
        if magic != _FRAME_MAGIC:
            raise ValueError("zstd: bad frame magic")
        pos, checksum = _data_frame_header(data, pos)
        while True:
            pos, last, btype, _bsize = _block_header(data, pos)
            pos += 1 if btype == 1 else _bsize
            if pos > len(data):
                raise ValueError("zstd: block overruns input")
            if last:
                break
        if checksum:
            pos += 4
            if pos > len(data):
                raise ValueError("zstd: truncated content checksum")
        yield start, pos, False


def compress_store(data: bytes, checksum: bool = True) -> bytes:
    """Encode ``data`` as one STORE-mode zstd frame (RFC 8878:
    single-segment header with exact Frame_Content_Size, raw blocks
    only — no entropy coding, so output = input + ~6 bytes/128 KiB).

    The write half of the per-record-frame ``.warc.zst`` layout: each
    record becomes its own self-contained frame, which is exactly what
    ``frame_spans`` / ``warc_member_index`` need to make the archive
    seekable. Store mode is deliberate: the layout's value is
    SEEKABILITY and byte-stable output — the same records always give
    the same archive bytes, independent of any encoder's version or
    level — not ratio; any real zstd tool re-compresses frames
    losslessly if ratio matters. ``checksum`` appends the XXH64
    content checksum, which ``decompress`` verifies."""
    n = len(data)
    out = bytearray(struct.pack("<I", _FRAME_MAGIC))
    chk = 0x04 if checksum else 0x00
    if n < 256:
        out.append(0x20 | chk)          # single-segment, 1-byte FCS
        out.append(n)
    elif n < 65536 + 256:
        out.append(0x60 | chk)          # 2-byte FCS, stored - 256
        out += (n - 256).to_bytes(2, "little")
    else:
        out.append(0xA0 | chk)          # 4-byte FCS
        out += n.to_bytes(4, "little")
    pos = 0
    while True:
        blk = data[pos:pos + _BLOCK_MAX]
        pos += len(blk)
        last = 1 if pos >= n else 0
        out += ((len(blk) << 3) | last).to_bytes(3, "little")  # raw
        out += blk
        if last:
            break
    if checksum:
        out += struct.pack("<I", _xxh64(data) & 0xFFFFFFFF)
    return bytes(out)


def seek_table(frames: "list[tuple[int, int]]") -> bytes:
    """Render the zstd seekable-format seek table as one skippable
    frame (public spec: zstd/contrib/seekable_format, v0.1.0 —
    skippable magic 0x184D2A5E, per-frame (compressed_size,
    decompressed_size) u32 pairs, then a 9-byte footer of
    frame count + descriptor + magic 0x8F92EAB1). Appending it to a
    per-record-frame archive makes the file seekable by EXTERNAL
    zstd-seekable tooling; ``decompress`` and ``frame_spans`` already
    pass over skippable frames, so every in-engine read path is
    unaffected."""
    body = bytearray()
    for csize, dsize in frames:
        if not (0 <= csize < 1 << 32 and 0 <= dsize < 1 << 32):
            raise ValueError("zstd: seek-table entry over u32")
        body += struct.pack("<II", csize, dsize)
    body += struct.pack("<IBI", len(frames), 0x00, 0x8F92EAB1)
    return struct.pack("<II", _SKIPPABLE_HI - 1, len(body)) + bytes(body)
