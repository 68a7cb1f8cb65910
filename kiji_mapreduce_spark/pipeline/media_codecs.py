"""Real media codecs with zero external dependencies.

The environment ships no PIL/libvips/ffmpeg, but the formats a crawl
corpus actually leans on are decodable from their public specs with
stdlib + numpy alone, so the engine's "real decode" path
(``multimodal._decode_image_real``) is not a stub:

- **PNG** (public spec, RFC 2083): chunk parse, zlib-inflate the IDAT
  stream, reverse the five scanline filters. EVERY valid PNG shape
  decodes: grayscale (1/2/4/8/16-bit) / gray+alpha / RGB / RGBA
  (8/16-bit, rendered at the high byte) / palette (1/2/4/8-bit),
  straight or Adam7-interlaced.
- **JPEG** (ITU-T T.81 baseline, see the JPEG section below): the
  format real image crawls overwhelmingly ship. Progressive /
  arithmetic variants raise ``UnsupportedMedia`` (PIL fall-through).
- **GIF** (GIF87a/89a public spec): LZW decode, global/local color
  tables, interlace, transparency, disposal 0/1/2 frame composition —
  static GIFs through the image path, ANIMATED GIFs as the one
  real-world video container decodable without ffmpeg
  (``decode_video`` dispatches on magic). Disposal 3 raises.
- **WAV** via the stdlib ``wave`` module: PCM frames + rate/channels.
- **FLAC** (RFC 9639): full frame layer — constant/verbatim/fixed/LPC
  subframes, rice-partitioned residuals, all stereo decorrelations —
  so lossless audio archives feed the same energy-fingerprint dedup
  path as WAV (``decode_audio`` dispatches on magic).

Encoding (``encode_png``) writes filter-0 scanlines — enough to
round-trip tests and to emit real resized images.

NumPy does the pixel math. Unfiltering is O(pixels): None/Up/Sub rows
are fully vectorized (Sub is an exact strided cumsum); Average/Paeth
are sequential BY CONSTRUCTION (each byte depends on the previous
unfiltered byte) and run as plain-int Python loops, so decode time is
bounded by the ``_MAX_PNG_PIXELS`` CPU gate, not just the byte
ceiling. The shape fits mapInPandas batches: decode runs
executor-side on Arrow-delivered bytes, never on the driver.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from array import array

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples per pixel


class UnsupportedMedia(ValueError):
    """Decodable format family, unsupported variant (disposal-3 GIF,
    progressive JPEG, ...)."""


#: ceiling on a single PNG's DECODED scanline bytes (1 GiB): a tiny
#: crawl blob declaring absurd IHDR dimensions must not OOM the
#: executor before the post-inflate length check runs
_MAX_PNG_BYTES = 1 << 30
#: pixel-count ceiling (CPU gate): unfiltering Average/Paeth rows is
#: sequential Python work (~2.6 MB/s measured after the list rewrite),
#: so pixels, not bytes, bound the decode time — 16 MPix RGBA is
#: ~64 MB of scanlines, ~25 s worst-case all-Paeth (the
#: _MAX_VP8L_PIXELS reasoning)
_MAX_PNG_PIXELS = 1 << 24

#: the same 1 GiB ceiling for the other codecs' dominant DECODED
#: allocations (JPEG per-component float64 planes, GIF index buffer /
#: canvas / composed frames): a handful of crafted header bytes — a
#: 19-byte SOF declaring 65535x65535x3, a 13-byte GIF logical screen —
#: must raise UnsupportedMedia BEFORE any allocation, so
#: skip_undecodable / the PIL fall-through route them like every other
#: hostile blob instead of the executor that owns the archive dying
_MAX_DECODED_BYTES = 1 << 30

#: VP8L decodes symbol-by-symbol in Python (the Huffman stream is
#: inherently serial), so its gate models CPU as much as memory: the
#: byte ceiling alone would admit a ~134 MPix header whose pure-Python
#: decode pins a worker for the better part of an hour. 16.7 MPix
#: covers every plausible real web image (4K UHD is 8.3 MPix) and
#: bounds the adversarial worst case to roughly a minute / ~150 MiB
#: (4 B/px array store + the uint32/RGBA numpy planes)
_MAX_VP8L_PIXELS = 1 << 24

#: FLAC decodes sample-by-sample in Python too, so its gate models
#: CPU and memory by DECODED SAMPLE count, not the 2-4 nominal PCM
#: bytes the old byte ceiling charged — under which a few-KB crafted
#: stream of constant subframes with total=0 could pin a worker for
#: many minutes (ADVICE r10). 2^26 (~67M samples, ~12.7 min of
#: 44.1 kHz stereo — above virtually every web music track;
#: long-form audio ships as MP3/AAC, probe-only here anyway) bounds
#: the adversarial worst case to ~512 MiB of packed array('q') longs
#: (8 B/sample storage, the VP8L array discipline) and a couple of
#: minutes of CPU; longer real FLAC routes to the fall-through like
#: every other unsupported variant instead of pinning a worker
_MAX_FLAC_SAMPLES = 1 << 26


def decode_png(content: bytes) -> tuple[np.ndarray, int, int, int]:
    """PNG bytes -> (pixels uint8 [h, w, channels], width, height,
    channels). Every valid shape decodes: gray 1-16-bit, gray+alpha,
    RGB(A) 8/16-bit (16-bit renders at the big-endian high byte — the
    faithful uint8 mapping, same as PIL's RGB convert), palette
    1/2/4/8-bit, straight or Adam7-interlaced. A tRNS chunk's alpha is
    ignored (the returned RGB is exactly what the file stores, like
    JPEG's alpha-less surface). EVERY structurally malformed input
    surfaces as ``UnsupportedMedia`` — never a raw
    zlib.error/struct.error (same wrapper discipline as
    ``decode_jpeg``/``decode_gif_frames``)."""
    try:
        return _decode_png_unchecked(content)
    except (struct.error, IndexError, zlib.error) as e:
        raise UnsupportedMedia(f"PNG: corrupt structure ({e})") from e


def _decode_png_unchecked(
        content: bytes) -> tuple[np.ndarray, int, int, int]:
    if content[:8] != _PNG_MAGIC:
        raise UnsupportedMedia("not a PNG (bad signature)")
    pos = 8
    width = height = bit_depth = color_type = interlace = None
    idat = bytearray()
    palette = None
    while pos < len(content):
        (length,) = struct.unpack(">I", content[pos:pos + 4])
        ctype = content[pos + 4:pos + 8]
        data = content[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if len(data) % 3 or not data:
                raise UnsupportedMedia("PNG PLTE length not 3n")
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None:
        raise UnsupportedMedia("PNG missing IHDR")
    if width == 0 or height == 0:
        # every sibling codec (JPEG/GIF/BMP) rejects zero dimensions;
        # a (h, 0, ch) array otherwise escapes into resize/fingerprint
        # consumers as NaNs and clipped empty-axis indexing
        # (r13 review finding)
        raise UnsupportedMedia(f"PNG: zero dimension {width}x{height}")
    if width * height > _MAX_PNG_PIXELS:
        # CPU gate, not just memory: Average/Paeth unfiltering is a
        # sequential per-byte walk (exact vectorization is impossible
        # — each byte depends on the previous unfiltered byte), so the
        # decode cost is O(pixels) PYTHON work. Same ceiling class as
        # _MAX_VP8L_PIXELS; the scanline byte ceiling below stays as
        # the memory gate (r13 review finding: an all-Paeth PNG just
        # under the 1 GiB byte gate pinned a worker for minutes)
        raise UnsupportedMedia(
            f"PNG dimensions {width}x{height} past the "
            f"{_MAX_PNG_PIXELS >> 20} MPix ceiling")
    if interlace not in (0, 1):
        raise UnsupportedMedia(f"unknown PNG interlace {interlace}")

    if color_type == 3:
        if bit_depth not in (1, 2, 4, 8):
            raise UnsupportedMedia(
                f"unsupported palette PNG bit depth {bit_depth}")
        if palette is None:
            raise UnsupportedMedia("palette PNG missing PLTE")
        channels = 1
    else:
        if color_type not in _CHANNELS:
            raise UnsupportedMedia(
                f"unsupported PNG color type {color_type}")
        if bit_depth not in (8, 16) and not (
                color_type == 0 and bit_depth in (1, 2, 4)):
            # sub-byte depths exist only for palette + grayscale
            raise UnsupportedMedia(
                f"unsupported PNG bit depth {bit_depth}")
        channels = _CHANNELS[color_type]
    sub_byte = bit_depth < 8  # palette or grayscale packed samples
    spb = 2 if bit_depth == 16 else 1  # stored bytes per sample
    bpp = 1 if sub_byte else channels * spb

    def _stride(w: int) -> int:
        return (w * bit_depth + 7) // 8 if sub_byte \
            else w * channels * spb

    def _samples(raw_rows: np.ndarray, w: int) -> np.ndarray:
        """Unfiltered scanline bytes -> per-pixel values: packed
        sub-byte samples unpack to one value per pixel [h, w]; 16-bit
        samples keep their big-endian HIGH byte (the faithful uint8
        rendering of this decoder's 8-bit surface — the same mapping
        PIL's RGB convert applies); 8-bit rows pass through as channel
        bytes [h, w*channels]."""
        if bit_depth == 16:
            return raw_rows[:, 0::2]
        if not sub_byte:
            return raw_rows
        h = raw_rows.shape[0]
        bits = np.unpackbits(raw_rows, axis=1)[:, :w * bit_depth]
        weights = 1 << np.arange(bit_depth - 1, -1, -1)
        return (bits.reshape(h, w, bit_depth) * weights) \
            .sum(axis=2).astype(np.uint8)

    if not interlace:
        expected = height * (_stride(width) + 1)
    else:
        expected = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:
                expected += ph * (_stride(pw) + 1)
    if expected > _MAX_PNG_BYTES:
        raise UnsupportedMedia(
            f"PNG dimensions {width}x{height} decode past the "
            f"{_MAX_PNG_BYTES >> 20} MiB scanline ceiling")
    # cap the inflate at the size the header promises: a bomb whose
    # stream holds more data than the dimensions allow stops here
    # instead of materializing gigabytes before the length check
    d = zlib.decompressobj()
    raw = d.decompress(bytes(idat), expected + 1)
    if len(raw) != expected or d.unconsumed_tail:
        raise UnsupportedMedia("PNG data length mismatch")
    if not interlace:
        out, end = _png_unfilter(raw, 0, height, _stride(width), bpp)
        if end != len(raw):
            raise UnsupportedMedia("PNG data length mismatch")
        px = _samples(out, width)
    else:
        # Adam7: seven stored sub-images, scattered onto the grid
        px = np.zeros(
            (height, width) if sub_byte
            else (height, width * channels), dtype=np.uint8)
        offset = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass stores nothing, not even filters
            rows, offset = _png_unfilter(raw, offset, ph, _stride(pw),
                                         bpp)
            vals = _samples(rows, pw)
            if sub_byte:
                px[y0::dy, x0::dx] = vals
            else:
                block = px.reshape(height, width, channels)
                block[y0::dy, x0::dx] = vals.reshape(ph, pw, channels)
        if offset != len(raw):
            raise UnsupportedMedia("PNG data length mismatch")

    if color_type == 3:
        if int(px.max(initial=0)) >= len(palette):
            raise UnsupportedMedia("PNG pixel index outside palette")
        return palette[px], width, height, 3
    if sub_byte:  # grayscale 1/2/4-bit: spec sample scaling, exact
        px = (px.astype(np.uint16) * (255 // ((1 << bit_depth) - 1))) \
            .astype(np.uint8)
    return (px.reshape(height, width, channels), width, height,
            channels)


#: Adam7 interlace pass geometry: (x0, y0, dx, dy) per stored pass
_ADAM7_PASSES = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                 (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                 (0, 1, 1, 2))


def _png_unfilter(raw: bytes, offset: int, height: int, stride: int,
                  bpp: int) -> tuple[np.ndarray, int]:
    """Reverse the five scanline filters over ``height`` rows of the
    inflated stream starting at ``offset``; returns (raw scanline
    bytes [height, stride], offset after the block). ``bpp`` is the
    filter unit: bytes per pixel for 8-bit images, 1 for sub-byte
    (palette) depths, per the spec."""
    if len(raw) - offset < height * (stride + 1):
        raise UnsupportedMedia("PNG data length mismatch")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        row_start = offset + y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1).copy()
        if ftype == 0:  # None
            pass
        elif ftype == 1:  # Sub: add left neighbor (sequential in-row)
            line = _unfilter_sub(line, bpp)
        elif ftype == 2:  # Up
            line += prev
        elif ftype == 3:  # Average
            line = _unfilter_avg(line, prev, bpp)
        elif ftype == 4:  # Paeth
            line = _unfilter_paeth(line, prev, bpp)
        else:
            raise UnsupportedMedia(f"unknown PNG filter {ftype}")
        out[y] = line
        prev = line
    return out, offset + height * (stride + 1)


def _unfilter_sub(line: np.ndarray, bpp: int) -> np.ndarray:
    """Filter 1 is EXACTLY vectorizable: out[i] = raw[i] + out[i-bpp]
    means each (i mod bpp) lane is a running sum — one strided cumsum,
    with the uint8 cast supplying the mod-256 (r13 review finding: the
    per-byte loop ran at ~1 MB/s)."""
    if len(line) % bpp:  # sub-byte rows have bpp=1; 8/16-bit rows are
        # exact multiples — this branch is unreachable, kept as a
        # loud guard against a future stride change
        raise UnsupportedMedia("PNG: row length not a bpp multiple")
    return (np.cumsum(line.reshape(-1, bpp), axis=0, dtype=np.uint64)
            .astype(np.uint8).reshape(-1))


def _unfilter_avg(line: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    # sequential by construction (the left term is already divided),
    # but plain-int list arithmetic runs ~3x the numpy-scalar loop
    raw = line.tolist()
    pr = prev.tolist()
    n = len(raw)
    for i in range(min(bpp, n)):
        raw[i] = (raw[i] + pr[i] // 2) & 0xFF
    for i in range(bpp, n):
        raw[i] = (raw[i] + (raw[i - bpp] + pr[i]) // 2) & 0xFF
    return np.array(raw, dtype=np.uint8)


def _unfilter_paeth(line: np.ndarray, prev: np.ndarray,
                    bpp: int) -> np.ndarray:
    # sequential by construction (nonlinear predictor over the
    # previous unfiltered byte); list-int form, ~3x the numpy loop
    raw = line.tolist()
    pr = prev.tolist()
    n = len(raw)
    for i in range(min(bpp, n)):
        # left = ul = 0 -> p = up, so the predictor is always up
        raw[i] = (raw[i] + pr[i]) & 0xFF
    for i in range(bpp, n):
        left = raw[i - bpp]
        up = pr[i]
        ul = pr[i - bpp]
        p = left + up - ul
        pa = p - left
        if pa < 0:
            pa = -pa
        pb = p - up
        if pb < 0:
            pb = -pb
        pc = p - ul
        if pc < 0:
            pc = -pc
        if pa <= pb and pa <= pc:
            pred = left
        elif pb <= pc:
            pred = up
        else:
            pred = ul
        raw[i] = (raw[i] + pred) & 0xFF
    return np.array(raw, dtype=np.uint8)


def encode_png(pixels: np.ndarray) -> bytes:
    """uint8 array [h, w] or [h, w, channels] -> PNG bytes (filter 0)."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    height, width, channels = pixels.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(channels)
    if color_type is None:
        raise UnsupportedMedia(f"cannot encode {channels}-channel PNG")
    body = pixels.astype(np.uint8).reshape(height, width * channels)
    raw = b"".join(b"\x00" + body[y].tobytes() for y in range(height))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (_PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def resize_nearest(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize (the deterministic, dependency-free
    resampler; swap for PIL's Lanczos in production)."""
    h, w = pixels.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return pixels[ys][:, xs]


_MPNG_MAGIC = b"MPNG"


def decode_bmp(content: bytes) -> tuple[np.ndarray, int, int, int]:
    """Windows BMP -> (pixels uint8 [h, w, channels], width, height,
    channels). Covers the shapes the format actually ships: 1/4/8-bit
    palette, 16-bit (555/565 via masks), 24/32-bit BGR(A), RLE8/RLE4
    compression, bottom-up and top-down rows, BITMAPINFOHEADER and the
    V4/V5 extensions. Channels is 4 only when a 32-bit image carries
    a non-opaque alpha byte (many writers leave 0 meaning 'unused')."""
    try:
        return _decode_bmp_unchecked(content)
    except UnsupportedMedia:
        raise
    except (KeyError, ValueError, IndexError, struct.error) as e:
        raise UnsupportedMedia(
            f"malformed BMP structure: {type(e).__name__}: {e}") from e


def _decode_bmp_unchecked(content: bytes):
    if content[:2] != b"BM" or len(content) < 54:
        raise UnsupportedMedia("not a BMP (bad magic)")
    (data_off,) = struct.unpack("<I", content[10:14])
    (hdr_size,) = struct.unpack("<I", content[14:18])
    if hdr_size < 40:
        raise UnsupportedMedia("BMP: pre-BITMAPINFOHEADER (OS/2) "
                               "headers unsupported")
    w, h_raw = struct.unpack("<ii", content[18:26])
    planes, bpp = struct.unpack("<HH", content[26:30])
    (compression,) = struct.unpack("<I", content[30:34])
    (clr_used,) = struct.unpack("<I", content[46:50])
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0 or planes != 1:
        raise UnsupportedMedia("BMP: bad dimensions")
    if w * h * 8 > _MAX_DECODED_BYTES:
        raise UnsupportedMedia(
            f"BMP: {w}x{h} decodes past the "
            f"{_MAX_DECODED_BYTES >> 20} MiB ceiling")
    # BITFIELDS (3) with the standard masks is plain memory layout
    if compression not in (0, 1, 2, 3):
        raise UnsupportedMedia(f"BMP: compression {compression}")
    palette = None
    if bpp <= 8:
        n = clr_used or (1 << bpp)
        pal_off = 14 + hdr_size
        raw = content[pal_off:pal_off + 4 * n]
        if len(raw) < 4 * n:
            raise UnsupportedMedia("BMP: palette truncated")
        pal = np.frombuffer(raw, np.uint8).reshape(-1, 4)
        palette = pal[:, [2, 1, 0]]  # BGRX -> RGB
    if compression in (1, 2):  # RLE8 / RLE4
        idx = _bmp_rle(content[data_off:], w, h,
                       4 if compression == 2 else 8)
        if palette is None:
            raise UnsupportedMedia("BMP: RLE without palette")
        rgb = palette[np.minimum(idx, len(palette) - 1)]
        if not top_down:
            rgb = rgb[::-1]
        return np.ascontiguousarray(rgb), w, h, 3
    stride = (w * bpp + 31) // 32 * 4
    need = stride * h
    data = content[data_off:data_off + need]
    if len(data) < need:
        raise UnsupportedMedia("BMP: pixel data truncated")
    rows = np.frombuffer(data, np.uint8).reshape(h, stride)
    if bpp == 24:
        px = rows[:, :w * 3].reshape(h, w, 3)[:, :, ::-1]
        out, ch = px, 3
    elif bpp == 32:
        rmask, gmask, bmask = 0x00FF0000, 0x0000FF00, 0x000000FF
        amask = 0xFF000000
        if compression == 3 and len(content) >= 66:
            # BITFIELDS: masks at absolute 54 whether appended after
            # a 40-byte header or embedded in a V4/V5 header (same
            # offset either way); alpha mask only when the header
            # carries one. Some writers emit RGBA byte order — the
            # 16-bit branch already honored masks, 32-bit must too
            rmask, gmask, bmask = struct.unpack("<III", content[54:66])
            amask = (struct.unpack("<I", content[66:70])[0]
                     if hdr_size >= 56 and len(content) >= 70 else 0)
        v = rows[:, :w * 4].reshape(h, w, 4)
        v32 = (v[:, :, 0].astype(np.uint32)
               | (v[:, :, 1].astype(np.uint32) << 8)
               | (v[:, :, 2].astype(np.uint32) << 16)
               | (v[:, :, 3].astype(np.uint32) << 24))

        def _chan(mask):
            if mask == 0:
                raise UnsupportedMedia("BMP: zero channel mask")
            shift = (mask & -mask).bit_length() - 1
            nbits = int(mask >> shift).bit_length()
            c = (v32 & mask) >> shift
            return (c * 255 // ((1 << nbits) - 1)).astype(np.uint8)

        rgb = np.stack([_chan(rmask), _chan(gmask), _chan(bmask)],
                       axis=2)
        alpha = _chan(amask) if amask else np.zeros((h, w), np.uint8)
        if amask and int(alpha.min()) < 255 and int(alpha.max()) > 0:
            out = np.concatenate([rgb, alpha[:, :, None]], axis=2)
            ch = 4
        else:  # alpha absent or unused (all 0 / all 255): opaque
            out = rgb
            ch = 3
    elif bpp == 16:
        masks = (0x7C00, 0x03E0, 0x001F)  # default 555
        if compression == 3 and hdr_size >= 40 \
                and len(content) >= 14 + 40 + 12:
            masks = struct.unpack("<III", content[54:66])
        v = rows[:, :w * 2].reshape(h, w, 2)
        v16 = v[:, :, 0].astype(np.uint32) \
            | (v[:, :, 1].astype(np.uint32) << 8)
        out = np.empty((h, w, 3), np.uint8)
        for c, mask in enumerate(masks):
            if mask == 0:
                raise UnsupportedMedia("BMP: zero channel mask")
            shift = (mask & -mask).bit_length() - 1
            width_bits = int(mask >> shift).bit_length()
            chan = (v16 & mask) >> shift
            out[:, :, c] = (chan * 255 //
                            ((1 << width_bits) - 1)).astype(np.uint8)
        ch = 3
    elif bpp in (1, 4, 8):
        if bpp == 8:
            idx = rows[:, :w]
        else:
            bits = np.unpackbits(rows, axis=1)
            if bpp == 1:
                idx = bits[:, :w]
            else:
                nib = (bits[:, 0::4] << 3) | (bits[:, 1::4] << 2) \
                    | (bits[:, 2::4] << 1) | bits[:, 3::4]
                idx = nib[:, :w]
        out = palette[np.minimum(idx.astype(np.int64),
                                 len(palette) - 1)]
        ch = 3
    else:
        raise UnsupportedMedia(f"BMP: {bpp}-bit pixels")
    if not top_down:
        out = out[::-1]
    return np.ascontiguousarray(out), w, h, ch


def _bmp_rle(data: bytes, w: int, h: int, bits: int) -> np.ndarray:
    """RLE8/RLE4 decode -> palette-index array [h, w] in FILE row
    order (bottom-up unless the caller flips)."""
    out = np.zeros((h, w), np.uint8)
    x = y = 0
    pos = 0
    n = len(data)
    while pos + 1 < n:
        count, val = data[pos], data[pos + 1]
        pos += 2
        if count:  # encoded run
            if bits == 8:
                run = np.full(count, val, np.uint8)
            else:
                pair = np.array([val >> 4, val & 0x0F], np.uint8)
                run = np.tile(pair, (count + 1) // 2)[:count]
            end = min(x + count, w)
            if y < h:
                out[y, x:end] = run[:end - x]
            x += count
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta jump
            if pos + 2 > n:
                break
            x += data[pos]
            y += data[pos + 1]
            pos += 2
        else:  # absolute run of `val` pixels
            if bits == 8:
                nbytes = (val + 1) // 2 * 2  # word-aligned
                px = np.frombuffer(
                    data[pos:pos + val], np.uint8)
            else:
                nbytes = ((val + 1) // 2 + 1) // 2 * 2
                raw = np.frombuffer(
                    data[pos:pos + (val + 1) // 2], np.uint8)
                px = np.empty(raw.size * 2, np.uint8)
                px[0::2] = raw >> 4
                px[1::2] = raw & 0x0F
                px = px[:val]
            if px.size < val:
                raise UnsupportedMedia("BMP: RLE truncated")
            end = min(x + val, w)
            if y < h:
                out[y, x:end] = px[:end - x]
            x += val
            pos += nbytes
    return out  # file row order; caller flips bottom-up images


def decode_ico(content: bytes) -> tuple[np.ndarray, int, int, int]:
    """Windows ICO (favicon) -> the best entry's pixels: PNG-compressed
    entries (the Vista+ 256px form) ride ``decode_png``; classic DIB
    entries ride the BMP machinery with the icon quirks handled —
    doubled header height (XOR pixels + AND mask), the 1-bit AND mask
    applied as transparency when the pixels carry no alpha of their
    own. Picks the largest entry (ties: deepest bitcount) — the crawl
    wants ONE representative image per favicon, not the size ladder."""
    try:
        return _decode_ico_unchecked(content)
    except UnsupportedMedia:
        raise
    except (KeyError, ValueError, IndexError, struct.error,
            zlib.error) as e:
        # zlib.error is defensive only since PNG entries route through
        # the checked decode_png (whose wrapper owns zlib.error — the
        # r11 structured-fuzz finding was the UNchecked routing); it
        # is NOT a ValueError subclass, so keep it covered here in
        # case a future path decompresses directly
        raise UnsupportedMedia(
            f"malformed ICO structure: {type(e).__name__}: {e}") from e


def _ico_entries(content: bytes):
    """Yield (w, h, bitcount, size, offset) per directory entry."""
    if content[:4] != b"\x00\x00\x01\x00" or len(content) < 6:
        raise UnsupportedMedia("not an ICO (bad magic)")
    (count,) = struct.unpack("<H", content[4:6])
    if not 1 <= count <= 1024:
        raise UnsupportedMedia("ICO: implausible image count")
    for i in range(count):
        e = 6 + 16 * i
        if e + 16 > len(content):
            raise UnsupportedMedia("ICO: directory truncated")
        w, h = content[e], content[e + 1]
        bitcount, size, off = struct.unpack(
            "<HII", content[e + 6:e + 16])
        yield (w or 256, h or 256, bitcount, size, off)


def _decode_ico_unchecked(content: bytes):
    best = max(_ico_entries(content),
               key=lambda t: (t[0] * t[1], t[2]))
    w, h, _bits, size, off = best
    blob = content[off:off + size]
    if len(blob) != size:
        raise UnsupportedMedia("ICO: image data truncated")
    if blob[:8] == _PNG_MAGIC:
        # the CHECKED decoder: its wrapper owns the PNG error surface
        # (zlib/struct/Index -> UnsupportedMedia), so the ICO path
        # cannot leak whatever the PNG internals raise
        return decode_png(blob)
    # classic DIB: BITMAPINFOHEADER with biHeight doubled (XOR+AND);
    # synthesize the 14-byte file header the BMP decoder expects,
    # with the height patched back to the XOR image's real height
    (hdr_size,) = struct.unpack("<I", blob[0:4])
    if hdr_size < 40 or len(blob) < hdr_size:
        raise UnsupportedMedia("ICO: bad embedded DIB header")
    bw, bh2 = struct.unpack("<ii", blob[4:12])
    bpp = struct.unpack("<H", blob[14:16])[0]
    (clr_used,) = struct.unpack("<I", blob[32:36])
    real_h = abs(bh2) // 2
    if real_h == 0 or bw <= 0:
        raise UnsupportedMedia("ICO: bad embedded DIB dimensions")
    pal_n = (clr_used or (1 << bpp)) if bpp <= 8 else 0
    (compression,) = struct.unpack("<I", blob[16:20])
    # a BI_BITFIELDS DIB with the plain 40-byte header stores 12 mask
    # bytes AFTER the header — omitting them from the offsets read
    # pixel rows 12 bytes early (silently shifted pixels, wrong
    # perceptual hashes; r13 review finding). Larger headers
    # (V2/V3/V4/V5) embed the masks inside hdr_size.
    mask_bytes = 12 if (hdr_size == 40 and compression == 3) else 0
    data_off = 14 + hdr_size + mask_bytes + 4 * pal_n
    patched = bytearray(blob[:hdr_size])
    struct.pack_into("<i", patched, 8, real_h)
    bmp = b"BM" + struct.pack("<IHHI", 14 + len(blob), 0, 0,
                              data_off) + bytes(patched) \
        + blob[hdr_size:]
    px, dw, dh, ch = _decode_bmp_unchecked(bmp)
    # AND mask (1-bit, 32-bit-padded rows, bottom-up, after the XOR
    # data): transparency for entries whose pixels carry no alpha
    xor_stride = (dw * bpp + 31) // 32 * 4
    mask_off = (hdr_size + mask_bytes + 4 * pal_n
                + xor_stride * real_h)
    mask_stride = (dw + 31) // 32 * 4
    mask_end = mask_off + mask_stride * real_h
    if ch == 3 and len(blob) >= mask_end:
        rows = np.frombuffer(
            blob[mask_off:mask_end],
            np.uint8).reshape(real_h, mask_stride)
        bits = np.unpackbits(rows, axis=1)[:, :dw][::-1]  # bottom-up
        if bits.any():
            rgba = np.concatenate(
                [px, np.where(bits, 0, 255)[:, :, None]
                 .astype(np.uint8)], axis=2)
            return rgba, dw, dh, 4
    return px, dw, dh, ch


def encode_ico(images: list[np.ndarray], png: bool = False) -> bytes:
    """uint8 [h, w, 3] frames -> ICO (fixture encoder): classic
    24-bit DIB entries (doubled-height header, zero AND mask) or
    PNG-compressed entries (``png=True``)."""
    blobs = []
    for pixels in images:
        h, w = pixels.shape[:2]
        if png:
            blobs.append((w, h, 32, encode_png(pixels)))
            continue
        stride = (w * 3 + 3) // 4 * 4
        rows = np.zeros((h, stride), np.uint8)
        rows[:, :w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
        mask_stride = (w + 31) // 32 * 4
        info = struct.pack("<IiiHHIIiiII", 40, w, h * 2, 1, 24, 0,
                           0, 0, 0, 0, 0)
        blobs.append((w, h, 24,
                      info + rows.tobytes()
                      + bytes(mask_stride * h)))
    out = bytearray(b"\x00\x00\x01\x00"
                    + struct.pack("<H", len(blobs)))
    off = 6 + 16 * len(blobs)
    for w, h, bits, data in blobs:
        out += struct.pack("<BBBBHHII", w % 256, h % 256, 0, 0, 1,
                           bits, len(data), off)
        off += len(data)
    for _w, _h, _b, data in blobs:
        out += data
    return bytes(out)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """uint8 [h, w, 3] -> 24-bit bottom-up BMP (fixture encoder)."""
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, :w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
    data = rows.tobytes()
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       len(data), 2835, 2835, 0, 0)
    return hdr + info + data


def encode_video(frames: list[np.ndarray],
                 micros_per_frame: int = 40000) -> bytes:
    """Motion-PNG container: each frame a real PNG (lossless), so the
    whole stack stays stdlib-decodable. Layout: ``b"MPNG"`` | u8
    version=1 | u16be frame count | u32be micros-per-frame | per frame
    u32be length + PNG bytes. This is the engine's NATIVE interchange
    container for tests and synthetic pipelines; real-world MP4/WebM
    decode is ffmpeg territory (``multimodal`` raises
    ``DecoderNotAvailable`` for them, same discipline as non-WAV
    audio)."""
    if len(frames) > 0xFFFF:
        raise UnsupportedMedia(f"too many frames ({len(frames)} > 65535)")
    if not 0 <= micros_per_frame <= 0xFFFFFFFF:
        raise UnsupportedMedia(
            f"micros_per_frame {micros_per_frame} outside u32 range")
    parts = [_MPNG_MAGIC, struct.pack(">BHI", 1, len(frames),
                                      micros_per_frame)]
    for fr in frames:
        png = encode_png(fr)
        parts.append(struct.pack(">I", len(png)))
        parts.append(png)
    return b"".join(parts)


def decode_video(content: bytes) -> tuple[list[np.ndarray], int]:
    """Video bytes -> (frames as uint8 [h, w, channels] arrays,
    micros_per_frame). Dispatches on magic: the Motion-PNG container,
    an animated (or static) GIF, or an animated lossless WebP — the
    real-world video-ish containers that are pure-spec decodable
    without ffmpeg. Raises ``UnsupportedMedia`` on anything else."""
    if content[:6] in _GIF_MAGICS:
        return decode_gif_frames(content)
    if is_webp(content):
        return decode_webp_frames(content)
    if content[:4] != _MPNG_MAGIC:
        raise UnsupportedMedia("not a Motion-PNG container (bad magic)")
    if len(content) < 11:
        raise UnsupportedMedia("Motion-PNG truncated (container header)")
    version, n_frames, micros = struct.unpack(">BHI", content[4:11])
    if version != 1:
        raise UnsupportedMedia(f"unsupported Motion-PNG version {version}")
    frames: list[np.ndarray] = []
    pos = 11
    for _ in range(n_frames):
        if pos + 4 > len(content):
            raise UnsupportedMedia("Motion-PNG truncated (frame header)")
        (length,) = struct.unpack(">I", content[pos:pos + 4])
        pos += 4
        blob = content[pos:pos + length]
        if len(blob) != length:
            raise UnsupportedMedia("Motion-PNG truncated (frame body)")
        pos += length
        pixels, _w, _h, _c = decode_png(blob)
        frames.append(pixels)
    return frames, micros


def decode_wav(content: bytes) -> tuple[np.ndarray, int, int]:
    """WAV bytes -> (samples int16/uint8 [n_frames, n_channels],
    sample_rate, sample_width_bytes). Malformed RIFF structure raises
    ``UnsupportedMedia`` like every other codec — crawl bytes are
    data, and ``skip_undecodable``/PIL fall-throughs key on the
    type."""
    try:
        with wave.open(io.BytesIO(content), "rb") as w:
            n_channels = w.getnchannels()
            rate = w.getframerate()
            sampwidth = w.getsampwidth()
            frames = w.readframes(w.getnframes())
    # RuntimeError joins the corrupt-wrap tuple SCOPED to this stdlib
    # call only (the tarfile/zstd TypeError discipline): CPython's
    # chunk seek inside wave.py raises a BARE RuntimeError when a
    # corrupt chunk-size field pushes a skip out of range
    # (Lib/wave.py:155, `if pos < 0 or pos > self.chunksize`) —
    # r13 soak-fuzz find, one bit flipped in the fmt-size field of a
    # valid in-repo encode. A RuntimeError from engine code below
    # still surfaces.
    except (wave.Error, EOFError, struct.error, ValueError,
            IndexError, RuntimeError) as e:
        # the stdlib module only speaks PCM; G.711 companded WAVs
        # (format tags 6/7 — the telephony/speech-corpus encodings)
        # decode through the published log-PCM expansion instead.
        # The fallback parses hostile bytes too, so its own failures
        # collapse into the same UnsupportedMedia contract
        try:
            g711 = _decode_wav_g711(content)
        except (struct.error, ValueError, IndexError):
            g711 = None
        if g711 is not None:
            return g711
        raise UnsupportedMedia(
            f"malformed WAV structure: {type(e).__name__}: {e}") from e
    if sampwidth == 2:
        frames = frames[:len(frames) - (len(frames) % 2)]
        arr = np.frombuffer(frames, dtype="<i2")
    elif sampwidth == 1:
        arr = np.frombuffer(frames, dtype=np.uint8)
    elif sampwidth == 3:
        raw = np.frombuffer(
            frames[:len(frames) - (len(frames) % 3)], np.uint8)
        arr = (raw[0::3].astype(np.int32)
               | (raw[1::3].astype(np.int32) << 8)
               | (raw[2::3].astype(np.int32) << 16))
        arr = arr - ((arr & 0x800000) << 1)  # sign-extend 24 -> 32
    elif sampwidth == 4:
        frames = frames[:len(frames) - (len(frames) % 4)]
        arr = np.frombuffer(frames, dtype="<i4")
    else:
        raise UnsupportedMedia(f"unsupported WAV sample width {sampwidth}")
    if n_channels < 1:
        raise UnsupportedMedia("WAV: zero channels")
    n = arr.size - (arr.size % n_channels)  # drop a truncated frame
    return arr[:n].reshape(-1, n_channels), rate, sampwidth


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """(mu_law, a_law) 256-entry int16 expansion tables (ITU-T G.711
    / the CCITT reference expansion — same values audioop used)."""
    mu = np.empty(256, np.int16)
    al = np.empty(256, np.int16)
    for code in range(256):
        b = ~code & 0xFF
        mag = (((b & 0x0F) << 3) + 0x84) << ((b >> 4) & 0x07)
        mu[code] = -(mag - 0x84) if b & 0x80 else (mag - 0x84)
        b = code ^ 0x55
        exp = (b >> 4) & 0x07
        mant = b & 0x0F
        mag = (mant << 4) + 8 if exp == 0 \
            else ((mant << 4) + 0x108) << (exp - 1)
        al[code] = -mag if b & 0x80 else mag
    return mu, al


def _decode_wav_g711(content: bytes):
    """G.711 µ-law (format 7) / A-law (format 6) WAV -> the
    ``decode_wav`` contract with int16 linear samples (width 2), or
    None when the file is not a G.711 WAV."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    fmt_tag = channels = rate = None
    data = None
    pos = 12
    steps = 0
    while pos + 8 <= len(content) and steps < _MAX_PROBE_STEPS:
        steps += 1
        tag = content[pos:pos + 4]
        (size,) = struct.unpack("<I", content[pos + 4:pos + 8])
        if tag == b"fmt " and size >= 16 \
                and pos + 16 <= len(content):  # declared vs actual
            fmt_tag, channels, rate = struct.unpack(
                "<HHI", content[pos + 8:pos + 16])
        elif tag == b"data":
            data = content[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)
    if fmt_tag not in (6, 7) or not channels or not rate \
            or data is None:
        return None
    mu, al = _g711_tables()
    table = mu if fmt_tag == 7 else al
    arr = table[np.frombuffer(data, np.uint8)]
    n = arr.size - (arr.size % channels)
    return arr[:n].reshape(-1, channels), rate, 2


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 [n_frames, n_channels] -> WAV bytes."""
    if samples.ndim == 1:
        samples = samples[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(samples.shape[1])
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


# ---------------------------------------------------------------------------
# FLAC — Free Lossless Audio Codec (public specification, RFC 9639).
#
# The one lossless audio container real crawl archives actually carry
# (podcast mirrors, archive.org audio, music datasets); decoding it
# natively extends the audio perceptual-dedup surface beyond PCM WAV
# without ffmpeg/soundfile (r9 verdict "what's missing" #3 — the
# hash/band/index machinery was already format-agnostic; this adds
# decode surface). Implements the full frame layer: UTF-8-coded frame
# numbers, all blocksize/rate/bps spellings, CRC-8-verified headers,
# constant / verbatim / fixed(0-4) / LPC subframes, rice-partitioned
# residuals (both 4- and 5-bit parameter widths, escape-to-raw), (16)
# wasted bits, and all four channel assignments (independent,
# left/side, right/side, mid/side). 8-bit streams return unsigned
# samples to mirror ``decode_wav``'s WAV convention; 12..32-bit
# return int16/int32. Reference archetype: the gatherer over binary
# columns (kiji-mapreduce/src/main/java/org/kiji/mapreduce/gather/
# KijiGatherer.java:83-156) — decode runs executor-side per Arrow
# batch, never on the driver.
#
# ``encode_flac`` emits spec-valid fixtures: constant subframes when a
# block is flat, verbatim or fixed-order-2 rice residuals otherwise,
# and any of the four stereo decorrelation modes, so every decoder
# path is exercised by independently-constructed streams.
# ---------------------------------------------------------------------------

_FLAC_MAGIC = b"fLaC"
#: blocksize-code table (frame header bits 16..19): value or loader
_FLAC_BLOCKSIZE = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                   8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                   13: 8192, 14: 16384, 15: 32768}
_FLAC_RATES = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
               6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
               11: 96000}
_FLAC_BPS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _crc8(data: bytes) -> int:
    """CRC-8, poly 0x07, init 0 (FLAC frame-header checksum)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 \
                else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, poly 0x8005, init 0 (FLAC whole-frame checksum)."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


class _FlacBits:
    """MSB-first bit reader over bytes (FLAC's bit order)."""

    __slots__ = ("data", "bitpos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.bitpos = pos * 8

    def read(self, n: int) -> int:
        end = self.bitpos + n
        if end > len(self.data) * 8:
            raise UnsupportedMedia("FLAC: bitstream truncated")
        out = 0
        bp = self.bitpos
        while n:
            byte = self.data[bp >> 3]
            avail = 8 - (bp & 7)
            take = min(avail, n)
            out = (out << take) | \
                ((byte >> (avail - take)) & ((1 << take) - 1))
            bp += take
            n -= take
        self.bitpos = bp
        return out

    def signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        """Count 0-bits up to the terminating 1."""
        n = 0
        data = self.data
        limit = len(data) * 8
        bp = self.bitpos
        while True:
            if bp >= limit:
                raise UnsupportedMedia("FLAC: bitstream truncated")
            if (data[bp >> 3] >> (7 - (bp & 7))) & 1:
                self.bitpos = bp + 1
                return n
            n += 1
            bp += 1

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7

    def bytepos(self) -> int:
        return self.bitpos >> 3


def _flac_utf8_number(br: _FlacBits) -> int:
    """FLAC's UTF-8-style coded number (frame/sample index, ≤36 bits,
    up to 7 bytes)."""
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n_follow = 0
    mask = 0x40
    while b0 & mask:
        n_follow += 1
        mask >>= 1
    if n_follow < 1 or n_follow > 6:
        raise UnsupportedMedia("FLAC: bad coded number")
    v = b0 & (mask - 1)
    for _ in range(n_follow):
        b = br.read(8)
        if b & 0xC0 != 0x80:
            raise UnsupportedMedia("FLAC: bad coded number")
        v = (v << 6) | (b & 0x3F)
    return v


_FLAC_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1],
                     4: [4, -6, 4, -1]}

#: per-sample magnitude ceiling for the predictor loops: real FLAC
#: samples fit in 32 bits (+7 wasted-bits headroom); anything past
#: this is a corrupt/hostile predictor diverging, and bounding it here
#: keeps the Python ints word-sized (coefs <= 2^15, order <= 32 =>
#: pred <= ~2^60)
_FLAC_SAMPLE_LIMIT = 1 << 40


def _flac_residual(br: _FlacBits, blocksize: int, order: int
                   ) -> list[int]:
    """Rice-partitioned residual -> ``blocksize - order`` ints."""
    method = br.read(2)
    if method > 1:
        raise UnsupportedMedia("FLAC: reserved residual method")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    part_order = br.read(4)
    n_parts = 1 << part_order
    if blocksize % n_parts:
        # RFC 9639: the blocksize MUST be evenly divisible by 2^order;
        # truncating division otherwise returns silently SHORT frames
        # (wrong durations/fingerprints) where libFLAC errors
        # (r13 review finding)
        raise UnsupportedMedia(
            "FLAC: blocksize not divisible by partition count")
    out: list[int] = []
    for p in range(n_parts):
        n = (blocksize >> part_order) - (order if p == 0 else 0)
        if n < 0:
            raise UnsupportedMedia("FLAC: partition shorter than "
                                   "predictor order")
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            if raw == 0:
                out.extend([0] * n)
            else:
                out.extend(br.signed(raw) for _ in range(n))
        else:
            for _ in range(n):
                q = br.unary()
                v = (q << param) | br.read(param) if param else q
                out.append((v >> 1) ^ -(v & 1))  # zigzag
    return out


def _flac_subframe(br: _FlacBits, blocksize: int, bps: int
                   ) -> list[int]:
    """One subframe -> ``blocksize`` samples at ``bps`` bits."""
    if br.read(1):
        raise UnsupportedMedia("FLAC: bad subframe pad bit")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise UnsupportedMedia("FLAC: wasted bits exceed sample size")
    if stype == 0:  # constant
        out = [br.signed(eff)] * blocksize
    elif stype == 1:  # verbatim
        out = [br.signed(eff) for _ in range(blocksize)]
    elif 8 <= stype <= 12:  # fixed predictor, order 0-4
        order = stype - 8
        if order > blocksize:
            raise UnsupportedMedia("FLAC: predictor order > blocksize")
        out = [br.signed(eff) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        coefs = _FLAC_FIXED_COEFS[order]
        for r in res:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coefs))
            s = pred + r
            if s > _FLAC_SAMPLE_LIMIT or s < -_FLAC_SAMPLE_LIMIT:
                raise UnsupportedMedia("FLAC: predictor diverged")
            out.append(s)
    elif stype >= 32:  # LPC, order 1-32
        order = (stype & 31) + 1
        if order > blocksize:
            raise UnsupportedMedia("FLAC: predictor order > blocksize")
        out = [br.signed(eff) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise UnsupportedMedia("FLAC: invalid LPC precision")
        shift = br.signed(5)
        if shift < 0:
            raise UnsupportedMedia("FLAC: negative LPC shift")
        coefs = [br.signed(precision) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        for r in res:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coefs))
            s = (pred >> shift) + r
            # divergence gate: valid samples fit in 32 bits; a crafted
            # predictor (shift 0, max coefficients) otherwise grows
            # samples ~2^29x per step into multi-GB bignums BEFORE the
            # decoded-sample count gate can fire (r13 review finding,
            # reproduced) — and also bounds pred to ~2^60, so the
            # numpy conversion can never see an unconvertible bignum
            if s > _FLAC_SAMPLE_LIMIT or s < -_FLAC_SAMPLE_LIMIT:
                raise UnsupportedMedia("FLAC: predictor diverged")
            out.append(s)
    else:
        raise UnsupportedMedia(f"FLAC: reserved subframe type {stype}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def _flac_streaminfo_fields(blk: bytes) -> tuple[int, int, int, int]:
    """STREAMINFO block body -> (rate, channels, bps, total_samples)
    — the one parse of the 18-byte bit layout, shared by the decoder
    and the header-only probe."""
    mb = _FlacBits(blk)
    mb.read(16)  # min blocksize
    mb.read(16)  # max blocksize
    mb.read(24)  # min framesize
    mb.read(24)  # max framesize
    rate = mb.read(20)
    channels = mb.read(3) + 1
    bps = mb.read(5) + 1
    total = mb.read(36)
    return rate, channels, bps, total


def decode_flac(content: bytes) -> tuple[np.ndarray, int, int]:
    """FLAC bytes -> (samples [n_frames, n_channels], sample_rate,
    sample_width_bytes) — the ``decode_wav`` contract: uint8 for
    8-bit streams (WAV convention), int16 up to 16 bits, int32
    above."""
    try:
        return _decode_flac_unchecked(content)
    except UnsupportedMedia:
        raise
    except (KeyError, ValueError, IndexError, struct.error,
            OverflowError) as e:
        # OverflowError: a crafted LPC predictor can explode samples
        # into bignums that numpy's int conversion rejects — part of
        # the hostile-bytes surface, not an engine bug (r13 review
        # finding, reproduced)
        raise UnsupportedMedia(
            f"malformed FLAC structure: {type(e).__name__}: {e}") from e


def _decode_flac_unchecked(content: bytes):
    if content[:4] != _FLAC_MAGIC:
        raise UnsupportedMedia("not a FLAC stream (bad magic)")
    pos = 4
    info = None
    while True:  # metadata blocks
        if pos + 4 > len(content):
            raise UnsupportedMedia("FLAC: metadata truncated")
        hdr = content[pos]
        length = int.from_bytes(content[pos + 1:pos + 4], "big")
        btype = hdr & 0x7F
        if btype == 127:
            raise UnsupportedMedia("FLAC: invalid metadata block type")
        if btype == 0:
            blk = content[pos + 4:pos + 4 + length]
            if len(blk) < 18:
                raise UnsupportedMedia("FLAC: STREAMINFO truncated")
            info = _flac_streaminfo_fields(blk)
        pos += 4 + length
        if hdr & 0x80:
            break
    if info is None:
        raise UnsupportedMedia("FLAC: no STREAMINFO block")
    si_rate, si_channels, si_bps, total = info
    if si_rate == 0:
        raise UnsupportedMedia("FLAC: zero sample rate")
    if total * si_channels > _MAX_FLAC_SAMPLES:
        raise UnsupportedMedia(
            f"FLAC: {total} samples decode past the "
            f"{_MAX_FLAC_SAMPLES} decoded-sample ceiling")
    # packed 8 B/sample storage (the VP8L array('I') discipline), not
    # Python-int lists (~30 B each): with the 2^26 sample ceiling the
    # worst case is ~512 MiB of packed longs instead of ~2 GiB of int
    # objects — the allocation a 4 GiB-heap executor absorbs and the
    # object soup it would not (r11 review finding). Per-frame subframe
    # lists stay lists (bounded by the 65536 max blocksize).
    chans: list[array] = [array("q") for _ in range(si_channels)]
    decoded_samples = 0
    while pos < len(content):
        br = _FlacBits(content, pos)
        if br.read(14) != 0x3FFE:
            raise UnsupportedMedia("FLAC: lost frame sync")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        rate_code = br.read(4)
        chan_code = br.read(4)
        bps_code = br.read(3)
        br.read(1)  # reserved
        _flac_utf8_number(br)
        if bs_code == 0:
            raise UnsupportedMedia("FLAC: reserved blocksize code")
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = _FLAC_BLOCKSIZE[bs_code]
        if rate_code == 15:
            raise UnsupportedMedia("FLAC: invalid sample-rate code")
        elif rate_code == 12:
            br.read(8)
        elif rate_code in (13, 14):
            br.read(16)
        bps = si_bps if bps_code == 0 else _FLAC_BPS.get(bps_code)
        if bps is None:
            raise UnsupportedMedia("FLAC: reserved sample-size code")
        hdr_len = br.bytepos() - pos
        if _crc8(content[pos:pos + hdr_len]) != br.read(8):
            raise UnsupportedMedia("FLAC: frame header CRC mismatch")
        if chan_code <= 7:
            n_ch = chan_code + 1
            side_ch = -1
        elif chan_code <= 10:
            n_ch = 2
            side_ch = 0 if chan_code == 9 else 1  # R/S else L/S, M/S
        else:
            raise UnsupportedMedia("FLAC: reserved channel assignment")
        if n_ch != si_channels:
            raise UnsupportedMedia("FLAC: frame/STREAMINFO channel "
                                   "count mismatch")
        # cumulative SAMPLE gate, not nominal PCM bytes: the samples
        # sit as Python ints in per-channel lists and are produced by
        # per-sample Python loops, so the honest cost model is
        # count-based (ADVICE r10; same reasoning as _MAX_VP8L_PIXELS).
        # Checked BEFORE the subframes decode — a STREAMINFO with
        # total=0 makes the upfront check above vacuous
        decoded_samples += blocksize * n_ch
        if decoded_samples > _MAX_FLAC_SAMPLES:
            raise UnsupportedMedia(
                f"FLAC: frames decode past the "
                f"{_MAX_FLAC_SAMPLES} decoded-sample ceiling")
        subs = [_flac_subframe(br, blocksize,
                               bps + (1 if c == side_ch else 0))
                for c in range(n_ch)]
        if chan_code == 8:    # left/side: right = left - side
            subs[1] = [l - s for l, s in zip(subs[0], subs[1])]
        elif chan_code == 9:  # right/side: left = right + side
            subs[0] = [r + s for s, r in zip(subs[0], subs[1])]
        elif chan_code == 10:  # mid/side
            left = [(((m << 1) | (s & 1)) + s) >> 1
                    for m, s in zip(subs[0], subs[1])]
            right = [(((m << 1) | (s & 1)) - s) >> 1
                     for m, s in zip(subs[0], subs[1])]
            subs = [left, right]
        for c in range(n_ch):
            chans[c].extend(subs[c])
        br.align()
        br.read(16)  # frame CRC-16 (frame located; content verified
        #              by the per-header CRC-8 and structural checks)
        pos = br.bytepos()
    if not chans[0]:
        raise UnsupportedMedia("FLAC: no audio frames")
    if total and len(chans[0]) > total:
        chans = [c[:total] for c in chans]  # trailing partial block
    # frombuffer per channel: zero-copy view of the packed arrays
    arr = np.stack([np.frombuffer(c, dtype=np.int64) for c in chans]).T
    if si_bps <= 8:
        return (arr + 128).astype(np.uint8), si_rate, 1
    if si_bps <= 16:
        return arr.astype(np.int16), si_rate, 2
    return arr.astype(np.int32), si_rate, 4


def _ogg_packets(content: bytes):
    """Reassemble Ogg packets across pages (RFC 3533 lacing: a
    255-valued lacing entry continues the packet, including across a
    page boundary via the continuation flag)."""
    pos = 0
    partial = bytearray()
    steps = 0
    while pos + 27 <= len(content) and steps < _MAX_PROBE_STEPS:
        steps += 1
        if content[pos:pos + 4] != b"OggS":
            raise UnsupportedMedia("Ogg: lost page sync")
        nsegs = content[pos + 26]
        lacing = content[pos + 27:pos + 27 + nsegs]
        if len(lacing) != nsegs:
            raise UnsupportedMedia("Ogg: page truncated")
        body = pos + 27 + nsegs
        for lace in lacing:
            seg = content[body:body + lace]
            if len(seg) != lace:
                raise UnsupportedMedia("Ogg: segment truncated")
            partial += seg
            body += lace
            if lace < 255:
                yield bytes(partial)
                partial = bytearray()
        pos = body
    if partial:
        yield bytes(partial)  # packet cut at end-of-stream


def is_ogg_flac(content: bytes) -> bool:
    """True when an Ogg stream's first packet is FLAC-mapped — the
    cheap peek the decode gates use to separate natively-decodable
    Ogg-FLAC from Vorbis/Opus (ffmpeg territory, a DIFFERENT error
    class than corrupt bytes)."""
    try:
        if content[:4] != b"OggS" or len(content) < 28:
            return False
        body = 27 + content[26]
        return content[body:body + 5] == b"\x7fFLAC"
    except IndexError:
        return False


def decode_ogg_flac(content: bytes) -> tuple[np.ndarray, int, int]:
    """FLAC-in-Ogg (RFC 5334 mapping) -> the ``decode_wav`` contract.
    The mapping is designed so that stripping the first packet's
    9-byte Ogg-FLAC prefix and concatenating every packet yields a
    native FLAC stream — which the native decoder then handles."""
    packets = _ogg_packets(content)
    first = next(packets, b"")
    if first[:5] != b"\x7fFLAC":
        raise UnsupportedMedia(
            "Ogg stream is not FLAC-mapped (Vorbis/Opus/Theora are "
            "ffmpeg territory)")
    native = bytearray(first[9:])  # 0x7F FLAC maj min nheaders(2)
    if native[:4] != _FLAC_MAGIC:
        raise UnsupportedMedia("Ogg-FLAC: bad embedded stream magic")
    for pkt in packets:
        native += pkt
    return decode_flac(bytes(native))


def decode_audio(content: bytes) -> tuple[np.ndarray, int, int]:
    """Audio bytes -> (samples [n_frames, n_channels], rate, width).
    Dispatches on magic: PCM WAV, native FLAC, or FLAC-in-Ogg — the
    pure-spec decodable audio containers. Raises ``UnsupportedMedia``
    on anything else (MP3/AAC/Vorbis/Opus are ffmpeg territory)."""
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return decode_wav(content)
    if content[:4] == _FLAC_MAGIC:
        return decode_flac(content)
    if content[:4] == b"OggS":
        return decode_ogg_flac(content)
    raise UnsupportedMedia("not a WAV, FLAC, or Ogg-FLAC stream")


class _MsbBitWriter:
    """MSB-first bit accumulator (FLAC's bit order)."""

    __slots__ = ("acc", "nbits", "out")

    def __init__(self):
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def finish(self) -> bytes:
        self.pad_to_byte()
        return bytes(self.out)


def _flac_write_utf8(wtr: _MsbBitWriter, v: int) -> None:
    if v < 0x80:
        wtr.write(v, 8)
        return
    n_follow = 1
    while v >= (1 << (6 + 5 * n_follow)):  # lead byte holds
        n_follow += 1                      # 6 - n_follow data bits
    lead = ((0xFF << (7 - n_follow)) & 0xFF) \
        | (v >> (6 * n_follow))
    wtr.write(lead, 8)
    for i in range(n_follow - 1, -1, -1):
        wtr.write(0x80 | ((v >> (6 * i)) & 0x3F), 8)


def _flac_rice_write(wtr: _MsbBitWriter, residual: list[int]) -> None:
    """Partition order 0, parameter chosen by exhaustive search."""
    zig = [(v << 1) if v >= 0 else ((-v) << 1) - 1 for v in residual]
    best_p, best_cost = 0, None
    for p in range(15):
        cost = sum((z >> p) + 1 + p for z in zig)
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
    wtr.write(0, 2)  # 4-bit rice parameters
    wtr.write(0, 4)  # partition order 0
    wtr.write(best_p, 4)
    for z in zig:
        wtr.write(0, z >> best_p)
        wtr.write(1, 1)
        if best_p:
            wtr.write(z & ((1 << best_p) - 1), best_p)


def _flac_write_subframe(wtr: _MsbBitWriter, samples: list[int],
                         bps: int, mode: str) -> None:
    wtr.write(0, 1)  # pad
    if len(set(samples)) == 1:
        wtr.write(0, 6)  # constant
        wtr.write(0, 1)  # no wasted bits
        wtr.write(samples[0], bps)
    elif mode == "verbatim" or len(samples) < 3:
        wtr.write(1, 6)
        wtr.write(0, 1)
        for s in samples:
            wtr.write(s, bps)
    else:  # fixed order 2 + rice residual
        wtr.write(10, 6)
        wtr.write(0, 1)
        wtr.write(samples[0], bps)
        wtr.write(samples[1], bps)
        res = [samples[i] - 2 * samples[i - 1] + samples[i - 2]
               for i in range(2, len(samples))]
        _flac_rice_write(wtr, res)


def encode_flac(samples: np.ndarray, sample_rate: int,
                mode: str = "fixed", stereo: str = "independent",
                blocksize: int = 4096) -> bytes:
    """int16 [n, ch] (or [n]) -> spec-valid FLAC bytes. ``mode``:
    "fixed" (order-2 + rice; constant blocks auto-detected) or
    "verbatim". ``stereo`` (2-channel input only): "independent",
    "left-side", "right-side", or "mid-side" — each exercises the
    matching decoder reconstruction."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    if stereo != "independent" and ch != 2:
        raise UnsupportedMedia("stereo decorrelation needs 2 channels")
    bps = 16
    out = bytearray(_FLAC_MAGIC)
    si = _MsbBitWriter()
    si.write(min(blocksize, max(n, 16)), 16)
    si.write(min(blocksize, max(n, 16)), 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(ch - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    info = si.finish() + b"\x00" * 16  # MD5 unset (legal)
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + info
    chan_code = {"independent": ch - 1, "left-side": 8,
                 "right-side": 9, "mid-side": 10}[stereo]
    for f_idx, start in enumerate(range(0, n, blocksize)):
        blk = samples[start:start + blocksize]
        bs = blk.shape[0]
        wtr = _MsbBitWriter()
        wtr.write(0x3FFE, 14)
        wtr.write(0, 1)
        wtr.write(0, 1)  # fixed-blocksize strategy
        wtr.write(7, 4)   # blocksize: 16-bit at end of header
        wtr.write(0, 4)   # rate from STREAMINFO
        wtr.write(chan_code, 4)
        wtr.write(4, 3)   # 16 bps
        wtr.write(0, 1)
        _flac_write_utf8(wtr, f_idx)
        wtr.write(bs - 1, 16)
        hdr = wtr.finish()
        wtr = _MsbBitWriter()
        wtr.out += hdr
        wtr.write(_crc8(hdr), 8)
        cols = [blk[:, c].astype(np.int64).tolist()
                for c in range(ch)]
        if stereo == "left-side":
            sub_cols = [cols[0],
                        [l - r for l, r in zip(cols[0], cols[1])]]
            side = 1
        elif stereo == "right-side":
            sub_cols = [[l - r for l, r in zip(cols[0], cols[1])],
                        cols[1]]
            side = 0
        elif stereo == "mid-side":
            sub_cols = [[(l + r) >> 1 for l, r in zip(*cols)],
                        [l - r for l, r in zip(*cols)]]
            side = 1
        else:
            sub_cols = cols
            side = -1
        for c, col in enumerate(sub_cols):
            _flac_write_subframe(wtr, col,
                                 bps + (1 if c == side else 0), mode)
        wtr.pad_to_byte()
        frame = bytes(wtr.out)
        out += frame + _crc16(frame).to_bytes(2, "big")
    return bytes(out)


# ---------------------------------------------------------------------------
# Container probes — technical metadata from headers alone, no frame
# decode. At crawl scale the first media pass is classification and
# curation (group by codec, filter by duration/resolution, budget by
# kind), and that must work for EVERY container the web ships —
# including MP4/WebM/Ogg/MP3 whose codec payloads are ffmpeg
# territory. Each probe walks only declared header structures
# (ISO 14496-12 boxes, Matroska EBML elements, MP3 frame headers,
# Ogg pages) with bounded loops, so a probe over hostile bytes costs
# microseconds and never allocates frame buffers. All formats with a
# bundled codec (PNG/JPEG/GIF/WebP/WAV/FLAC/Motion-PNG) probe through
# the same cheap header reads for a uniform surface.
# ---------------------------------------------------------------------------

#: hard cap on linear header walks (MP3 frames, Ogg pages, RIFF/EBML
#: children): bounds probe CPU on hostile concatenations
_MAX_PROBE_STEPS = 200_000


def _plausible_box(content: bytes, at: int, hi: int) -> bool:
    """True when ``at`` plausibly starts an ISO-BMFF child box inside
    [at, hi): a sane 32-bit size (in-bounds, or the 0/1 escapes) and a
    printable-ASCII fourcc. Used to tell a QuickTime plain ``meta``
    box from the ISO FullBox layout — never to validate, only to pick
    the walk offset, so a false negative just skips optional hdlr
    metadata."""
    if at + 8 > hi:
        return False
    (size,) = struct.unpack(">I", content[at:at + 4])
    if size not in (0, 1) and not 8 <= size <= hi - at:
        return False
    return all(0x20 <= c <= 0x7E for c in content[at + 4:at + 8])


def _probe_mp4(content: bytes) -> dict | None:
    """ISO base-media (MP4/MOV/3GP…) box walk: ftyp brand, mvhd
    duration, per-trak handler + stsd codec / dims / rate. Fragmented
    files (DASH/CMAF — styp or moof/sidx-leading media segments, and
    init segments whose mvhd duration is 0 or all-ones "unknown") get
    their duration from mehd (movie-extends total, mvhd timescale) or
    the sum of sidx subsegment durations (sidx carries its own
    timescale), both header-only under the same step caps. tfdt is
    deliberately NOT used: it is a decode-START timestamp in the
    track's mdhd timescale — without the NEXT segment's tfdt there is
    no duration in it, and a partial sum would under-report."""
    # prose can carry "ftyp" at offset 4 ("the ftyp box…"), so demand
    # a structurally sane leading box before claiming the container
    (size0,) = struct.unpack(">I", content[0:4])
    if not 8 <= size0 <= len(content):
        return None
    out = {"container": "mp4", "kind": None, "codec": None,
           "duration_ms": None, "width": None, "height": None,
           "sample_rate": None, "channels": None}
    cur_handler = None  # the enclosing trak's hdlr type
    mvhd_scale = None  # mvhd timescale (mehd durations use it)
    mehd_units = None  # mvex/mehd fragment_duration
    sidx_ms = 0.0  # summed sidx subsegment durations

    def boxes(lo: int, hi: int):
        pos = lo
        steps = 0
        while pos + 8 <= hi and steps < _MAX_PROBE_STEPS:
            steps += 1
            (size,) = struct.unpack(">I", content[pos:pos + 4])
            btype = content[pos + 4:pos + 8]
            body = pos + 8
            if size == 1:
                if pos + 16 > hi:
                    return
                (size,) = struct.unpack(">Q", content[pos + 8:pos + 16])
                body = pos + 16
            elif size == 0:
                size = hi - pos
            if size < 8 or pos + size > hi:
                return
            yield btype, body, pos + size
            pos += size

    def walk(lo, hi, path=()):
        nonlocal cur_handler, mvhd_scale, mehd_units, sidx_ms
        for btype, body, end in boxes(lo, hi):
            p = path + (btype,)
            if btype in (b"ftyp", b"styp") and out["codec"] is None:
                out["codec"] = content[body:body + 4].decode(
                    "ascii", "replace").strip()
            elif btype == b"mvhd":
                ver = content[body]
                if ver == 1:
                    scale, dur = struct.unpack(
                        ">IQ", content[body + 20:body + 32])
                    unknown = dur == (1 << 64) - 1
                else:
                    scale, dur = struct.unpack(
                        ">II", content[body + 12:body + 20])
                    unknown = dur == (1 << 32) - 1
                mvhd_scale = scale or None
                # all-ones = "unknown" per ISO 14496-12 §8.2.2 (the
                # fragmented-file convention); 0 is what init
                # segments write — both defer to mehd/sidx below
                if scale and not unknown:
                    out["duration_ms"] = dur * 1000.0 / scale
            elif btype == b"mehd":
                # movie-extends total fragment duration, in the mvhd
                # timescale (resolved after the walk: mvex follows
                # mvhd inside moov, but stay order-agnostic). Reads
                # clamp to the box's own extent: an undersized mehd
                # must be SKIPPED, not read into the next box's bytes
                # (review finding r12)
                ver = content[body]
                need = 12 if ver == 1 else 8
                if body + need <= end:
                    mehd_units = struct.unpack(
                        ">Q" if ver == 1 else ">I",
                        content[body + 4:body + need])[0]
            elif btype == b"sidx":
                # segment index: its own timescale + per-reference
                # subsegment durations. Only MEDIA references
                # (reference_type 0) are summed: in a hierarchical
                # index a parent's sidx-type references already cover
                # the ranges the child sidx boxes re-report, so
                # summing every box double-counts (review finding
                # r12); leaf-only summation is exact for both flat
                # and daisy-chained layouts
                ver = content[body]
                refs = body + 12 + (16 if ver == 1 else 8) + 4
                if body + 12 <= end and refs <= end:
                    (tscale,) = struct.unpack(
                        ">I", content[body + 8:body + 12])
                    (n_refs,) = struct.unpack(
                        ">H", content[refs - 2:refs])
                    n_refs = min(n_refs, (end - refs) // 12,
                                 _MAX_PROBE_STEPS)
                    if tscale:
                        units = sum(
                            struct.unpack(
                                ">I", content[refs + 12 * i + 4:
                                              refs + 12 * i + 8])[0]
                            for i in range(n_refs)
                            if not content[refs + 12 * i] & 0x80)
                        sidx_ms += units * 1000.0 / tscale
            elif btype == b"hdlr":
                cur_handler = content[body + 8:body + 12]
                if cur_handler == b"vide":
                    out["kind"] = "video"
                elif cur_handler == b"soun" \
                        and out["kind"] != "video":
                    out["kind"] = "audio"
                elif cur_handler == b"pict" and out["kind"] is None:
                    # HEIF/AVIF still image: the handler lives in the
                    # meta box (no moov trak at all)
                    out["kind"] = "image"
            elif btype == b"stsd":
                n = struct.unpack(">I", content[body + 4:body + 8])[0]
                e = body + 8  # first sample entry
                if n and e + 36 <= end:
                    fourcc = content[e + 4:e + 8].decode(
                        "ascii", "replace").strip()
                    # visual vs sound entry layouts disambiguated by
                    # the enclosing trak's hdlr (precedes stsd)
                    if cur_handler == b"vide":
                        out["codec"] = fourcc  # video codec wins
                        w, h = struct.unpack(
                            ">HH", content[e + 32:e + 36])
                        if out["width"] is None and w and h:
                            out["width"], out["height"] = w, h
                    elif cur_handler == b"soun":
                        if out["kind"] != "video" \
                                or out["codec"] is None:
                            out["codec"] = fourcc
                        ch, _ss = struct.unpack(
                            ">HH", content[e + 24:e + 28])
                        rate = struct.unpack(
                            ">I", content[e + 32:e + 36])[0] >> 16
                        if out["sample_rate"] is None:
                            out["sample_rate"] = rate or None
                            out["channels"] = ch or None
            if btype in (b"moov", b"trak", b"mdia", b"minf",
                         b"stbl", b"mvex") and len(p) < 8:
                walk(body, end, p)
            elif btype == b"meta" and len(p) < 8:
                # meta is a FullBox in ISO-BMFF (4 version/flags bytes
                # precede its children, where HEIF/AVIF keep their
                # 'pict' hdlr) but a PLAIN box in QuickTime-brand
                # files; an unconditional +4 misaligns the child scan
                # there and forfeits .mov hdlr info (ADVICE r11).
                # Disambiguate by peeking where the first child would
                # start: ISO meta opens 00 00 00 00 (version+flags),
                # never a plausible box, so the offsets can't both
                # look plausible
                off = 0 if (_plausible_box(content, body, end)
                            and not _plausible_box(
                                content, body + 4, end)) else 4
                walk(body + off, end, p)

    walk(0, len(content))
    if out["duration_ms"] is None or out["duration_ms"] == 0.0:
        # fragmented: mehd (authoritative total) over summed sidx
        if mehd_units is not None and mvhd_scale:
            out["duration_ms"] = mehd_units * 1000.0 / mvhd_scale
        elif sidx_ms > 0:
            out["duration_ms"] = sidx_ms
    if out["kind"] is None:
        # no hdlr reached (moov-at-end file cut by the crawl, or
        # fragment): the ftyp brand still separates audio-only
        # containers (.m4a podcasts) and HEIF/AVIF still images —
        # ubiquitous web image formats whose ISO-BMFF shell otherwise
        # defaulted to 'video', landing image bytes where decode
        # always fails (ADVICE r10) — from the video default
        brand = content[8:12]
        if brand in (b"M4A ", b"M4B ", b"F4A ", b"F4B "):
            out["kind"] = "audio"
        elif brand in (b"avif", b"avis", b"heic", b"heix",
                       b"hevc", b"hevx", b"mif1", b"msf1"):
            out["kind"] = "image"
        else:
            out["kind"] = "video"
    return out


def _ebml_vint(content: bytes, pos: int, keep_marker: bool
               ) -> tuple[int, int]:
    """EBML variable-length integer at ``pos`` -> (value, next_pos)."""
    b0 = content[pos]
    if b0 == 0:
        raise UnsupportedMedia("EBML: invalid vint")
    length = 9 - b0.bit_length()
    v = b0 if keep_marker else b0 & ((1 << (8 - length)) - 1)
    for i in range(1, length):
        v = (v << 8) | content[pos + i]
    return v, pos + length


def _probe_ebml(content: bytes) -> dict | None:
    """Matroska/WebM EBML walk: DocType, Info duration, first
    video/audio TrackEntry codec + dims/rate."""
    out = {"container": "mkv", "kind": None, "codec": None,
           "duration_ms": None, "width": None, "height": None,
           "sample_rate": None, "channels": None}
    scale = 1_000_000  # ns per timestamp unit (Matroska default)
    duration_units = None
    track_type = 0

    def walk(lo: int, hi: int, depth: int):
        nonlocal scale, duration_units, track_type
        pos = lo
        steps = 0
        while pos < hi and steps < _MAX_PROBE_STEPS:
            steps += 1
            try:
                eid, p2 = _ebml_vint(content, pos, True)
                size, body = _ebml_vint(content, p2, False)
            except (IndexError, UnsupportedMedia):
                return
            end = min(body + size, hi)
            data = content[body:end]
            if eid == 0x4282:  # DocType
                dt = data.decode("ascii", "replace").rstrip("\x00")
                out["container"] = "webm" if dt == "webm" else "mkv"
            elif eid == 0x2AD7B1 and data:  # TimestampScale
                scale = int.from_bytes(data, "big")
            elif eid == 0x4489 and len(data) in (4, 8):
                # Duration (float; off-spec lengths skipped — one
                # sloppy muxer element must not void the whole probe)
                duration_units = struct.unpack(
                    ">f" if len(data) == 4 else ">d", data)[0]
            elif eid == 0x83 and data:  # TrackType
                track_type = data[0]
                if track_type == 1:
                    out["kind"] = "video"
                elif track_type == 2 and out["kind"] != "video":
                    out["kind"] = "audio"
            elif eid == 0x86 and data:  # CodecID
                if out["codec"] is None or track_type == 1:
                    out["codec"] = data.decode(
                        "ascii", "replace").rstrip("\x00")
            elif eid == 0xB0 and data:  # PixelWidth
                out["width"] = int.from_bytes(data, "big")
            elif eid == 0xBA and data:  # PixelHeight
                out["height"] = int.from_bytes(data, "big")
            elif eid == 0xB5 and len(data) in (4, 8):
                out["sample_rate"] = int(struct.unpack(  # float field
                    ">f" if len(data) == 4 else ">d", data)[0])
            elif eid == 0x9F and data:  # Channels
                out["channels"] = int.from_bytes(data, "big")
            elif eid in (0x1A45DFA3, 0x18538067, 0x1549A966,
                         0x1654AE6B, 0xAE, 0xE0, 0xE1) and depth < 8:
                # EBML header / Segment / Info / Tracks / TrackEntry /
                # Video / Audio: containers worth descending into
                walk(body, end, depth + 1)
            pos = end

    walk(0, len(content), 0)
    if duration_units is not None:
        out["duration_ms"] = duration_units * scale / 1e6
    return out


#: MPEG-1/2 Layer III bitrate (kbps) and sample-rate tables
_MP3_BITRATES = {
    (1, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
             224, 256, 320, 0),
    (2, 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112,
             128, 144, 160, 0),
}
_MP3_RATES = {1: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              25: (11025, 12000, 8000)}


def _probe_mp3(content: bytes) -> dict | None:
    """MP3 frame-header walk (ID3v2 skipped): rate/channels from the
    first valid frame, duration by summing frame counts (Layer III:
    1152 samples/frame MPEG-1, 576 MPEG-2/2.5)."""
    pos = 0
    if content[:3] == b"ID3" and len(content) >= 10:
        sz = 0
        for b in content[6:10]:
            sz = (sz << 7) | (b & 0x7F)  # syncsafe
        pos = 10 + sz
    out = {"container": "mp3", "kind": "audio", "codec": "mp3",
           "duration_ms": None, "width": None, "height": None,
           "sample_rate": None, "channels": None}
    n_frames = 0
    samples = 0
    rate0 = None
    resync = 0
    capped = False
    # frames get their own generous budget (2M frames ~ 14.5 h of
    # MPEG-1 audio) separate from the byte-at-a-time resync budget:
    # charging frames against _MAX_PROBE_STEPS silently capped
    # duration at ~87 min with no truncation signal
    while pos + 4 <= len(content) and resync < _MAX_PROBE_STEPS:
        if n_frames >= 2_000_000:
            capped = True
            break
        h = struct.unpack(">I", content[pos:pos + 4])[0]
        if h >> 21 != 0x7FF:
            if n_frames:
                break  # trailing tag/junk after valid frames
            pos += 1
            resync += 1
            continue
        ver_bits = (h >> 19) & 3
        layer_bits = (h >> 17) & 3
        if ver_bits == 1 or layer_bits != 1:  # Layer III only
            if n_frames:
                break
            pos += 1
            resync += 1
            continue
        version = {0: 25, 2: 2, 3: 1}[ver_bits]
        br_idx = (h >> 12) & 0xF
        sr_idx = (h >> 10) & 3
        if br_idx in (0, 15) or sr_idx == 3:
            if n_frames:
                break
            pos += 1
            resync += 1
            continue
        rate = _MP3_RATES[version][sr_idx]
        kbps = _MP3_BITRATES[(1 if version == 1 else 2, 3)][br_idx]
        padding = (h >> 9) & 1
        spf = 1152 if version == 1 else 576
        frame_len = spf * kbps * 1000 // 8 // rate + padding
        if frame_len <= 4:
            break
        if rate0 is None:
            rate0 = rate
            out["sample_rate"] = rate
            out["channels"] = 1 if (h >> 6) & 3 == 3 else 2
        n_frames += 1
        samples += spf
        pos += frame_len
    if n_frames == 0:
        return None  # bare sync false positive: not an MP3
    if rate0 and not capped:
        out["duration_ms"] = samples * 1000.0 / rate0
        out["n_frames"] = n_frames
    # capped: duration AND n_frames stay None (unknown) —
    # underreporting a long file would silently mis-bucket curation
    # filters
    return out


def _probe_ogg(content: bytes) -> dict | None:
    """Ogg page walk: codec from the first stream's ID packet
    (Vorbis / Opus / Theora / FLAC-in-Ogg), duration from the last
    page's granule position."""
    out = {"container": "ogg", "kind": None, "codec": None,
           "duration_ms": None, "width": None, "height": None,
           "sample_rate": None, "channels": None}
    pos = 0
    granule_rate = None
    last_granule = None
    steps = 0
    while pos + 27 <= len(content) and steps < _MAX_PROBE_STEPS:
        steps += 1
        if content[pos:pos + 4] != b"OggS":
            break
        granule = struct.unpack("<q", content[pos + 6:pos + 14])[0]
        nsegs = content[pos + 26]
        seg_table = content[pos + 27:pos + 27 + nsegs]
        body = pos + 27 + nsegs
        body_len = sum(seg_table)
        pkt = content[body:body + body_len]
        if out["codec"] is None:
            if pkt[:7] == b"\x01vorbis":
                out["kind"] = "audio"
                out["codec"] = "vorbis"
                out["channels"] = pkt[11]
                out["sample_rate"] = struct.unpack(
                    "<I", pkt[12:16])[0]
                granule_rate = out["sample_rate"]
            elif pkt[:8] == b"OpusHead":
                out["kind"] = "audio"
                out["codec"] = "opus"
                out["channels"] = pkt[9]
                out["sample_rate"] = struct.unpack(
                    "<I", pkt[12:16])[0]
                granule_rate = 48000  # Opus granules are 48 kHz
            elif pkt[:7] == b"\x80theora":
                out["kind"] = "video"
                out["codec"] = "theora"
                if len(pkt) >= 14:
                    out["width"] = int.from_bytes(
                        pkt[10:12], "big") << 4
                    out["height"] = int.from_bytes(
                        pkt[12:14], "big") << 4
            elif pkt[:5] == b"\x7fFLAC":
                out["kind"] = "audio"
                out["codec"] = "flac"
        if granule >= 0:
            last_granule = granule
        pos = body + body_len
    if out["codec"] is None and last_granule is None:
        return None
    if granule_rate and last_granule:
        out["duration_ms"] = last_granule * 1000.0 / granule_rate
    return out


def probe_media(content: bytes) -> dict | None:
    """Bytes -> container/codec metadata dict (container, kind, codec,
    duration_ms, width, height, sample_rate, channels, n_frames) or
    None when no known container matches. Never raises on hostile
    bytes — a probe that cannot parse returns what it saw or None.
    ``n_frames``: frame count for the animated containers (GIF,
    animated WebP, Motion-PNG) and the directory-entry count (the
    size ladder) for ICO; None where the container has no cheap
    header-side count."""
    out = _probe_media_unchecked(content)
    if out is not None:
        out.setdefault("n_frames", None)
    return out


def _probe_media_unchecked(content: bytes) -> dict | None:
    try:
        if not content:
            return None
        if content[:8] == _PNG_MAGIC:
            w, h = struct.unpack(">II", content[16:24])
            return {"container": "png", "kind": "image",
                    "codec": "png", "duration_ms": None,
                    "width": w, "height": h,
                    "sample_rate": None, "channels": None}
        if content[:3] == b"\xff\xd8\xff":
            w = h = None
            pos = 2
            while pos + 9 < len(content):
                if content[pos] != 0xFF:
                    break
                marker = content[pos + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    pos += 2
                    continue
                (seglen,) = struct.unpack(
                    ">H", content[pos + 2:pos + 4])
                if 0xC0 <= marker <= 0xCF and marker not in (
                        0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(
                        ">HH", content[pos + 5:pos + 9])
                    break
                pos += 2 + seglen
            return {"container": "jpeg", "kind": "image",
                    "codec": "jpeg", "duration_ms": None,
                    "width": w, "height": h,
                    "sample_rate": None, "channels": None}
        if content[:6] in _GIF_MAGICS:
            w, h = struct.unpack("<HH", content[6:10])
            # unbounded count (default stop_at=2 only classifies
            # animated-vs-static): length-skipping walk, no decode
            frames = gif_frame_count(content, stop_at=1 << 30)
            return {"container": "gif",
                    "kind": "video" if frames >= 2 else "image",
                    "codec": "gif", "duration_ms": None,
                    "width": w, "height": h,
                    "sample_rate": None, "channels": None,
                    "n_frames": frames}
        if is_webp(content):
            w = h = None
            for tag, _size, body in _webp_chunks(content):
                if tag == b"VP8X" and len(body) >= 10:
                    w = _u24le(body, 4) + 1
                    h = _u24le(body, 7) + 1
                    break
                if tag == b"VP8L" and len(body) >= 5 \
                        and body[0] == 0x2F:
                    bits = int.from_bytes(body[1:5], "little")
                    w = (bits & 0x3FFF) + 1
                    h = ((bits >> 14) & 0x3FFF) + 1
                    break
                if tag == b"VP8 " and len(body) >= 10:
                    w = int.from_bytes(body[6:8], "little") & 0x3FFF
                    h = int.from_bytes(body[8:10], "little") & 0x3FFF
                    break
            # unbounded count (default stop_at=2 only classifies
            # animated-vs-static): still one header-only chunk walk
            frames = webp_frame_count(content, stop_at=1 << 30)
            return {"container": "webp",
                    "kind": "video" if frames >= 2 else "image",
                    "codec": "vp8l" if content[12:16] == b"VP8L"
                    else "webp", "duration_ms": None,
                    "width": w, "height": h,
                    "sample_rate": None, "channels": None,
                    "n_frames": frames}
        if content[:4] == b"\x00\x00\x01\x00" and len(content) >= 22:
            try:
                entries = list(_ico_entries(content))
                w, h, _b, _s2, _o = max(
                    entries, key=lambda t: (t[0] * t[1], t[2]))
            except UnsupportedMedia:
                return None
            return {"container": "ico", "kind": "image",
                    "codec": "ico", "duration_ms": None,
                    "width": w, "height": h,
                    "sample_rate": None, "channels": None,
                    "n_frames": len(entries)}
        if content[:2] == b"BM" and len(content) >= 26:
            (hdr_size,) = struct.unpack("<I", content[14:18])
            if hdr_size in (12, 40, 52, 56, 64, 108, 124):
                if hdr_size == 12:  # OS/2 core header: WORD dims
                    w, h = struct.unpack("<HH", content[18:22])
                else:
                    w, h = struct.unpack("<ii", content[18:26])
                return {"container": "bmp", "kind": "image",
                        "codec": "bmp", "duration_ms": None,
                        "width": abs(w) or None,
                        "height": abs(h) or None,
                        "sample_rate": None, "channels": None}
        if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
            # header walk only — probing a 1 GB WAV must not decode
            # its frames (the whole point of the probe surface)
            rate = channels = bits = fmt_tag = None
            data_size = None
            pos = 12
            steps = 0
            while pos + 8 <= len(content) \
                    and steps < _MAX_PROBE_STEPS:
                steps += 1
                tag = content[pos:pos + 4]
                (size,) = struct.unpack("<I", content[pos + 4:pos + 8])
                if tag == b"fmt " and size >= 16:
                    fmt_tag, channels, rate = struct.unpack(
                        "<HHI", content[pos + 8:pos + 16])
                    (bits,) = struct.unpack(
                        "<H", content[pos + 22:pos + 24])
                elif tag == b"data":
                    data_size = min(size, len(content) - pos - 8)
                pos += 8 + size + (size & 1)
            frame_bytes = ((channels or 0) * ((bits or 0) // 8))
            pcm_name = f"pcm_{bits}" if bits else "pcm"
            # 0xFFFE = WAVE_FORMAT_EXTENSIBLE, the standard wrapper
            # for >16-bit/multichannel PCM; fmt-less files stay the
            # plain "pcm" guess rather than an opaque tag string
            codec = {None: "pcm", 1: pcm_name, 3: "pcm_float",
                     6: "alaw", 7: "ulaw", 0xFFFE: pcm_name}.get(
                fmt_tag, f"wav_fmt_{fmt_tag}")
            return {"container": "wav", "kind": "audio",
                    "codec": codec,
                    "duration_ms": (data_size // frame_bytes)
                    * 1000.0 / rate
                    if rate and frame_bytes and data_size is not None
                    else None,
                    "width": None, "height": None,
                    "sample_rate": rate, "channels": channels}
        if content[:4] == _FLAC_MAGIC:
            rate, channels, _bps, total = _flac_streaminfo_fields(
                content[8:8 + 34])
            return {"container": "flac", "kind": "audio",
                    "codec": "flac",
                    "duration_ms": total * 1000.0 / rate
                    if rate else None,
                    "width": None, "height": None,
                    "sample_rate": rate, "channels": channels}
        if content[:4] == _MPNG_MAGIC and len(content) >= 11:
            _v, n_frames, micros = struct.unpack(
                ">BHI", content[4:11])
            return {"container": "mpng", "kind": "video",
                    "codec": "png",
                    "duration_ms": n_frames * micros / 1000.0,
                    "width": None, "height": None,
                    "sample_rate": None, "channels": None,
                    "n_frames": n_frames}
        if content[4:8] in (b"ftyp", b"styp", b"moof", b"sidx"):
            # styp/moof/sidx-leading: DASH/CMAF media segments, which
            # crawls ship ftyp-less; _probe_mp4's structural size
            # check still rejects prose that merely contains a fourcc
            return _probe_mp4(content)
        if content[:4] == b"\x1aE\xdf\xa3":
            return _probe_ebml(content)
        if content[:4] == b"OggS":
            return _probe_ogg(content)
        if content[:3] == b"ID3" or (
                len(content) > 4
                and content[0] == 0xFF
                and content[1] & 0xE0 == 0xE0):
            return _probe_mp3(content)
        return None
    except (IndexError, ValueError, struct.error, UnsupportedMedia,
            KeyError, zlib.error, EOFError, wave.Error):
        return None


# ---------------------------------------------------------------------------
# JPEG — baseline sequential DCT (ITU-T T.81, public specification).
#
# Real pretraining image corpora are overwhelmingly JPEG; without a
# decoder the perceptual-dedup stack cannot run on an actual crawl's
# images (r7 verdict "what's missing" #1). The container ships no PIL,
# so this is a dependency-free numpy implementation of the baseline
# process: marker parse, Huffman entropy decode (byte unstuffing,
# DRI/RST restart intervals), dequantize, inverse zigzag, 8x8 IDCT as
# one einsum over all blocks, chroma upsampling for 4:2:0/4:2:2, JFIF
# YCbCr -> RGB. Progressive (SOF2) decodes natively too (r9 verdict
# #5): multi-scan spectral selection + successive approximation,
# interleaved/non-interleaved DC scans, AC first and refinement passes
# with cross-block EOB runs, accumulated into dense per-component
# coefficient arrays and reconstructed through the same IDCT path as
# baseline. Arithmetic coding, lossless, hierarchical, and 12-bit
# precision raise UnsupportedMedia — ``multimodal._decode_image_real``
# falls through to PIL for those when installed (the AvroIO
# jar-else-builtin precedent).
#
# ``encode_jpeg`` emits spec-valid baseline files for fixtures: 4:4:4
# or 4:2:0, flat all-ones quantization by default (legal, near-lossless
# — reconstruction error comes only from DCT coefficient rounding), and
# self-defined canonical Huffman tables (fixed code length per class;
# custom DHT tables are fully legal and exercise the decoder's generic
# table builder rather than hard-coded Annex K constants).
# ---------------------------------------------------------------------------

#: row-major block positions in zigzag scan order (T.81 figure A.6)
_JPEG_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)


def _dct_basis() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix: F = C @ b @ C.T,
    b = C.T @ F @ C."""
    k = np.arange(8).reshape(8, 1)
    n = np.arange(8).reshape(1, 8)
    c = np.cos((2 * n + 1) * k * np.pi / 16) / 2.0
    c[0, :] /= np.sqrt(2.0)
    return c


_DCT_C = _dct_basis()


def _split_entropy(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Pre-scan one scan's entropy region: unstuff 0xFF00 -> 0xFF and
    split at RSTn markers (C-speed ``bytes.find``, not a Python
    per-byte loop). Returns (restart segments, next-marker position)."""
    segs: list[bytes] = []
    cur = bytearray()
    i = pos
    n = len(data)
    while True:
        nxt = data.find(b"\xff", i)
        if nxt == -1:
            cur += data[i:]
            i = n
            break
        cur += data[i:nxt]
        if nxt + 1 >= n:
            i = n
            break
        m = data[nxt + 1]
        if m == 0x00:
            cur.append(0xFF)
            i = nxt + 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i = nxt + 2
        else:
            i = nxt  # a real marker terminates the scan
            break
    segs.append(bytes(cur))
    return segs, i


#: bits of zero padding a reader may synthesize past its segment's end
#: before the stream counts as truncated — the final symbols of a legal
#: scan peek up to 16 bits beyond the last real bit, never more than a
#: few tens (T.81 pads the flush byte with 1-bits, our peek tolerates
#: either)
_JPEG_PAD_LIMIT = 64


class _JpegBitReader:
    """MSB-first bit reader over pre-unstuffed entropy segments with a
    16-bit peek window for table-driven Huffman decode. Feeding the
    old per-bit loop one bit at a time made decode ~0.2 MP/s; the
    peek/LUT pair runs each Huffman symbol in a handful of int ops."""

    __slots__ = ("segs", "seg", "idx", "spos", "acc", "nbits", "pad",
                 "pos")

    def __init__(self, data: bytes, pos: int):
        self.segs, self.pos = _split_entropy(data, pos)
        self.idx = 0
        self.seg = self.segs[0]
        self.spos = 0
        self.acc = 0
        self.nbits = 0
        self.pad = 0

    def _fill(self) -> None:
        take = min(8, len(self.seg) - self.spos)
        if take > 0:
            self.acc = ((self.acc << (8 * take))
                        | int.from_bytes(
                            self.seg[self.spos:self.spos + take], "big"))
            self.nbits += 8 * take
            self.spos += take
        else:
            # marker reached: synthesize padding, bounded so a truly
            # truncated stream still fails loudly
            self.pad += 16
            if self.pad > _JPEG_PAD_LIMIT:
                raise UnsupportedMedia("JPEG entropy stream truncated")
            self.acc <<= 16
            self.nbits += 16

    def peek16(self) -> int:
        while self.nbits < 16:
            self._fill()
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def skip(self, k: int) -> None:
        self.nbits -= k
        self.acc &= (1 << self.nbits) - 1

    def receive(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = self.acc >> self.nbits
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_bit(self) -> int:
        return self.receive(1)

    def decode(self, lut: tuple[list[int], list[int]]) -> int:
        """One Huffman symbol via the 16-bit-prefix lookup tables."""
        v = self.peek16()
        sym = lut[0][v]
        if sym < 0:
            raise UnsupportedMedia("invalid JPEG Huffman code")
        self.skip(lut[1][v])
        return sym

    def restart(self) -> None:
        """Byte-align and move past one RSTn marker (= advance to the
        next pre-split segment)."""
        if self.idx + 1 >= len(self.segs):
            raise UnsupportedMedia("JPEG restart marker missing")
        self.idx += 1
        self.seg = self.segs[self.idx]
        self.spos = 0
        self.acc = 0
        self.nbits = 0
        self.pad = 0


def _huff_lut(table: dict) -> tuple[list[int], list[int]]:
    """(symbol, code length) lookup lists indexed by the next 16 bits;
    -1 symbol marks an invalid prefix."""
    sym = [-1] * 65536
    ln = [0] * 65536
    for (length, code), s in table.items():
        lo = code << (16 - length)
        span = 1 << (16 - length)
        sym[lo:lo + span] = [s] * span
        ln[lo:lo + span] = [length] * span
    return sym, ln


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map an s-bit magnitude to its signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(content: bytes):
    """Baseline JPEG bytes -> (pixels uint8 [h, w, channels], width,
    height, channels); channels is 3 (YCbCr -> RGB) or 1 (grayscale).

    EVERY structurally malformed input surfaces as ``UnsupportedMedia``
    (never a raw KeyError/ValueError/IndexError), so callers catching
    the documented error surface see every undecodable blob the same
    way and the PIL fall-through in ``_decode_image_real`` gets its
    chance (r8 review finding)."""
    try:
        return _decode_jpeg_unchecked(content)
    except UnsupportedMedia:
        raise
    except (KeyError, ValueError, IndexError, struct.error) as e:
        raise UnsupportedMedia(
            f"malformed JPEG structure: {type(e).__name__}: {e}") from e


def _decode_jpeg_unchecked(content: bytes):
    if content[:2] != b"\xff\xd8":
        raise UnsupportedMedia("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id)
    frame = None
    restart_interval = 0
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise UnsupportedMedia(f"JPEG marker expected at {pos}")
        # T.81 B.1.1.2: markers may be preceded by any number of 0xFF
        # fill bytes — skip them (r8 review finding)
        while pos + 1 < len(content) and content[pos + 1] == 0xFF:
            pos += 1
        marker = content[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI: a progressive frame is now complete
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
            continue  # standalone
        (seglen,) = struct.unpack(">H", content[pos:pos + 2])
        seg = content[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT
            s = 0
            while s < len(seg):
                pq, tq = seg[s] >> 4, seg[s] & 0xF
                if pq != 0:
                    raise UnsupportedMedia("16-bit JPEG quant table")
                qt[tq] = np.frombuffer(
                    seg[s + 1:s + 65], dtype=np.uint8).astype(np.int32)
                s += 65
        elif marker == 0xC4:  # DHT
            s = 0
            while s < len(seg):
                tc, th = seg[s] >> 4, seg[s] & 0xF
                counts = list(seg[s + 1:s + 17])
                syms = seg[s + 17:s + 17 + sum(counts)]
                table = {}
                code = 0
                i = 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = syms[i]
                        code += 1
                        i += 1
                    code <<= 1
                huff[(tc, th)] = table
                s += 17 + sum(counts)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise UnsupportedMedia("12-bit JPEG precision")
            if w == 0 or h == 0:
                raise UnsupportedMedia("JPEG: zero frame dimension")
            # decompression-bomb gate: the scan stage allocates one
            # float64 plane per component (~w*h*8 bytes each) before a
            # single entropy byte is read, so the dimensions alone must
            # clear the ceiling
            if w * h * max(nc, 1) * 8 > _MAX_DECODED_BYTES:
                raise UnsupportedMedia(
                    f"JPEG: {w}x{h}x{nc} decodes past the "
                    f"{_MAX_DECODED_BYTES >> 20} MiB ceiling")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
                ch, cv = hv >> 4, hv & 0xF
                # T.81 B.2.2: sampling factors are 1..4; zero would
                # reach reconstruction as a division by zero, escaping
                # the UnsupportedMedia error surface (r10 review)
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise UnsupportedMedia(
                        f"JPEG sampling factor {ch}x{cv} outside 1..4")
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps,
                     "progressive": marker == 0xC2, "scans": 0}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise UnsupportedMedia(
                "non-baseline JPEG (lossless/arithmetic/hierarchical) "
                "— PIL decodes these when installed")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS: entropy data follows
            if frame is None:
                raise UnsupportedMedia("JPEG SOS before SOF")
            ns = seg[0]
            sel = {}
            for i in range(ns):
                cs, tds = seg[1 + 2 * i:3 + 2 * i]
                sel[cs] = (tds >> 4, tds & 0xF)
            if frame["progressive"]:
                # progressive: this scan updates the accumulated
                # coefficient arrays; more scans (and DHT/DRI
                # segments) follow until EOI
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                pos = _jpeg_progressive_scan(
                    content, pos + seglen, frame, huff, sel,
                    ss, se, ahal >> 4, ahal & 0xF, restart_interval)
                continue
            pos += seglen
            return _jpeg_scan(content, pos, frame, qt, huff, sel,
                              restart_interval)
        pos += seglen
    if frame is not None and frame["progressive"] and frame["scans"]:
        # EOI (or end of data): every scan's contribution is in the
        # coefficient arrays
        return _jpeg_reconstruct(frame, qt)
    raise UnsupportedMedia("JPEG has no SOS segment")


def _jpeg_init_coef(frame) -> None:
    """Per-component dense coefficient arrays ``[bh, bw, 64]`` (zigzag
    order) sized to the MCU-padded grid, plus the NON-interleaved grid
    dims (``bw_ni``/``bh_ni``, T.81 A.1.1) progressive single-component
    scans iterate over."""
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    frame["mcux"] = -(-w // (8 * hmax))
    frame["mcuy"] = -(-h // (8 * vmax))
    for c in comps:
        c["pred"] = 0
        c["bw"] = frame["mcux"] * c["h"]
        c["bh"] = frame["mcuy"] * c["v"]
        comp_w = -(-(w * c["h"]) // hmax)
        comp_h = -(-(h * c["v"]) // vmax)
        c["bw_ni"] = -(-comp_w // 8)
        c["bh_ni"] = -(-comp_h // 8)
        c["coef"] = np.zeros((c["bh"], c["bw"], 64), dtype=np.int32)


def _jpeg_scan(data, pos, frame, qt, huff, sel, restart_interval):
    """Baseline: the single interleaved scan fills every block's
    coefficients, then reconstruction runs immediately."""
    comps = frame["comps"]
    _jpeg_init_coef(frame)
    for c in comps:
        if c["id"] not in sel:
            raise UnsupportedMedia(
                "non-interleaved sequential JPEG scans — PIL decodes "
                "these when installed")
    luts: dict = {}
    comp_meta = []
    for c in comps:
        for key in ((0, sel[c["id"]][0]), (1, sel[c["id"]][1])):
            if key not in luts:
                if key not in huff:
                    raise UnsupportedMedia("JPEG scan references an "
                                           "undefined Huffman table")
                luts[key] = _huff_lut(huff[key])
        dcsym, dclen = luts[(0, sel[c["id"]][0])]
        acsym, aclen = luts[(1, sel[c["id"]][1])]
        # [dcsym, dclen, acsym, aclen, v, h, bw, positions, values, pred]
        comp_meta.append([dcsym, dclen, acsym, aclen, c["v"], c["h"],
                          c["bw"], [], [], 0])

    # The entropy loop below is deliberately INLINED — reader method
    # calls cost ~1 us per Huffman symbol, which at crawl scale made
    # decode ~0.5 MP/s; with the bit state in locals, one
    # int.from_bytes refill per ~64 bits, and coefficient writes
    # batched into one vectorized scatter per component, the same loop
    # runs several times faster. Bit semantics are identical to
    # _JpegBitReader (peek16/LUT, EXTEND, bounded zero padding at the
    # segment end).
    segs, _end = _split_entropy(data, pos)
    n_segs = len(segs)
    seg_idx = 0
    seg = segs[0]
    slen = len(seg)
    spos = 0
    acc = 0
    nbits = 0
    padded = 0
    mcu_count = 0
    for my in range(frame["mcuy"]):
        for mx in range(frame["mcux"]):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                seg_idx += 1
                if seg_idx >= n_segs:
                    raise UnsupportedMedia("JPEG restart marker missing")
                seg = segs[seg_idx]
                slen = len(seg)
                spos = 0
                acc = 0
                nbits = 0
                padded = 0
                for m in comp_meta:
                    m[9] = 0
            for m in comp_meta:
                (dcsym, dclen, acsym, aclen, cv, ch, bw,
                 positions, values, _pred) = m
                for by in range(cv):
                    for bx in range(ch):
                        base = ((my * cv + by) * bw
                                + (mx * ch + bx)) * 64
                        # 32 buffered bits cover one symbol (<=16) plus
                        # its magnitude bits (<=11)
                        while nbits < 32:
                            take = slen - spos
                            if take > 0:
                                if take > 8:
                                    take = 8
                                acc = ((acc << (take << 3))
                                       | int.from_bytes(
                                           seg[spos:spos + take], "big"))
                                spos += take
                                nbits += take << 3
                            else:
                                padded += 16
                                if padded > _JPEG_PAD_LIMIT:
                                    raise UnsupportedMedia(
                                        "JPEG entropy stream truncated")
                                acc <<= 16
                                nbits += 16
                        v16 = (acc >> (nbits - 16)) & 0xFFFF
                        s = dcsym[v16]
                        if s < 0:
                            raise UnsupportedMedia(
                                "invalid JPEG Huffman code")
                        if s > 11:
                            # T.81 F.1.2.1.1: 8-bit DC categories stop
                            # at 11; larger symbols are only reachable
                            # from a hostile DHT
                            raise UnsupportedMedia(
                                "JPEG DC category > 11")
                        nbits -= dclen[v16]
                        if s:
                            nbits -= s
                            r = (acc >> nbits) & ((1 << s) - 1)
                            m[9] += (r if r >= (1 << (s - 1))
                                     else r - (1 << s) + 1)
                            if not (-2147483648 <= m[9] <= 2147483647):
                                # hostile stream walking the predictor
                                # out of int32: contain via two's-
                                # complement wrap (valid streams never
                                # get here; numpy >= 2 would otherwise
                                # raise OverflowError at the scatter)
                                m[9] = ((m[9] + 2147483648) % 4294967296
                                        - 2147483648)
                        positions.append(base)
                        values.append(m[9])
                        k = 1
                        while k < 64:
                            while nbits < 32:
                                take = slen - spos
                                if take > 0:
                                    if take > 8:
                                        take = 8
                                    acc = ((acc << (take << 3))
                                           | int.from_bytes(
                                               seg[spos:spos + take],
                                               "big"))
                                    spos += take
                                    nbits += take << 3
                                else:
                                    padded += 16
                                    if padded > _JPEG_PAD_LIMIT:
                                        raise UnsupportedMedia(
                                            "JPEG entropy stream "
                                            "truncated")
                                    acc <<= 16
                                    nbits += 16
                            v16 = (acc >> (nbits - 16)) & 0xFFFF
                            rs = acsym[v16]
                            if rs < 0:
                                raise UnsupportedMedia(
                                    "invalid JPEG Huffman code")
                            nbits -= aclen[v16]
                            size = rs & 0xF
                            if size == 0:
                                if rs == 0xF0:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += rs >> 4
                            if k > 63:
                                raise UnsupportedMedia(
                                    "JPEG AC index overflow")
                            nbits -= size
                            r = (acc >> nbits) & ((1 << size) - 1)
                            positions.append(base + k)
                            values.append(
                                r if r >= (1 << (size - 1))
                                else r - (1 << size) + 1)
                            k += 1
                        # keep acc bounded (one mask per block, not per
                        # symbol)
                        acc &= (1 << nbits) - 1
            mcu_count += 1
    for c, m in zip(comps, comp_meta):
        if m[7]:
            flat = c["coef"].reshape(-1)
            flat[np.asarray(m[7], dtype=np.int64)] = np.asarray(
                m[8], dtype=np.int64)
    return _jpeg_reconstruct(frame, qt)


def _jpeg_reconstruct(frame, qt):
    """Coefficient arrays -> pixels: dequantize, inverse zigzag, one
    einsum IDCT over all blocks, upsample, YCbCr -> RGB. Shared by the
    baseline scan and the progressive accumulation path."""
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for c in comps:
        q = qt[c["tq"]]
        zz = c["coef"].reshape(-1, 64)
        deq = (zz * q[np.newaxis, :]).astype(np.float64)
        blocks = np.zeros((len(zz), 64))
        blocks[:, _JPEG_ZIGZAG] = deq
        blocks = blocks.reshape(-1, 8, 8)
        # IDCT for every block at once: b = C.T @ F @ C
        spat = np.einsum("ki,nkl,lj->nij", _DCT_C, blocks, _DCT_C)
        plane = (spat.reshape(c["bh"], c["bw"], 8, 8)
                 .transpose(0, 2, 1, 3)
                 .reshape(c["bh"] * 8, c["bw"] * 8))
        plane = plane + 128.0
        # upsample to full resolution (nearest — JFIF allows any)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        gray = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return gray[:, :, np.newaxis], w, h, 1
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8), w, h, 3


# -- progressive (SOF2) scan decoding, T.81 G.2: each scan delivers a
#    spectral band (Ss..Se) of each block at a precision (Al), either
#    as a FIRST pass (Ah=0, Huffman-coded magnitudes shifted left by
#    Al) or a REFINEMENT pass (Ah=Al+1, one correction bit per
#    already-nonzero coefficient plus newly-nonzero insertions). DC
#    scans may be interleaved across components; AC scans are always
#    single-component and iterate the component's non-interleaved
#    block grid. EOB runs (EOBn) span blocks within one scan.


def _jpeg_next_marker(data: bytes, pos: int) -> int:
    """Position of the next real marker at/after ``pos`` (skips stuffed
    0xFF00 and RSTn, which belong to the entropy stream)."""
    while pos + 1 < len(data):
        if data[pos] == 0xFF and data[pos + 1] != 0x00 \
                and not (0xD0 <= data[pos + 1] <= 0xD7):
            return pos
        pos += 1
    raise UnsupportedMedia("JPEG truncated after progressive scan")


def _jpeg_progressive_scan(data, pos, frame, huff, sel, ss, se, ah, al,
                           restart_interval):
    """Decode one progressive scan's entropy data into the frame's
    coefficient arrays; returns the next marker's position."""
    if frame["scans"] == 0:
        _jpeg_init_coef(frame)
    scan_comps = [c for c in frame["comps"] if c["id"] in sel]
    if not scan_comps:
        raise UnsupportedMedia("JPEG scan selects no frame component")
    reader = _JpegBitReader(data, pos)
    if ss == 0:
        if se != 0:
            raise UnsupportedMedia(
                "progressive DC scan with nonzero Se")
        _jpeg_prog_dc(reader, frame, scan_comps, huff, sel, ah, al,
                      restart_interval)
    else:
        if len(scan_comps) != 1:
            raise UnsupportedMedia(
                "progressive AC scan must select one component")
        if se > 63 or ss > se:
            raise UnsupportedMedia("bad progressive spectral band")
        _jpeg_prog_ac(reader, scan_comps[0], huff, sel, ss, se, ah, al,
                      restart_interval)
    frame["scans"] += 1
    return _jpeg_next_marker(data, reader.pos)


def _jpeg_prog_dc(reader, frame, comps, huff, sel, ah, al, ri):
    for c in comps:
        c["pred"] = 0
        if ah == 0:
            key = (0, sel[c["id"]][0])
            if key not in huff:
                raise UnsupportedMedia(
                    "JPEG scan references an undefined Huffman table")
            c["dc_lut"] = _huff_lut(huff[key])

    def block(c, by, bx):
        coeff = c["coef"][by, bx]
        if ah == 0:
            s = reader.decode(c["dc_lut"])
            if s > 11:
                raise UnsupportedMedia("JPEG DC category > 11")
            c["pred"] += _extend(reader.receive(s), s)
            v = c["pred"] << al
            if not (-2147483648 <= v <= 2147483647):
                # hostile-stream containment, same as the baseline loop
                v = (v + 2147483648) % 4294967296 - 2147483648
            coeff[0] = v
        elif reader.read_bit():
            coeff[0] |= 1 << al

    n = 0
    if len(comps) > 1:  # interleaved: MCU order over the padded grid
        for my in range(frame["mcuy"]):
            for mx in range(frame["mcux"]):
                if ri and n and n % ri == 0:
                    reader.restart()
                    for c in comps:
                        c["pred"] = 0
                for c in comps:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            block(c, my * c["v"] + by, mx * c["h"] + bx)
                n += 1
    else:  # single-component scans are never interleaved (T.81 A.2.2)
        c = comps[0]
        for by in range(c["bh_ni"]):
            for bx in range(c["bw_ni"]):
                if ri and n and n % ri == 0:
                    reader.restart()
                    c["pred"] = 0
                block(c, by, bx)
                n += 1


def _jpeg_prog_ac(reader, c, huff, sel, ss, se, ah, al, ri):
    key = (1, sel[c["id"]][1])
    if key not in huff:
        raise UnsupportedMedia(
            "JPEG scan references an undefined Huffman table")
    ac_t = _huff_lut(huff[key])
    eobrun = 0
    n = 0
    for by in range(c["bh_ni"]):
        for bx in range(c["bw_ni"]):
            if ri and n and n % ri == 0:
                reader.restart()
                eobrun = 0
            coeff = c["coef"][by, bx]
            if ah == 0:
                eobrun = _jpeg_ac_first(reader, ac_t, coeff, ss, se,
                                        al, eobrun)
            else:
                eobrun = _jpeg_ac_refine(reader, ac_t, coeff, ss, se,
                                         al, eobrun)
            n += 1


def _jpeg_ac_first(reader, ac_t, coeff, ss, se, al, eobrun):
    """First pass for an AC band: run/size coding like baseline but
    magnitudes arrive shifted by Al and EOBn symbols start a run of
    blocks whose remaining band is all-zero."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode(ac_t)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r != 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.receive(r)
                return eobrun  # this block's EOB consumed one run slot
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise UnsupportedMedia("JPEG progressive AC index overflow")
        coeff[k] = _extend(reader.receive(s), s) << al
        k += 1
    return 0


def _jpeg_ac_refine(reader, ac_t, coeff, ss, se, al, eobrun):
    """Refinement pass for an AC band (T.81 G.1.2.3): every coefficient
    already nonzero contributes one correction bit as the position
    cursor passes it; run/size symbols insert newly-nonzero
    coefficients of magnitude 1 << Al."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode(ac_t)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                # r == 15: ZRL — pass 16 zero-history positions
                s = 0
            elif s == 1:
                s = p1 if reader.read_bit() else m1
            else:
                raise UnsupportedMedia(
                    "JPEG AC refinement magnitude != 1")
            while k <= se:
                if coeff[k] != 0:
                    if reader.read_bit() and (coeff[k] & p1) == 0:
                        coeff[k] += p1 if coeff[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                coeff[k] = s
            k += 1
    if eobrun > 0:
        while k <= se:
            if coeff[k] != 0:
                if reader.read_bit() and (coeff[k] & p1) == 0:
                    coeff[k] += p1 if coeff[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _huff_spec(nsyms: int):
    """Canonical fixed-length Huffman spec for ``nsyms`` symbols: the
    smallest L with 2**L > nsyms (strict, so the all-ones code of the
    maximum length stays reserved per T.81 C.2)."""
    length = 1
    while (1 << length) <= nsyms:
        length += 1
    counts = [0] * 16
    counts[length - 1] = nsyms
    return counts


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # 1-pad


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _jpeg_forward(pixels: np.ndarray, subsample: str, quant_scale: int):
    """Shared encoder front half: validate, color-convert, subsample,
    pad, forward-DCT and quantize. Returns (comp_blocks [bh, bw, 64]
    zigzag int64 per component, sampling, q, w, h, mcux, mcuy)."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, np.newaxis]
    h, w, nc = pixels.shape
    if nc not in (1, 3):
        raise UnsupportedMedia("encode_jpeg wants 1 or 3 channels")
    if subsample not in ("444", "420"):
        raise UnsupportedMedia("subsample must be '444' or '420'")
    if nc == 1:
        subsample = "444"
    px = pixels.astype(np.float64)
    if nc == 3:
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
    else:
        planes = [px[:, :, 0]]
    if subsample == "420" and nc == 3:
        sampling = [(2, 2), (1, 1), (1, 1)]
        # box-average chroma to half resolution (pad to even first)
        def _down(p):
            pe = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)),
                        mode="edge")
            return (pe[0::2, 0::2] + pe[0::2, 1::2]
                    + pe[1::2, 0::2] + pe[1::2, 1::2]) / 4.0
        planes = [planes[0], _down(planes[1]), _down(planes[2])]
    else:
        sampling = [(1, 1)] * nc
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    q = np.full(64, int(quant_scale), dtype=np.int32)

    # per-plane forward DCT + quantize, gathered per block position
    comp_blocks = []
    for p, (sh, sv) in zip(planes, sampling):
        bw, bh = mcux * sh, mcuy * sv
        padded = np.empty((bh * 8, bw * 8))
        padded[:p.shape[0], :p.shape[1]] = p
        if p.shape[0] < bh * 8:  # replicate edges into padding
            padded[p.shape[0]:, :p.shape[1]] = p[-1:, :]
        if p.shape[1] < bw * 8:
            padded[:, p.shape[1]:] = padded[:, p.shape[1] - 1:p.shape[1]]
        shifted = padded - 128.0
        blocks = shifted.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        coeffs = np.einsum("ik,yxkl,jl->yxij", _DCT_C, blocks, _DCT_C)
        zig = coeffs.reshape(bh, bw, 64)[:, :, _JPEG_ZIGZAG]
        comp_blocks.append(np.round(zig / q).astype(np.int64))
    return comp_blocks, sampling, q, w, h, mcux, mcuy


def _jpeg_code_tables():
    """The fixed-length canonical Huffman tables both encoders share:
    one DC (12 categories) + one AC (full symbol space so any run/size
    or EOBn pair is codable)."""
    dc_counts = _huff_spec(12)
    dc_syms = list(range(12))
    ac_counts = _huff_spec(255)
    ac_syms = [s for s in range(256) if s != 255]

    def _codes(counts, syms):
        table = {}
        code = 0
        i = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                table[syms[i]] = (code, length)
                code += 1
                i += 1
            code <<= 1
        return table
    return (dc_counts, dc_syms, _codes(dc_counts, dc_syms),
            ac_counts, ac_syms, _codes(ac_counts, ac_syms))


def _jpeg_headers(h, w, sampling, q, dc_spec, ac_spec,
                  sof_marker: int, restart_interval: int) -> bytearray:
    """SOI through DHT/DRI — identical for baseline and progressive up
    to the SOF marker byte."""
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01" \
        + b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"  # APP0
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" \
        + bytes(int(x) for x in q)  # DQT id 0
    sof = bytearray(struct.pack(">BHHB", 8, h, w, len(sampling)))
    for i, (sh, sv) in enumerate(sampling):
        sof += bytes([i + 1, (sh << 4) | sv, 0])
    out += bytes([0xFF, sof_marker]) \
        + struct.pack(">H", 2 + len(sof)) + sof
    for tc, (counts, syms) in ((0, dc_spec), (1, ac_spec)):
        seg = bytes([tc << 4]) + bytes(counts) + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    return out


def encode_jpeg(pixels: np.ndarray, subsample: str = "444",
                quant_scale: int = 1,
                restart_interval: int = 0) -> bytes:
    """uint8 pixels [h, w, 3] (RGB) or [h, w]/[h, w, 1] (gray) ->
    baseline JFIF bytes. Flat ``quant_scale``-valued quantization
    tables (1 = near-lossless: only DCT rounding error) and
    self-defined fixed-length Huffman tables — spec-valid output that
    any baseline decoder (incl. PIL) reads."""
    comp_blocks, sampling, q, w, h, mcux, mcuy = _jpeg_forward(
        pixels, subsample, quant_scale)
    (dc_counts, dc_syms, dc_codes,
     ac_counts, ac_syms, ac_codes) = _jpeg_code_tables()

    wtr = _JpegBitWriter()
    preds = [0] * len(comp_blocks)
    mcu_count = 0
    n_restart = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                wtr.flush()
                wtr.out += bytes([0xFF, 0xD0 + (n_restart % 8)])
                n_restart += 1
                preds = [0] * len(comp_blocks)
            for ci, (blocks, (sh, sv)) in enumerate(
                    zip(comp_blocks, sampling)):
                for by in range(sv):
                    for bx in range(sh):
                        blk = blocks[my * sv + by, mx * sh + bx]
                        diff = int(blk[0]) - preds[ci]
                        preds[ci] = int(blk[0])
                        s = _category(diff)
                        code, ln = dc_codes[s]
                        wtr.write(code, ln)
                        if s:
                            v = diff if diff > 0 else diff + (1 << s) - 1
                            wtr.write(v, s)
                        run = 0
                        last_nz = np.nonzero(blk[1:])[0]
                        last = last_nz[-1] + 1 if len(last_nz) else 0
                        for k in range(1, last + 1):
                            v = int(blk[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = ac_codes[0xF0]  # ZRL
                                wtr.write(code, ln)
                                run -= 16
                            s = _category(v)
                            code, ln = ac_codes[(run << 4) | s]
                            wtr.write(code, ln)
                            vv = v if v > 0 else v + (1 << s) - 1
                            wtr.write(vv, s)
                            run = 0
                        if last < 63:
                            code, ln = ac_codes[0x00]  # EOB
                            wtr.write(code, ln)
            mcu_count += 1
    wtr.flush()

    out = _jpeg_headers(h, w, sampling, q, (dc_counts, dc_syms),
                        (ac_counts, ac_syms), 0xC0, restart_interval)
    sos = bytearray([len(comp_blocks)])
    for i in range(len(comp_blocks)):
        sos += bytes([i + 1, 0x00])  # DC table 0 / AC table 0
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _ProgScanWriter:
    """Per-scan AC writer state for progressive encoding: the pending
    cross-block EOB run plus the correction bits owed to it (T.81
    G.1.2.2-3; the BE buffer in the public libjpeg encoder's terms)."""

    def __init__(self, ac_codes):
        self.wtr = _JpegBitWriter()
        self.ac = ac_codes
        self.eobrun = 0
        self.pending: list[int] = []

    def symbol(self, rs: int) -> None:
        code, ln = self.ac[rs]
        self.wtr.write(code, ln)

    def emit_bits(self, bits: list[int]) -> None:
        for b in bits:
            self.wtr.write(b, 1)

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.symbol(nbits << 4)
            if nbits:
                self.wtr.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
            self.emit_bits(self.pending)
            self.pending = []

    def finish(self) -> bytes:
        self.flush_eobrun()
        self.wtr.flush()
        return bytes(self.wtr.out)


def _prog_ac_first_block(ws: _ProgScanWriter, band: list[int]) -> None:
    """One block of an AC first scan: ``band`` holds the
    point-transformed (sign * (|v| >> Al)) coefficients Ss..Se."""
    nz = [i for i, v in enumerate(band) if v]
    if not nz:
        ws.eobrun += 1
        if ws.eobrun == 0x7FFF:
            ws.flush_eobrun()
        return
    ws.flush_eobrun()
    run = 0
    for i in range(nz[-1] + 1):
        v = band[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            ws.symbol(0xF0)
            run -= 16
        s = _category(v)
        ws.symbol((run << 4) | s)
        vv = v if v > 0 else v + (1 << s) - 1
        ws.wtr.write(vv, s)
        run = 0
    if nz[-1] < len(band) - 1:
        ws.eobrun += 1
        if ws.eobrun == 0x7FFF:
            ws.flush_eobrun()


def _prog_ac_refine_block(ws: _ProgScanWriter, tvals: list[int],
                          signs: list[bool]) -> None:
    """One block of an AC refinement scan. ``tvals`` = |v| >> Al per
    band position (t > 1: history-nonzero, contributes one correction
    bit; t == 1: newly nonzero, inserted via run/size-1). Bit order
    must mirror the decoder's cursor walk: a ZRL is emitted at the
    first nonzero once >15 zero-history positions accumulated (so no
    buffered correction sits more than 15 zeros back), and each
    symbol's sign bit precedes the corrections consumed while the
    decoder advances to its position."""
    eob = -1
    for i, t in enumerate(tvals):
        if t == 1:
            eob = i
    run = 0
    br: list[int] = []
    for i, t in enumerate(tvals):
        if t == 0:
            run += 1
            continue
        while run > 15 and i <= eob:
            ws.flush_eobrun()
            ws.symbol(0xF0)
            run -= 16
            ws.emit_bits(br)
            br = []
        if t > 1:
            br.append(t & 1)
            continue
        ws.flush_eobrun()
        ws.symbol((run << 4) | 1)
        ws.wtr.write(1 if signs[i] else 0, 1)
        ws.emit_bits(br)
        br = []
        run = 0
    if run > 0 or br:
        ws.eobrun += 1
        ws.pending.extend(br)
        if ws.eobrun == 0x7FFF or len(ws.pending) > 930:
            ws.flush_eobrun()


#: the spectral bands the progressive encoder's scan script uses — two
#: AC bands exercise spectral selection; the decoder accepts any legal
#: script
_PROG_BANDS = ((1, 5), (6, 63))


def encode_jpeg_progressive(pixels: np.ndarray, subsample: str = "444",
                            quant_scale: int = 1) -> bytes:
    """uint8 pixels -> progressive (SOF2) JFIF bytes with both spectral
    selection and successive approximation: DC first at Al=1, per-
    component AC bands 1-5 / 6-63 first at Al=1, DC refinement, then
    AC refinements to Al=0. The forward path is ``encode_jpeg``'s, so
    decoding this output must reproduce the baseline encode's pixels
    bit-for-bit — the round-trip contract the tests pin."""
    comp_blocks, sampling, q, w, h, mcux, mcuy = _jpeg_forward(
        pixels, subsample, quant_scale)
    (dc_counts, dc_syms, dc_codes,
     ac_counts, ac_syms, ac_codes) = _jpeg_code_tables()
    ncomp = len(comp_blocks)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    ni_dims = []  # non-interleaved (bh, bw) per component, T.81 A.1.1
    for sh, sv in sampling:
        comp_w = -(-(w * sh) // hmax)
        comp_h = -(-(h * sv) // vmax)
        ni_dims.append((-(-comp_h // 8), -(-comp_w // 8)))

    out = _jpeg_headers(h, w, sampling, q, (dc_counts, dc_syms),
                        (ac_counts, ac_syms), 0xC2, 0)

    def sos(comp_ids, ss, se, ah, al, data: bytes) -> bytes:
        seg = bytearray([len(comp_ids)])
        for cid in comp_ids:
            seg += bytes([cid, 0x00])
        seg += bytes([ss, se, (ah << 4) | al])
        return (b"\xff\xda" + struct.pack(">H", 2 + len(seg))
                + bytes(seg) + data)

    def dc_blocks():
        """Block visit order for DC scans: MCU-interleaved when the
        scan holds several components, else the component's own grid."""
        if ncomp > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci, (sh, sv) in enumerate(sampling):
                        for by in range(sv):
                            for bx in range(sh):
                                yield ci, comp_blocks[ci][
                                    my * sv + by, mx * sh + bx]
        else:
            bh_ni, bw_ni = ni_dims[0]
            for by in range(bh_ni):
                for bx in range(bw_ni):
                    yield 0, comp_blocks[0][by, bx]

    all_ids = list(range(1, ncomp + 1))

    # scan 1 — DC first, Al=1 (arithmetic-shift point transform)
    wtr = _JpegBitWriter()
    preds = [0] * ncomp
    for ci, blk in dc_blocks():
        v = int(blk[0]) >> 1
        diff = v - preds[ci]
        preds[ci] = v
        s = _category(diff)
        code, ln = dc_codes[s]
        wtr.write(code, ln)
        if s:
            vv = diff if diff > 0 else diff + (1 << s) - 1
            wtr.write(vv, s)
    wtr.flush()
    out += sos(all_ids, 0, 0, 0, 1, bytes(wtr.out))

    # AC first scans, Al=1
    for ci in range(ncomp):
        bh_ni, bw_ni = ni_dims[ci]
        for ss, se in _PROG_BANDS:
            ws = _ProgScanWriter(ac_codes)
            for by in range(bh_ni):
                for bx in range(bw_ni):
                    band = [int(v) for v in
                            comp_blocks[ci][by, bx, ss:se + 1]]
                    shifted = [(abs(v) >> 1) * (1 if v > 0 else -1)
                               for v in band]
                    _prog_ac_first_block(ws, shifted)
            out += sos([ci + 1], ss, se, 0, 1, ws.finish())

    # DC refinement, Ah=1 -> Al=0: one bit per block
    wtr = _JpegBitWriter()
    for ci, blk in dc_blocks():
        wtr.write(int(blk[0]) & 1, 1)
    wtr.flush()
    out += sos(all_ids, 0, 0, 1, 0, bytes(wtr.out))

    # AC refinement scans, Ah=1 -> Al=0
    for ci in range(ncomp):
        bh_ni, bw_ni = ni_dims[ci]
        for ss, se in _PROG_BANDS:
            ws = _ProgScanWriter(ac_codes)
            for by in range(bh_ni):
                for bx in range(bw_ni):
                    band = [int(v) for v in
                            comp_blocks[ci][by, bx, ss:se + 1]]
                    _prog_ac_refine_block(
                        ws, [abs(v) for v in band],
                        [v > 0 for v in band])
            out += sos([ci + 1], ss, se, 1, 0, ws.finish())

    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# GIF (GIF87a / GIF89a, public spec "GRAPHICS INTERCHANGE FORMAT")
#
# The other image format real crawls lean on, and — animated — the one
# VIDEO container that is pure-spec decodable without ffmpeg, which
# gives the sampled-frame video dedup stack a real-world input. LZW
# here is the GIF variant: variable code width starting at
# min_code_size+1, CLEAR/END codes, width grows when the string table
# reaches 2^width, capped at 12 bits.
#
# Supported: global/local color tables, interlace, transparency,
# disposal methods 0/1 (draw over) and 2 (restore to background).
# Disposal 3 (restore to previous) raises UnsupportedMedia — rare, and
# approximating it would silently change pixels, which this module
# never does.

_GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _gif_lzw_decode(min_code_size: int, data: bytes,
                    n_pixels: int) -> np.ndarray:
    if not 2 <= min_code_size <= 11:
        raise UnsupportedMedia(f"GIF: bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    out = bytearray()
    prev = None
    bitbuf = nbits = pos = 0
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise UnsupportedMedia("GIF: LZW stream truncated")
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise UnsupportedMedia("GIF: first LZW code not a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise UnsupportedMedia("GIF: LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) < n_pixels:
        raise UnsupportedMedia("GIF: LZW data ended before the frame")
    return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8)


def _gif_subblocks(content: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a GIF sub-block chain starting at ``pos``; returns
    (data, position after the 0 terminator)."""
    parts = []
    while True:
        if pos >= len(content):
            raise UnsupportedMedia("GIF: sub-blocks truncated")
        n = content[pos]
        pos += 1
        if n == 0:
            return b"".join(parts), pos
        parts.append(content[pos:pos + n])
        if len(parts[-1]) != n:
            raise UnsupportedMedia("GIF: sub-block truncated")
        pos += n


_GIF_DEINTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif_frames(content: bytes,
                      max_frames: int | None = None
                      ) -> tuple[list[np.ndarray], int]:
    """GIF bytes -> (composed RGB frames as uint8 [h, w, 3] arrays,
    micros per frame from the first frame delay). Static GIFs return
    one frame. Raises ``UnsupportedMedia`` on anything off-spec —
    including truncated structures, which would otherwise leak
    struct.error/IndexError past the callers' PIL fall-through (the
    same wrapper discipline as ``decode_jpeg``)."""
    try:
        return _decode_gif_frames_unchecked(content, max_frames)
    except (struct.error, IndexError) as e:
        raise UnsupportedMedia(f"GIF: truncated structure ({e})") from e


def _decode_gif_frames_unchecked(content: bytes,
                                 max_frames: int | None
                                 ) -> tuple[list[np.ndarray], int]:
    if content[:6] not in _GIF_MAGICS:
        raise UnsupportedMedia("not a GIF (bad signature)")
    if len(content) < 13:
        raise UnsupportedMedia("GIF: truncated header")
    W, H = struct.unpack("<HH", content[6:10])
    packed, bg_index, _aspect = content[10], content[11], content[12]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        raw = content[pos:pos + 3 * n]
        if len(raw) != 3 * n:
            raise UnsupportedMedia("GIF: global color table truncated")
        gct = np.frombuffer(raw, dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    if W == 0 or H == 0:
        raise UnsupportedMedia("GIF: zero logical screen")
    # decompression-bomb gate: the canvas (W*H*3), the LZW index buffer
    # (int64, up to W*H*8) and each composed frame copy are allocated
    # from the 4 header dimension bytes alone — gate on the widest
    # (8 B/px) before touching any of them
    if W * H * 8 > _MAX_DECODED_BYTES:
        raise UnsupportedMedia(
            f"GIF: {W}x{H} logical screen decodes past the "
            f"{_MAX_DECODED_BYTES >> 20} MiB ceiling")
    bg_rgb = (gct[bg_index] if gct is not None and bg_index < len(gct)
              else np.zeros(3, dtype=np.uint8))
    canvas = np.tile(bg_rgb, (H, W, 1)).astype(np.uint8)
    decoded_total = 0  # composed-frame bytes appended so far
    frames: list[np.ndarray] = []
    delays: list[int] = []
    transparent = None
    disposal = 0
    pending_restore = False  # a prior frame asked for disposal 3
    while True:
        if pos >= len(content):
            raise UnsupportedMedia("GIF: missing trailer")
        block = content[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: GCE informs, others skipped
            if pos + 2 > len(content):
                raise UnsupportedMedia("GIF: extension truncated")
            label = content[pos + 1]
            data, pos = _gif_subblocks(content, pos + 2)
            if label == 0xF9 and len(data) >= 4:
                gpacked, delay = data[0], struct.unpack("<H", data[1:3])[0]
                disposal = (gpacked >> 2) & 0x07
                transparent = data[3] if gpacked & 0x01 else None
                delays.append(delay)
        elif block == 0x2C:  # image descriptor
            if pending_restore:
                # a PRIOR frame asked for disposal 3 and another frame
                # is about to compose on top — honoring it would need
                # the pre-frame canvas; approximating would silently
                # change pixels, which this module never does
                raise UnsupportedMedia(
                    "GIF: disposal 'restore to previous' unsupported")
            left, top, w, h, ipacked = struct.unpack(
                "<HHHHB", content[pos + 1:pos + 10])
            pos += 10
            palette = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                raw = content[pos:pos + 3 * n]
                if len(raw) != 3 * n:
                    raise UnsupportedMedia("GIF: local color table truncated")
                palette = np.frombuffer(raw, dtype=np.uint8).reshape(n, 3)
                pos += 3 * n
            if palette is None:
                raise UnsupportedMedia("GIF: frame with no color table")
            if w == 0 or h == 0 or left + w > W or top + h > H:
                raise UnsupportedMedia("GIF: frame outside logical screen")
            min_code = content[pos]
            data, pos = _gif_subblocks(content, pos + 1)
            idx = _gif_lzw_decode(min_code, data, w * h)
            if int(idx.max()) >= len(palette):
                raise UnsupportedMedia("GIF: pixel index outside palette")
            idx = idx.reshape(h, w)
            if ipacked & 0x40:  # interlaced: rows stored in 4 passes
                rows = np.empty(h, dtype=np.int64)
                storage = 0
                for first, step in _GIF_DEINTERLACE_PASSES:
                    for r in range(first, h, step):
                        rows[r] = storage  # display row r lives here
                        storage += 1
                idx = idx[rows]
            rgb = palette[idx]
            region = canvas[top:top + h, left:left + w]
            if transparent is not None:
                mask = idx != transparent
                region[mask] = rgb[mask]
            else:
                region[:] = rgb
            decoded_total += canvas.nbytes
            if decoded_total > _MAX_DECODED_BYTES:
                # same bomb class across frames: a modest canvas with
                # thousands of near-empty frame descriptors composes
                # into unbounded full-canvas copies
                raise UnsupportedMedia(
                    f"GIF: composed frames exceed the "
                    f"{_MAX_DECODED_BYTES >> 20} MiB ceiling "
                    f"at frame {len(frames) + 1}")
            frames.append(canvas.copy())
            if max_frames is not None and len(frames) >= max_frames:
                break
            if disposal == 2:  # restore region to background
                canvas[top:top + h, left:left + w] = bg_rgb
            elif disposal == 3:
                # raise lazily, at the NEXT composition: a disposal-3
                # request on the last (or only returned) frame never
                # affects any output pixel
                pending_restore = True
            transparent = None
            disposal = 0
        else:
            raise UnsupportedMedia(f"GIF: unknown block 0x{block:02x}")
    if not frames:
        raise UnsupportedMedia("GIF: no image data")
    micros = (delays[0] if delays and delays[0] > 0 else 4) * 10_000
    return frames, micros


def decode_gif(content: bytes) -> tuple[np.ndarray, int, int, int]:
    """GIF bytes -> (first composed frame uint8 [h, w, 3], width,
    height, 3) — the image-kind entry point; animation goes through
    ``decode_gif_frames``."""
    frames, _ = decode_gif_frames(content, max_frames=1)
    first = frames[0]
    return first, first.shape[1], first.shape[0], 3


def encode_gif(frames: list[np.ndarray],
               micros_per_frame: int = 40000) -> bytes:
    """RGB (or grayscale) frames -> GIF89a bytes, lossless for <=256
    distinct colors (palette-based, like the format itself — more
    raises ``UnsupportedMedia``). The LZW stream uses the classic
    'uncompressed GIF' construction: raw root codes at a fixed width
    with a CLEAR before the string table could force a width bump —
    spec-valid output, trivially verifiable, fine for fixtures and
    interchange."""
    if not frames:
        raise UnsupportedMedia("GIF: no frames to encode")
    norm = []
    for fr in frames:
        a = np.asarray(fr, dtype=np.uint8)
        if a.ndim == 2:
            a = a[:, :, None]
        if a.shape[2] == 1:
            a = np.repeat(a, 3, axis=2)
        if a.ndim != 3 or a.shape[2] != 3:
            raise UnsupportedMedia(f"GIF: expected RGB frame, got {a.shape}")
        if a.shape[:2] != np.asarray(frames[0]).shape[:2]:
            raise UnsupportedMedia("GIF: frames must share one size")
        norm.append(a)
    h, w = norm[0].shape[:2]
    if not (0 < w <= 0xFFFF and 0 < h <= 0xFFFF):
        raise UnsupportedMedia(f"GIF: size {w}x{h} outside u16 range")
    as_u32 = [(f[:, :, 0].astype(np.uint32) << 16)
              | (f[:, :, 1].astype(np.uint32) << 8)
              | f[:, :, 2].astype(np.uint32) for f in norm]
    palette_u32 = np.unique(np.concatenate([a.ravel() for a in as_u32]))
    if len(palette_u32) > 256:
        raise UnsupportedMedia(
            f"GIF: {len(palette_u32)} distinct colors > 256 — quantize "
            "first (the format is palette-based)")
    bits = max(2, int(len(palette_u32) - 1).bit_length())
    n_pal = 1 << bits
    min_code = bits
    pal = np.zeros((n_pal, 3), dtype=np.uint8)
    pal[:len(palette_u32), 0] = (palette_u32 >> 16) & 0xFF
    pal[:len(palette_u32), 1] = (palette_u32 >> 8) & 0xFF
    pal[:len(palette_u32), 2] = palette_u32 & 0xFF

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (bits - 1), 0, 0])  # GCT flag+size, bg 0
    out += pal.tobytes()
    delay_cs = min(0xFFFF, max(0, micros_per_frame // 10_000))
    clear, endc = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    # after a CLEAR the table holds 2^min+2 entries; the first data
    # code adds none and each later one adds one, so after 2^min-2
    # data codes the table sits at 2^(min+1)-1 — one short of the
    # decoder's width bump. CLEAR there keeps the width fixed forever.
    chunk = (1 << min_code) - 2
    for a in as_u32:
        out += b"\x21\xf9\x04"  # GCE: disposal 0, no transparency
        out += bytes([0]) + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        idx = np.searchsorted(palette_u32, a.ravel())
        codes = bytearray()
        bitbuf = nbits = 0

        def _emit(code: int) -> None:
            nonlocal bitbuf, nbits
            bitbuf |= code << nbits
            nbits += width
            while nbits >= 8:
                codes.append(bitbuf & 0xFF)
                bitbuf >>= 8
                nbits -= 8

        _emit(clear)
        since_clear = 0
        for px in idx:
            if since_clear == chunk:
                _emit(clear)
                since_clear = 0
            _emit(int(px))
            since_clear += 1
        _emit(endc)
        if nbits:
            codes.append(bitbuf & 0xFF)
        out += bytes([min_code])
        for i in range(0, len(codes), 255):
            blk = codes[i:i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_frame_count(content: bytes, stop_at: int = 2) -> int:
    """Count a GIF's image descriptors by walking the block structure —
    length-skipping only, no LZW decode — so callers can cheaply
    classify animated (>=2 frames) vs static. Stops early at
    ``stop_at``. Returns 0 for non-GIF or truncated structure (callers
    classifying media treat that as 'not a GIF')."""
    if content[:6] not in _GIF_MAGICS or len(content) < 13:
        return 0
    pos = 13
    if content[10] & 0x80:
        pos += 3 * (2 << (content[10] & 0x07))
    frames = 0
    try:
        while pos < len(content) and frames < stop_at:
            block = content[pos]
            if block == 0x3B:
                break
            if block == 0x21:
                _, pos = _gif_subblocks(content, pos + 2)
            elif block == 0x2C:
                if pos + 10 > len(content):
                    return frames  # truncated descriptor
                ipacked = content[pos + 9]
                pos += 10
                if ipacked & 0x80:
                    pos += 3 * (2 << (ipacked & 0x07))
                pos += 1  # LZW min code size
                _, pos = _gif_subblocks(content, pos)
                frames += 1
            else:
                return frames
    except (UnsupportedMedia, IndexError):
        return frames  # classification must never raise on junk bytes
    return frames


# ---------------------------------------------------------------------------
# WebP lossless (VP8L), public spec "WebP Lossless Bitstream Specification"
#
# The third pillar of real crawl imagery after JPEG and PNG. This
# implements the FULL VP8L decode surface — RIFF/VP8X container walk,
# LSB-first bit stream, simple and code-length-coded Huffman codes,
# meta-Huffman groups, color cache, LZ77 with the 2D distance map, and
# all four transforms (predictor, color, subtract-green,
# color-indexing incl. sub-byte pixel bundling) — plus a spec-valid
# fixture encoder (no PIL/libwebp in the container, same
# encoder-for-tests approach as JPEG/GIF). Lossy WebP (VP8) raises
# UnsupportedMedia: it is a full video intra-frame codec and PIL
# territory.
#
# The 2D distance map is generated, not transcribed: the spec's table
# is exactly the 120 offsets with dx in [-7, 8], dy in [0, 7]
# (dy=0 -> dx>=1), ordered by squared distance, then larger dy first,
# then positive dx first — the generation is pinned against the
# published table's opening rows in tests.

_VP8L_DIST_MAP: list[tuple[int, int]] = sorted(
    [(dx, dy) for dy in range(8) for dx in range(-7, 9)
     if dy > 0 or dx > 0],
    key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))

#: code-length-code transmission order (VP8L spec 6.2.2.2)
_VP8L_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11,
                  12, 13, 14, 15)


class _Vp8lBits:
    """LSB-first bit reader (DEFLATE-style byte packing). ``peek`` may
    synthesize a bounded tail of zero bits — the final Huffman symbols
    of a legal stream peek past the writer's padded last byte — while
    ``read`` (header fields) stays strict."""

    __slots__ = ("data", "pos", "acc", "nbits", "pad")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.pad = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise UnsupportedMedia("WebP: VP8L stream truncated")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v

    def peek(self, n: int) -> int:
        while self.nbits < n:
            if self.pos < len(self.data):
                self.acc |= self.data[self.pos] << self.nbits
                self.pos += 1
            else:
                self.pad += 8
                if self.pad > 64:
                    raise UnsupportedMedia(
                        "WebP: VP8L stream truncated")
            self.nbits += 8
        return self.acc & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.acc >>= n
        self.nbits -= n


def _vp8l_canonical(lengths: list[int]):
    """Code-length list -> decode table: ("single", sym) for the
    zero-bit one-symbol code (spec 6.2.1), else a bit-REVERSED lookup
    table over the next max_len stream bits — codes are read MSB-of-
    code-first from an LSB-first stream, so the low bits of a peek are
    the code's bits in reverse order. Table-driven decode replaced a
    per-bit dict walk that made literal-heavy images ~0.09 MP/s."""
    nz = [(ln, s) for s, ln in enumerate(lengths) if ln > 0]
    if not nz:
        raise UnsupportedMedia("WebP: empty Huffman code")
    if len(nz) == 1:
        return ("single", nz[0][1])
    max_len = max(ln for ln, _ in nz)
    if max_len > 15:
        raise UnsupportedMedia("WebP: Huffman length > 15")
    bl_count = [0] * (max_len + 1)
    for ln, _ in nz:
        bl_count[ln] += 1
    next_code = [0] * (max_len + 1)
    code = 0
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    size = 1 << max_len
    lut_sym = [-1] * size
    lut_len = [0] * size
    for s, ln in enumerate(lengths):
        if ln:
            code = next_code[ln]
            next_code[ln] += 1
            if code >> ln:
                raise UnsupportedMedia("WebP: over-subscribed Huffman "
                                       "code")
            rev = 0
            for i in range(ln):
                rev = (rev << 1) | ((code >> i) & 1)
            step = 1 << ln
            n_fill = (size - rev + step - 1) // step
            lut_sym[rev::step] = [s] * n_fill
            lut_len[rev::step] = [ln] * n_fill
    return (max_len, lut_sym, lut_len)


def _vp8l_sym(br: _Vp8lBits, table) -> int:
    if table[0] == "single":
        return table[1]
    bits, lut_sym, lut_len = table
    v = br.peek(bits)
    s = lut_sym[v]
    if s < 0:
        raise UnsupportedMedia("WebP: invalid Huffman code")
    br.skip(lut_len[v])
    return s


def _vp8l_read_huffman(br: _Vp8lBits, alphabet: int):
    """One Huffman code: 'simple' (1-2 explicit symbols) or
    code-length-coded (spec 6.2.2)."""
    if br.read(1):  # simple
        n = 1 + br.read(1)
        s0 = br.read(8) if br.read(1) else br.read(1)
        if s0 >= alphabet:
            raise UnsupportedMedia("WebP: simple-code symbol overflow")
        if n == 1:
            return ("single", s0)
        s1 = br.read(8)
        if s1 >= alphabet:
            raise UnsupportedMedia("WebP: simple-code symbol overflow")
        # read order, not value order, fixes the code assignment
        # (1-bit codes: stream bit 0 -> first symbol)
        return (1, [s0, s1], [1, 1])
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.read(3)
    cl_table = _vp8l_canonical(cl_lengths)
    if br.read(1):
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8  # spec default
    i = 0
    while i < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        sym = _vp8l_sym(br, cl_table)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev = sym
        elif sym == 16:
            rep = 3 + br.read(2)
            if i + rep > alphabet:
                raise UnsupportedMedia("WebP: code-length repeat "
                                       "overflow")
            for _ in range(rep):
                lengths[i] = prev
                i += 1
        elif sym == 17:
            i += 3 + br.read(3)
        else:
            i += 11 + br.read(7)
        if i > alphabet:
            raise UnsupportedMedia("WebP: code-length repeat overflow")
    return _vp8l_canonical(lengths)


def _vp8l_prefix(br: _Vp8lBits, code: int) -> int:
    """LZ77 length/distance prefix decoding (spec 6.2.3)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _vp8l_decode_image(br: _Vp8lBits, w: int, h: int,
                       is_argb: bool) -> array:
    """One spatially-coded image -> row-major ``array('I')`` of ARGB
    ints (4 B/px — a plain list of fresh PyLongs costs ~56 B/px, which
    is what the decompression gate's memory model assumes).
    ``is_argb`` enables the meta-Huffman header (ARGB role only)."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise UnsupportedMedia("WebP: bad color-cache size")
    meta = None
    tile_bits = 0
    meta_w = 0
    n_groups = 1
    if is_argb and br.read(1):
        tile_bits = 2 + br.read(3)
        meta_w = -(-w // (1 << tile_bits))
        meta_h = -(-h // (1 << tile_bits))
        meta_img = _vp8l_decode_image(br, meta_w, meta_h, False)
        meta = [((p >> 8) & 0xFFFF) for p in meta_img]
        n_groups = max(meta) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = []
    for _ in range(n_groups):
        groups.append((
            _vp8l_read_huffman(br, 256 + 24 + cache_size),
            _vp8l_read_huffman(br, 256),
            _vp8l_read_huffman(br, 256),
            _vp8l_read_huffman(br, 256),
            _vp8l_read_huffman(br, 40),
        ))
    cache = [0] * cache_size
    shift = 32 - cache_bits if cache_bits else 0
    npx = w * h
    out = array("I", bytes(4 * npx))
    pos = 0
    g_code, r_code, b_code, a_code, d_code = groups[0]
    while pos < npx:
        if meta is not None:
            x = pos % w
            y = pos // w
            (g_code, r_code, b_code, a_code, d_code) = groups[
                meta[(y >> tile_bits) * meta_w + (x >> tile_bits)]]
        s = _vp8l_sym(br, g_code)
        if s < 256:
            red = _vp8l_sym(br, r_code)
            blue = _vp8l_sym(br, b_code)
            alpha = _vp8l_sym(br, a_code)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            pos += 1
            if cache_size:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> shift] = px
        elif s < 280:
            length = _vp8l_prefix(br, s - 256)
            dist_prefix = _vp8l_prefix(br, _vp8l_sym(br, d_code))
            if dist_prefix > 120:
                dist = dist_prefix - 120
            else:
                dx, dy = _VP8L_DIST_MAP[dist_prefix - 1]
                dist = dx + dy * w
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > npx:
                raise UnsupportedMedia("WebP: LZ77 reference out of "
                                       "bounds")
            if cache_size:
                for _ in range(length):
                    px = out[pos - dist]
                    out[pos] = px
                    pos += 1
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF)
                          >> shift] = px
            else:
                # sliced copy; when the run overlaps its source the
                # writable prefix doubles each pass (O(log) slices)
                src = pos - dist
                end = pos + length
                while pos < end:
                    n_copy = min(pos - src, end - pos)
                    out[pos:pos + n_copy] = out[src:src + n_copy]
                    pos += n_copy
        else:
            idx = s - 280
            if idx >= cache_size:
                raise UnsupportedMedia("WebP: color-cache index "
                                       "overflow")
            out[pos] = cache[idx]
            pos += 1
    return out


def _vp8l_add(a: int, b: int) -> int:
    """Per-channel mod-256 pixel addition."""
    return (((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00) | \
           (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF)


def _vp8l_avg2(a: int, b: int) -> int:
    return ((((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)) & 0xFFFFFFFF


def _vp8l_select(l: int, t: int, tl: int) -> int:
    p = 0
    q = 0
    for sh in (24, 16, 8, 0):
        cl = (l >> sh) & 0xFF
        ct = (t >> sh) & 0xFF
        ctl = (tl >> sh) & 0xFF
        pred = cl + ct - ctl
        p += abs(pred - cl)
        q += abs(pred - ct)
    return l if p < q else t


def _vp8l_clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _vp8l_clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    ave = _vp8l_avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        c = (ave >> sh) & 0xFF
        d = (tl >> sh) & 0xFF
        v = c + int((c - d) / 2)  # C truncation toward zero
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _vp8l_predict(mode: int, l: int, t: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _vp8l_avg2(_vp8l_avg2(l, tr), t)
    if mode == 6:
        return _vp8l_avg2(l, tl)
    if mode == 7:
        return _vp8l_avg2(l, t)
    if mode == 8:
        return _vp8l_avg2(tl, t)
    if mode == 9:
        return _vp8l_avg2(t, tr)
    if mode == 10:
        return _vp8l_avg2(_vp8l_avg2(l, tl), _vp8l_avg2(t, tr))
    if mode == 11:
        return _vp8l_select(l, t, tl)
    if mode == 12:
        return _vp8l_clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _vp8l_clamp_add_sub_half(l, t, tl)
    raise UnsupportedMedia(f"WebP: predictor mode {mode}")


def _vp8l_inv_predictor(arr: np.ndarray, w: int, h: int, bits: int,
                        tw: int, tiles: array) -> np.ndarray:
    """Sequential by construction — every pixel's prediction reads its
    already-reconstructed left/top neighbors — so this is the one
    inverse that stays a per-pixel loop; it runs over Python lists
    (the fastest scalar store) and converts back once at each end."""
    px = arr.tolist()
    for y in range(h):
        row = y * w
        for x in range(w):
            i = row + x
            if y == 0:
                pred = 0xFF000000 if x == 0 else px[i - 1]
            elif x == 0:
                pred = px[i - w]
            else:
                mode = (tiles[(y >> bits) * tw + (x >> bits)] >> 8) \
                    & 0xFF
                tr = px[i - w + 1] if x < w - 1 else px[row]
                pred = _vp8l_predict(mode, px[i - 1], px[i - w],
                                     px[i - w - 1], tr)
            px[i] = _vp8l_add(px[i], pred)
    return np.array(px, dtype=np.uint32)


def _vp8l_s8_np(v: np.ndarray) -> np.ndarray:
    """Vectorized sign-extension of a uint8-valued array."""
    return ((v.astype(np.int32) & 0xFF) ^ 128) - 128


def _vp8l_inv_color_transform(arr: np.ndarray, w: int, h: int,
                              bits: int, tw: int,
                              tiles: array) -> np.ndarray:
    a2 = arr.reshape(h, w)
    t2 = np.frombuffer(tiles, dtype=np.uint32).reshape(-1, tw)
    cte = t2[np.arange(h) >> bits][:, np.arange(w) >> bits]
    g2r = _vp8l_s8_np(cte & 0xFF)
    g2b = _vp8l_s8_np((cte >> 8) & 0xFF)
    r2b = _vp8l_s8_np((cte >> 16) & 0xFF)
    gs = _vp8l_s8_np((a2 >> 8) & 0xFF)
    # numpy's >> on int32 is arithmetic, matching the spec's C shifts
    red = (((a2 >> 16) & 0xFF).astype(np.int32)
           + ((g2r * gs) >> 5)) & 0xFF
    blue = ((a2 & 0xFF).astype(np.int32) + ((g2b * gs) >> 5)
            + ((r2b * _vp8l_s8_np(red)) >> 5)) & 0xFF
    return ((a2 & np.uint32(0xFF00FF00))
            | (red.astype(np.uint32) << 16)
            | blue.astype(np.uint32)).ravel()


def _vp8l_inv_subtract_green(arr: np.ndarray) -> np.ndarray:
    g = (arr >> 8) & np.uint32(0xFF)
    red = ((arr >> 16) + g) & np.uint32(0xFF)
    blue = (arr + g) & np.uint32(0xFF)
    return (arr & np.uint32(0xFF00FF00)) | (red << 16) | blue


def _vp8l_inv_color_indexing(arr: np.ndarray, w_orig: int, h: int,
                             wbits: int, palette: list[int]
                             ) -> np.ndarray:
    pal = np.asarray(palette, dtype=np.uint32)
    n = pal.size
    greens = (arr >> 8) & np.uint32(0xFF)
    if wbits == 0:
        idx = greens.astype(np.int64)
    else:
        ppb = 1 << wbits  # packed pixels per green byte
        bpp = 8 >> wbits
        mask = (1 << bpp) - 1
        w_red = -(-w_orig // ppb)
        x = np.arange(w_orig)
        shifts = (bpp * (x % ppb)).astype(np.uint32)
        g2 = greens.reshape(h, w_red)
        idx = ((g2[:, x >> wbits] >> shifts[None, :])
               & mask).ravel().astype(np.int64)
    return np.where(idx < n, pal[np.minimum(idx, n - 1)],
                    np.uint32(0)).astype(np.uint32)


def is_webp(content: bytes) -> bool:
    """RIFF/WEBP container magic (still and animated files alike) —
    the single predicate every dispatch site shares."""
    return content[:4] == b"RIFF" and content[8:12] == b"WEBP"


def _webp_chunks(data: bytes, pos: int = 12):
    """Yield ``(tag, declared_size, body)`` over an even-padded RIFF
    chunk sequence — the one chunk-walk implementation for the whole
    WebP surface (decode, frame count, animation). A final chunk
    shorter than its declared size yields its available prefix;
    strict callers compare ``len(body)`` to ``declared_size``."""
    n = len(data)
    while pos + 8 <= n:
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        yield tag, size, data[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)


def decode_webp(content: bytes) -> tuple[np.ndarray, int, int, int]:
    """WebP bytes -> (pixels uint8 [h, w, channels], width, height,
    channels); channels is 4 (RGBA) when any alpha < 255 else 3.
    Lossless (VP8L) only; lossy VP8 raises UnsupportedMedia (PIL
    fall-through territory, like arithmetic JPEG)."""
    try:
        return _decode_webp_unchecked(content)
    except UnsupportedMedia:
        raise
    except (KeyError, ValueError, IndexError, struct.error) as e:
        raise UnsupportedMedia(
            f"malformed WebP structure: {type(e).__name__}: {e}") from e


def _decode_webp_unchecked(content: bytes):
    if not is_webp(content):
        raise UnsupportedMedia("not a WebP (bad RIFF header)")
    payload = None
    has_anim = False
    for tag, _size, body in _webp_chunks(content):
        if tag == b"VP8L":
            payload = body
            break
        if tag == b"ANMF":
            has_anim = True
            break
        if tag == b"VP8 ":
            raise UnsupportedMedia(
                "lossy WebP (VP8) — PIL decodes these when installed")
    if payload is None:
        if has_anim:
            # animated file: the still-image surface shows the first
            # composed frame, mirroring decode_gif on animated GIFs
            frames, _micros = decode_webp_frames(content, max_frames=1)
            f = frames[0]
            return f, f.shape[1], f.shape[0], f.shape[2]
        raise UnsupportedMedia("WebP: no VP8L chunk")
    rgba, w, h = _decode_vp8l_payload(payload)
    if int(rgba[:, :, 3].min()) == 255:
        return np.ascontiguousarray(rgba[:, :, :3]), w, h, 3
    return rgba, w, h, 4


def _decode_vp8l_payload(payload: bytes):
    """VP8L chunk payload -> (RGBA uint8 [h, w, 4], w, h)."""
    if not payload or payload[0] != 0x2F:
        raise UnsupportedMedia("WebP: bad VP8L signature")
    br = _Vp8lBits(payload, 1)
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint (informative)
    if br.read(3) != 0:
        raise UnsupportedMedia("WebP: VP8L version != 0")
    # decompression-bomb gate: 4 header bytes drive every allocation
    # AND every symbol-serial Python decode step, so the ceiling here
    # is pixels (CPU), not just bytes — see _MAX_VP8L_PIXELS
    if w * h > _MAX_VP8L_PIXELS:
        raise UnsupportedMedia(
            f"WebP: {w}x{h} decodes past the "
            f"{_MAX_VP8L_PIXELS >> 20} MPix VP8L ceiling")
    transforms: list[tuple] = []
    seen: set[int] = set()
    xsize = w
    while br.read(1):
        t = br.read(2)
        if t in seen:
            raise UnsupportedMedia("WebP: repeated transform")
        seen.add(t)
        if t in (0, 1):  # predictor / color transform tiles
            bits = 2 + br.read(3)
            tw = -(-xsize // (1 << bits))
            th = -(-h // (1 << bits))
            tiles = _vp8l_decode_image(br, tw, th, False)
            transforms.append((t, bits, tw, tiles))
        elif t == 2:
            transforms.append((2,))
        else:  # color indexing
            pal_size = br.read(8) + 1
            deltas = _vp8l_decode_image(br, pal_size, 1, False)
            palette = []
            prev = 0
            for d in deltas:
                prev = _vp8l_add(prev, d)
                palette.append(prev)
            wbits = (3 if pal_size <= 2 else 2 if pal_size <= 4
                     else 1 if pal_size <= 16 else 0)
            transforms.append((3, xsize, wbits, palette))
            xsize = -(-xsize // (1 << wbits))
    px = _vp8l_decode_image(br, xsize, h, True)
    arr = np.frombuffer(px, dtype=np.uint32)
    for tr in reversed(transforms):
        if tr[0] == 3:
            _, w_orig, wbits, palette = tr
            arr = _vp8l_inv_color_indexing(arr, w_orig, h, wbits,
                                           palette)
            xsize = w_orig
        elif tr[0] == 2:
            arr = _vp8l_inv_subtract_green(arr)
        elif tr[0] == 1:
            arr = _vp8l_inv_color_transform(arr, xsize, h, tr[1],
                                            tr[2], tr[3])
        else:
            arr = _vp8l_inv_predictor(arr, xsize, h, tr[1], tr[2],
                                      tr[3])
    arr = arr.reshape(h, w)
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[:, :, 0] = (arr >> 16) & 0xFF
    rgba[:, :, 1] = (arr >> 8) & 0xFF
    rgba[:, :, 2] = arr & 0xFF
    rgba[:, :, 3] = arr >> 24
    return rgba, w, h


def _u24le(data: bytes, pos: int) -> int:
    return data[pos] | (data[pos + 1] << 8) | (data[pos + 2] << 16)


def webp_frame_count(content: bytes, stop_at: int = 2) -> int:
    """Count ANMF frames by walking the RIFF chunks — no decode — so
    callers can cheaply classify animated vs static. A static VP8L/VP8
    file counts 1; junk counts 0 (never raises)."""
    try:
        if not is_webp(content):
            return 0
        n = 0
        for tag, _size, _body in _webp_chunks(content):
            if n >= stop_at:
                break
            if tag == b"ANMF":
                n += 1
            elif tag in (b"VP8L", b"VP8 ") and n == 0:
                return 1
        return n
    except (IndexError, struct.error):
        return 0


def decode_webp_frames(content: bytes,
                       max_frames: int | None = None
                       ) -> tuple[list[np.ndarray], int]:
    """Animated (or static) WebP -> (composed RGB frames as uint8
    [h, w, 3] arrays, micros per frame from the first frame's
    duration). Honors the container spec's compositing: frames render
    at their (2x, 2y) offsets, alpha-blend or replace per the B flag,
    and D=1 disposes the frame rect to the ANIM background. Lossy
    (VP8) frames raise UnsupportedMedia."""
    if not is_webp(content):
        raise UnsupportedMedia("not a WebP (bad RIFF header)")
    canvas_w = canvas_h = None
    bg_rgba = (255, 255, 255, 255)
    frames: list[np.ndarray] = []
    micros = 40_000
    canvas = None
    decoded_total = 0
    for tag, size, body in _webp_chunks(content):
        if len(body) != size:
            raise UnsupportedMedia("WebP: chunk truncated")
        if tag == b"VP8L" and canvas is None and not frames:
            # static file: one frame
            rgba, w, h = _decode_vp8l_payload(body)
            return [_webp_compose_bg(rgba, bg_rgba)], micros
        if tag == b"VP8 ":
            raise UnsupportedMedia(
                "lossy WebP (VP8) — PIL decodes these when installed")
        if tag == b"VP8X":
            if size < 10:
                raise UnsupportedMedia("WebP: VP8X truncated")
            canvas_w = _u24le(body, 4) + 1
            canvas_h = _u24le(body, 7) + 1
            if canvas_w * canvas_h * 8 > _MAX_DECODED_BYTES:
                raise UnsupportedMedia(
                    f"WebP: {canvas_w}x{canvas_h} canvas exceeds the "
                    f"{_MAX_DECODED_BYTES >> 20} MiB ceiling")
        elif tag == b"ANIM":
            if size < 6:
                raise UnsupportedMedia("WebP: ANIM truncated")
            # background stored BGRA
            bg_rgba = (body[2], body[1], body[0], body[3])
        elif tag == b"ANMF":
            if canvas_w is None:
                raise UnsupportedMedia("WebP: ANMF before VP8X canvas")
            if size < 16:
                raise UnsupportedMedia("WebP: ANMF truncated")
            fx = _u24le(body, 0) * 2
            fy = _u24le(body, 3) * 2
            fw = _u24le(body, 6) + 1
            fh = _u24le(body, 9) + 1
            duration = _u24le(body, 12)
            flags = body[15]
            blend_replace = bool(flags & 0x02)
            dispose_bg = bool(flags & 0x01)
            if fx + fw > canvas_w or fy + fh > canvas_h:
                raise UnsupportedMedia("WebP: frame outside canvas")
            rgba = None
            for stag, _ssize, sbody in _webp_chunks(body[16:], 0):
                if stag == b"VP8L":
                    rgba, w, h = _decode_vp8l_payload(sbody)
                    if (w, h) != (fw, fh):
                        raise UnsupportedMedia(
                            "WebP: frame size mismatch")
                    break
                if stag == b"VP8 ":
                    raise UnsupportedMedia(
                        "lossy WebP (VP8) frame — PIL territory")
            if rgba is None:
                raise UnsupportedMedia("WebP: ANMF without image data")
            if canvas is None:
                canvas = np.zeros((canvas_h, canvas_w, 4), np.uint8)
                canvas[:, :] = bg_rgba
            region = canvas[fy:fy + fh, fx:fx + fw]
            if blend_replace:
                region[:] = rgba
            else:
                # container-spec src-over with straight alpha:
                # A = As + Ad*(1-As); RGB = (Cs*As + Cd*Ad*(1-As)) / A
                a_s = rgba[:, :, 3:4].astype(np.uint64)
                a_d = region[:, :, 3:4].astype(np.uint64)
                a_out = a_s + (a_d * (255 - a_s) + 127) // 255
                num = (rgba[:, :, :3].astype(np.uint64) * a_s * 255
                       + region[:, :, :3].astype(np.uint64)
                       * a_d * (255 - a_s))
                den = np.maximum(a_out, 1) * 255
                rgb = (num + den // 2) // den
                region[:, :, :3] = np.where(
                    a_out > 0, rgb, 0).astype(np.uint8)
                region[:, :, 3:4] = a_out.astype(np.uint8)
            if not frames:
                micros = (duration if duration > 0 else 40) * 1000
            decoded_total += canvas.nbytes
            if decoded_total > _MAX_DECODED_BYTES:
                raise UnsupportedMedia(
                    f"WebP: composed frames exceed the "
                    f"{_MAX_DECODED_BYTES >> 20} MiB ceiling "
                    f"at frame {len(frames) + 1}")
            frames.append(_webp_compose_bg(canvas.copy(), bg_rgba))
            if max_frames is not None and len(frames) >= max_frames:
                return frames, micros
            if dispose_bg:
                canvas[fy:fy + fh, fx:fx + fw] = bg_rgba
    if not frames:
        raise UnsupportedMedia("WebP: no image data")
    return frames, micros


def _webp_compose_bg(rgba: np.ndarray,
                     bg: tuple[int, int, int, int]) -> np.ndarray:
    """RGBA -> RGB over an opaque background (frame outputs are RGB,
    like the GIF/Motion-PNG video surfaces)."""
    a = rgba[:, :, 3:4].astype(np.uint32)
    if int(a.min()) == 255:
        return np.ascontiguousarray(rgba[:, :, :3])
    bg_arr = np.array(bg[:3], np.uint32)[None, None, :]
    return ((rgba[:, :, :3].astype(np.uint32) * a
             + bg_arr * (255 - a) + 127) // 255).astype(np.uint8)


def encode_webp_anim(frames: list[np.ndarray],
                     micros_per_frame: int = 40_000) -> bytes:
    """Full-canvas RGB(A) frames -> animated WebP (VP8X + ANIM + one
    lossless ANMF per frame, replace-blend, no disposal). Fixture
    encoder for the video dedup surface, the animated-GIF precedent."""
    if not frames:
        raise UnsupportedMedia("encode_webp_anim wants >= 1 frame")
    h, w = frames[0].shape[:2]
    if not (1 <= w <= (1 << 24) and 1 <= h <= (1 << 24)):
        raise UnsupportedMedia("WebP canvas dimensions are 24-bit")
    ms = max(1, micros_per_frame // 1000)

    def u24(v: int) -> bytes:
        return bytes((v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF))

    body = bytearray()
    body += b"VP8X" + struct.pack("<I", 10) + bytes([0x02]) \
        + b"\x00\x00\x00" + u24(w - 1) + u24(h - 1)
    body += b"ANIM" + struct.pack("<I", 6) \
        + b"\xff\xff\xff\xff" + struct.pack("<H", 0)
    for f in frames:
        if f.shape[:2] != (h, w):
            raise UnsupportedMedia("animated WebP frames must share "
                                   "the canvas size")
        still = encode_webp_lossless(f)
        vp8l_chunk = still[12:]  # the VP8L chunk incl. header/padding
        payload = (u24(0) + u24(0) + u24(w - 1) + u24(h - 1)
                   + u24(ms) + bytes([0x02]) + vp8l_chunk)
        body += b"ANMF" + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" \
        + bytes(body)


class _Vp8lBitWriter:
    """LSB-first bit writer; ``write_code`` emits Huffman code bits
    MSB-first, mirroring the decoder's bit-by-bit walk."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, nbits: int) -> None:
        self.acc |= (v & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def write_code(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def finish(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _vp8l_encoder_code(alphabet: int) -> dict[int, tuple[int, int]]:
    """A COMPLETE fixed-shape canonical code over the whole alphabet
    (Kraft equality, so the decoder's canonical build accepts it):
    the largest power of two <= alphabet gets the shorter length."""
    low = 1
    while (low << 1) <= alphabet:
        low <<= 1
    if low == alphabet:  # exact power of two: one flat length
        nbits = low.bit_length() - 1
        lengths = [nbits] * alphabet
    else:
        # x symbols at len n, rest at n+1: x/2^n + (A-x)/2^(n+1) = 1
        # <=> 2x + (A - x) = 2^(n+1). n is low's EXPONENT
        # (bit_length - 1): bit_length itself made x >= A, collapsing
        # every non-power-of-2 alphabet to a flat (n+1)-bit INCOMPLETE
        # code (Kraft 0.55 for 280) that only round-tripped because
        # the in-repo decoder tolerates incomplete codes — libwebp
        # would reject the stream (ADVICE r10)
        nbits = low.bit_length() - 1
        x = 2 * (1 << nbits) - alphabet
        lengths = [nbits] * x + [nbits + 1] * (alphabet - x)
    if sum(1 / (1 << ln) for ln in lengths) != 1.0:
        # provably unreachable by construction, but a bare assert is
        # stripped under -O and would surface as AssertionError, not
        # the encoder's documented error class (ADVICE r11)
        raise ValueError(
            f"VP8L encoder code over alphabet {alphabet} is not "
            "Kraft-complete — the canonical decoder would reject it")
    # canonical assignment identical to the decoder's
    max_len = max(lengths)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        bl_count[ln] += 1
    next_code = [0] * (max_len + 1)
    code = 0
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    codes = {}
    for s, ln in enumerate(lengths):
        codes[s] = (next_code[ln], ln)
        next_code[ln] += 1
    return codes


def _vp8l_write_code_table(wtr: _Vp8lBitWriter,
                           codes: dict[int, tuple[int, int]],
                           alphabet: int) -> None:
    """Transmit the fixed-shape code via the code-length code: the two
    (or one) distinct lengths get 1-bit (or 0-bit) CL codes."""
    lengths = [codes[s][1] for s in range(alphabet)]
    used = sorted(set(lengths))
    wtr.write(0, 1)  # not a simple code
    cl_lengths = [0] * 19
    if len(used) == 1:
        cl_lengths[used[0]] = 1  # single-symbol CL code: 0 bits each
    else:
        cl_lengths[used[0]] = 1
        cl_lengths[used[1]] = 1
    num_cl = max(_VP8L_CL_ORDER.index(u) for u in used) + 1
    wtr.write(num_cl - 4, 4)
    for i in range(num_cl):
        wtr.write(cl_lengths[_VP8L_CL_ORDER[i]], 3)
    wtr.write(0, 1)  # no max_symbol cap
    if len(used) == 1:
        return  # every CL symbol is implicit (0-bit code)
    lo = used[0]
    for ln in lengths:
        wtr.write(0 if ln == lo else 1, 1)


def _vp8l_prefix_encode(value: int) -> tuple[int, int, int]:
    """value -> (prefix code, extra bits value, extra bit count);
    inverse of _vp8l_prefix."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    nbits = v.bit_length() - 1
    code = 2 * nbits + ((v >> (nbits - 1)) & 1) - 2 + 2
    # reconstruct: code = (nbits-1)*2 + high bit offset + 2
    extra_bits = nbits - 1
    offset = (2 + ((code & 1))) << extra_bits
    return code, value - offset - 1, extra_bits


def _vp8l_write_spatial(wtr: _Vp8lBitWriter, px: list[int], w: int,
                        h: int, is_argb: bool,
                        use_lz77: bool = False) -> None:
    """One spatially-coded image: cache/meta headers off, fixed-shape
    codes, literals plus (optionally) left/above LZ77 runs through 2D
    distance-map codes."""
    wtr.write(0, 1)  # no color cache
    if is_argb:
        wtr.write(0, 1)  # no meta-Huffman
    g_codes = _vp8l_encoder_code(256 + 24)
    ch_codes = _vp8l_encoder_code(256)
    d_codes = _vp8l_encoder_code(40)
    for codes, alphabet in ((g_codes, 280), (ch_codes, 256),
                            (ch_codes, 256), (ch_codes, 256),
                            (d_codes, 40)):
        _vp8l_write_code_table(wtr, codes, alphabet)
    d_above = _VP8L_DIST_MAP.index((0, 1)) + 1
    d_left = _VP8L_DIST_MAP.index((1, 0)) + 1
    npx = len(px)
    i = 0
    while i < npx:
        run = 0
        dist_val = 0
        if use_lz77:
            jl = i
            while jl < npx and jl >= 1 and px[jl] == px[jl - 1] \
                    and jl - i < 4096:
                jl += 1
            ja = i
            while ja < npx and ja >= w and px[ja] == px[ja - w] \
                    and ja - i < 4096:
                ja += 1
            if jl - i >= ja - i and jl > i:
                run, dist_val = jl - i, d_left
            elif ja > i:
                run, dist_val = ja - i, d_above
        if run > 0:
            lcode, lextra, lebits = _vp8l_prefix_encode(run)
            code, ln = g_codes[256 + lcode]
            wtr.write_code(code, ln)
            if lebits:
                wtr.write(lextra, lebits)
            dcode, dextra, debits = _vp8l_prefix_encode(dist_val)
            code, ln = d_codes[dcode]
            wtr.write_code(code, ln)
            if debits:
                wtr.write(dextra, debits)
            i += run
        else:
            v = px[i]
            code, ln = g_codes[(v >> 8) & 0xFF]
            wtr.write_code(code, ln)
            code, ln = ch_codes[(v >> 16) & 0xFF]
            wtr.write_code(code, ln)
            code, ln = ch_codes[v & 0xFF]
            wtr.write_code(code, ln)
            code, ln = ch_codes[v >> 24]
            wtr.write_code(code, ln)
            i += 1


def _vp8l_sub(a: int, b: int) -> int:
    """Per-channel mod-256 pixel subtraction (forward transforms)."""
    return ((((a | 0x01000100) - (b & 0x00FF00FF)) & 0x00FF00FF)
            | ((((a >> 8) | 0x01000100)
                - ((b >> 8) & 0x00FF00FF)) & 0x00FF00FF) << 8)


def encode_webp_lossless(pixels: np.ndarray, use_lz77: bool = True,
                         transform: str | None = None,
                         predictor_mode: int = 2,
                         tile_bits: int = 4) -> bytes:
    """uint8 pixels [h, w, 3]/[h, w, 4]/[h, w] -> lossless VP8L WebP.
    Fixture-grade encoder: fixed-shape complete Huffman codes, no
    color cache; ``use_lz77`` turns left/above runs into backward
    references through the 2D distance map. ``transform`` optionally
    emits one forward transform so the decoder's inverse paths get
    round-trip coverage: "subtract-green", "predictor" (uniform
    ``predictor_mode`` tiles), or "palette" (color indexing with
    sub-byte bundling when few colors). Round-trips bit-exactly."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, np.newaxis]
    h, w, nc = pixels.shape
    if nc == 1:
        pixels = np.repeat(pixels, 3, axis=2)
        nc = 3
    if nc not in (3, 4):
        raise UnsupportedMedia("encode_webp_lossless wants 1/3/4 "
                               "channels")
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise UnsupportedMedia("WebP dimensions are 14-bit")
    r = pixels[:, :, 0].astype(np.uint32)
    g = pixels[:, :, 1].astype(np.uint32)
    b = pixels[:, :, 2].astype(np.uint32)
    a = (pixels[:, :, 3].astype(np.uint32) if nc == 4
         else np.full((h, w), 255, np.uint32))
    px = [int(v) for v in
          ((a << 24) | (r << 16) | (g << 8) | b).reshape(-1)]

    wtr = _Vp8lBitWriter()
    wtr.write(w - 1, 14)
    wtr.write(h - 1, 14)
    wtr.write(1 if nc == 4 else 0, 1)  # alpha hint
    wtr.write(0, 3)  # version
    xsize = w
    if transform == "subtract-green":
        wtr.write(1, 1)
        wtr.write(2, 2)
        for i, v in enumerate(px):
            gg = (v >> 8) & 0xFF
            red = ((v >> 16) - gg) & 0xFF
            blue = (v - gg) & 0xFF
            px[i] = (v & 0xFF00FF00) | (red << 16) | blue
    elif transform == "predictor":
        if not 0 <= predictor_mode <= 13:
            raise UnsupportedMedia("predictor mode 0..13")
        bits = tile_bits
        if not 2 <= bits <= 9:
            raise UnsupportedMedia("tile_bits 2..9")
        tw = -(-w // (1 << bits))
        th = -(-h // (1 << bits))
        wtr.write(1, 1)
        wtr.write(0, 2)
        wtr.write(bits - 2, 3)
        tiles = [0xFF000000 | (predictor_mode << 8)] * (tw * th)
        _vp8l_write_spatial(wtr, tiles, tw, th, False)
        # forward: residual = pixel - predict(original neighbors),
        # with the same edge rules the inverse applies
        res = list(px)
        for y in range(h):
            row = y * w
            for x in range(w):
                i = row + x
                if y == 0:
                    pred = 0xFF000000 if x == 0 else px[i - 1]
                elif x == 0:
                    pred = px[i - w]
                else:
                    tr_px = px[i - w + 1] if x < w - 1 else px[row]
                    pred = _vp8l_predict(predictor_mode, px[i - 1],
                                         px[i - w], px[i - w - 1],
                                         tr_px)
                res[i] = _vp8l_sub(px[i], pred)
        px = res
    elif transform == "palette":
        colors: dict[int, int] = {}
        for v in px:
            if v not in colors:
                colors[v] = len(colors)
                if len(colors) > 256:
                    raise UnsupportedMedia(
                        "palette transform needs <= 256 colors")
        palette = list(colors)
        pal_size = len(palette)
        wtr.write(1, 1)
        wtr.write(3, 2)
        wtr.write(pal_size - 1, 8)
        deltas = []
        prev = 0
        for v in palette:
            deltas.append(_vp8l_sub(v, prev))
            prev = v
        _vp8l_write_spatial(wtr, deltas, pal_size, 1, False)
        wbits = (3 if pal_size <= 2 else 2 if pal_size <= 4
                 else 1 if pal_size <= 16 else 0)
        ppb = 1 << wbits
        bpp = 8 >> wbits
        xr = -(-w // ppb)
        packed = [0] * (xr * h)
        for y in range(h):
            for x in range(w):
                idx = colors[px[y * w + x]]
                packed[y * xr + (x >> wbits)] |= idx << (bpp * (x % ppb))
        px = [0xFF000000 | (v << 8) for v in packed]
        xsize = xr
    elif transform is not None:
        raise UnsupportedMedia(f"unknown transform {transform!r}")
    wtr.write(0, 1)  # end of transforms
    _vp8l_write_spatial(wtr, px, xsize, h, True, use_lz77=use_lz77)
    payload = b"\x2f" + wtr.finish()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
