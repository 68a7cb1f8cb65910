"""Brotli decode via a SYSTEM ``libbrotlidec`` (RFC 7932), when one
exists — ctypes over the stable public C API, no bundled code.

Why gated: brotli's format is public (RFC 7932) but its 120 KB static
dictionary and 121-entry transform table are DATA, not derivable spec
— a from-scratch decoder cannot be written from public knowledge
alone, which is why `content-encoding: br` bodies were previously
reject-only (r10/r11 verdicts accepted that gap). A system library,
where present, closes it: ``available()`` is probed once per process,
the crawl gate widens to treat ``br`` as inflatable only when the
probe succeeds, and absent the library the loud reject-and-count path
stands exactly as before.

Scale shape: C-speed decode, one-shot per HTTP body inside the WARC
parser's mapInPandas (bytes already Python-side); output bounded by
the caller's ceiling through a fixed-size output-buffer loop, so a
brotli bomb stops at the cap without materializing.

Error surface: ``ValueError`` for malformed/truncated streams and cap
breaches; ``RuntimeError`` only for "no library" (callers check
``available()`` first — reaching decompress without it is a
programming error, not corrupt data).
"""

from __future__ import annotations

import ctypes
import ctypes.util

#: decoder result codes (brotli/decode.h — public stable ABI)
_RESULT_ERROR = 0
_RESULT_SUCCESS = 1
_RESULT_NEEDS_MORE_INPUT = 2
_RESULT_NEEDS_MORE_OUTPUT = 3

_OUT_CHUNK = 1 << 20

_lib = None
_lib_probed = False


def _find(names):
    for name in names:
        try:
            return ctypes.CDLL(name)
        except OSError:
            continue
    return None


def _load():
    global _lib, _lib_probed
    if _lib_probed:
        return _lib
    _lib_probed = True
    candidates = []
    found = ctypes.util.find_library("brotlidec")
    if found:
        candidates.append(found)
    candidates += ["libbrotlidec.so.1", "libbrotlidec.so",
                   "libbrotlidec.dylib"]
    lib = _find(candidates)
    if lib is not None:
        lib.BrotliDecoderCreateInstance.restype = ctypes.c_void_p
        lib.BrotliDecoderCreateInstance.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p]
        lib.BrotliDecoderDestroyInstance.argtypes = [ctypes.c_void_p]
        lib.BrotliDecoderDecompressStream.restype = ctypes.c_int
        lib.BrotliDecoderDecompressStream.argtypes = [
            ctypes.c_void_p,
            ctypes.POINTER(ctypes.c_size_t),
            ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
            ctypes.POINTER(ctypes.c_size_t),
            ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
            ctypes.POINTER(ctypes.c_size_t)]
    _lib = lib
    return _lib


def available() -> bool:
    """True when a system libbrotlidec is loadable in THIS process."""
    return _load() is not None


def decompress(data: bytes, max_output: int = 1 << 28) -> bytes:
    """One brotli stream -> bytes, or ValueError on malformation,
    truncation, trailing garbage, or a ``max_output`` breach."""
    lib = _load()
    if lib is None:
        raise RuntimeError("no system libbrotlidec — callers must "
                           "check brotli_codec.available() first")
    state = lib.BrotliDecoderCreateInstance(None, None, None)
    if not state:
        raise ValueError("brotli: decoder instance allocation failed")
    try:
        in_buf = (ctypes.c_ubyte * max(len(data), 1)) \
            .from_buffer_copy(data or b"\x00")
        avail_in = ctypes.c_size_t(len(data))
        next_in = ctypes.cast(in_buf,
                              ctypes.POINTER(ctypes.c_ubyte))
        total = ctypes.c_size_t(0)
        out = bytearray()
        chunk = (ctypes.c_ubyte * _OUT_CHUNK)()
        while True:
            avail_out = ctypes.c_size_t(_OUT_CHUNK)
            next_out = ctypes.cast(chunk,
                                   ctypes.POINTER(ctypes.c_ubyte))
            res = lib.BrotliDecoderDecompressStream(
                state, ctypes.byref(avail_in), ctypes.byref(next_in),
                ctypes.byref(avail_out), ctypes.byref(next_out),
                ctypes.byref(total))
            produced = _OUT_CHUNK - avail_out.value
            if produced:
                if len(out) + produced > max_output:
                    raise ValueError(
                        "brotli: output over the caller's ceiling")
                # string_at copies the bytes directly; slicing a
                # c_ubyte array builds a million-int Python list per
                # chunk (r12 review finding)
                out += ctypes.string_at(chunk, produced)
            if res == _RESULT_SUCCESS:
                if avail_in.value:
                    raise ValueError(
                        "brotli: trailing bytes after the stream")
                return bytes(out)
            if res == _RESULT_NEEDS_MORE_OUTPUT:
                continue
            if res == _RESULT_NEEDS_MORE_INPUT:
                raise ValueError("brotli: truncated stream")
            raise ValueError("brotli: corrupt stream")
    finally:
        lib.BrotliDecoderDestroyInstance(state)


def _encode_for_tests(data: bytes, quality: int = 5) -> bytes:
    """Reference-encoder fixture helper (libbrotlienc, tests only):
    raises RuntimeError when no encoder library is present."""
    found = ctypes.util.find_library("brotlienc")
    lib = _find(([found] if found else [])
                + ["libbrotlienc.so.1", "libbrotlienc.so"])
    if lib is None:
        raise RuntimeError("no system libbrotlienc")
    lib.BrotliEncoderCompress.restype = ctypes.c_int
    lib.BrotliEncoderCompress.argtypes = [
        ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_ubyte), ctypes.POINTER(ctypes.c_size_t),
        ctypes.POINTER(ctypes.c_ubyte)]
    src = (ctypes.c_ubyte * max(len(data), 1)) \
        .from_buffer_copy(data or b"\x00")
    cap = len(data) + 1024
    dst = (ctypes.c_ubyte * cap)()
    dst_len = ctypes.c_size_t(cap)
    ok = lib.BrotliEncoderCompress(quality, 22, 0, len(data), src,
                                   ctypes.byref(dst_len), dst)
    if not ok:
        raise RuntimeError("brotli encode failed")
    return bytes(dst[:dst_len.value])
