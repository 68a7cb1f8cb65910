"""Brotli (RFC 7932) decode through the brotli library pyarrow bundles.

Why it exists: real crawls carry ``Content-Encoding: br`` responses.
brotli's 120 KB static dictionary is data, not derivable spec, so the
decoder has to come from a library; pyarrow (a declared dependency)
ships one, so ``decompress`` shares ``zstd_codec``'s pyarrow stream
wrapper. Output is bounded by the caller's ceiling: a brotli bomb stops
at the cap without materializing.

Error surface: ``ValueError`` for malformed/truncated streams and cap
breaches — the corrupt-data contract shared with ``zstd_codec``.
"""

from __future__ import annotations

from kiji_mapreduce_spark.io.zstd_codec import arrow_decompress


def decompress(data: bytes, max_output: int = 1 << 28) -> bytes:
    """One brotli stream -> bytes, or ValueError on malformation,
    truncation, trailing garbage, or a ``max_output`` breach (at most
    ``max_output + 1`` bytes are ever decoded)."""
    return arrow_decompress(data, "brotli", max_output)
