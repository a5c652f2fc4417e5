"""zstd, snappy and brotli through pyarrow's native codecs.

pyarrow already links libzstd, snappy and brotli, so every decode and
encode of those formats in the engine goes through here. The format
readers (parquet pages, ORC chunks, ``.tar.zst`` members, HTTP
``Content-Encoding``) keep only their own framing; this module adds the
container discipline around the native call: it never raises, and it
refuses any output larger than the caller's cap.

There are two decode shapes:

- :func:`decompress_sized`: the exact output length is known up front
  (a parquet page header's ``uncompressed_page_size``, snappy's varint
  preamble). Oversized declarations are refused before anything is
  allocated, and an output of any other length is refused.
- :func:`decompress_stream`: the length is unknown (``.zst`` shards,
  HTTP bodies, ORC zstd chunks). The stream is read to at most
  ``cap + 1`` bytes and refused past ``cap``. The streaming decoder
  walks concatenated and skippable zstd frames and frames without a
  content size, and it raises on truncation and on a bad frame
  checksum.

pyarrow's one-shot ``decompress`` pads the result with uninitialised
bytes when the real output of snappy, brotli or lz4_raw is shorter than
``decompressed_size``. So the one-shot call is used only where the
length is checked: by libzstd itself, or by snappy against its own
preamble. Brotli goes through the stream even when the size is known.
"""

from __future__ import annotations

#: codecs whose one-shot decode refuses an output of the wrong length
_EXACT_ONE_SHOT = ("zstd", "snappy")


def snappy_length(src: bytes):
    """The uncompressed length from a snappy block's varint preamble
    (google/snappy format_description.txt), or None when the preamble is
    missing or longer than 32 bits."""
    total = 0
    shift = 0
    for pos, b in enumerate(src[:5]):
        total |= (b & 0x7F) << shift
        if not b & 0x80:
            return total
        shift += 7
    return None


def decompress_sized(codec: str, body: bytes, size: int, cap: int):
    """Decode ``body`` whose decoded length must be exactly ``size``.
    Returns bytes or None. A size over ``cap`` is refused before any
    decode, and so is a snappy block whose preamble disagrees with
    ``size``."""
    if not body or not 0 <= size <= cap:
        return None
    if codec not in _EXACT_ONE_SHOT:
        out = decompress_stream(codec, body, size)
        return out if out is not None and len(out) == size else None
    if codec == "snappy" and snappy_length(body) != size:
        return None
    import pyarrow as pa

    try:
        return pa.Codec(codec).decompress(
            body, decompressed_size=size, asbytes=True
        )
    except (pa.ArrowException, OSError):
        return None


def decompress_stream(codec: str, raw: bytes, cap: int):
    """Decode a whole ``raw`` stream of unknown decoded length. Returns
    bytes, or None when the stream is malformed, truncated, empty, or
    decodes to more than ``cap`` bytes."""
    if not raw:
        return None
    import pyarrow as pa

    try:
        out = pa.CompressedInputStream(pa.BufferReader(raw), codec).read(
            cap + 1
        )
    except (pa.ArrowException, OSError):
        return None
    return out if len(out) <= cap else None


def compress(codec: str, data: bytes, level: int | None = None) -> bytes:
    """Encode ``data`` with pyarrow's native ``codec`` at ``level``
    (the codec's default when None)."""
    import pyarrow as pa

    return pa.Codec(codec, compression_level=level).compress(
        data, asbytes=True
    )
