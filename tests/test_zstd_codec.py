"""zstd, snappy and brotli through pyarrow's native codecs.

The engine decodes and encodes these formats only through
:mod:`llmops.native_codec`. These tests pin the container discipline
around the native call (never raise, refuse over the cap, refuse
truncation, corruption and lying sizes, never pad), the zstd-facing
names the readers use, interop with the real ``zstd`` CLI, and XXH64
(the zstd frame checksum, kept in pure Python for the bloom audit).
"""

from __future__ import annotations

import os
import random
import shutil
import struct
import subprocess
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dynamic_spark_spark.llmops.native_codec import (
    compress,
    decompress_sized,
    decompress_stream,
    snappy_length,
)
from dynamic_spark_spark.llmops.parquet_raw import snappy_decompress
from dynamic_spark_spark.llmops.zstd import (
    xxh64,
    zstd_compress,
    zstd_decompress,
    zstd_decompress_concat,
)


def _fcs_field(frame: bytes) -> tuple[int, int]:
    """(offset, length) of a single-segment zstd frame's content-size
    field (RFC 8878 §3.1.1.1)."""
    fhd = frame[4]
    assert (fhd >> 5) & 1 and not fhd & 3, "single segment, no dictionary"
    fcs_len = (1, 2, 4, 8)[fhd >> 6]
    return 5, fcs_len


def _with_checksum(frame: bytes, data: bytes) -> bytes:
    """Set the Content_Checksum_flag and append the low 32 bits of
    XXH64(content), as libzstd does with checksums on."""
    out = bytearray(frame)
    out[4] |= 0x04
    return bytes(out) + struct.pack("<I", xxh64(data) & 0xFFFFFFFF)


# ---------------------------------------------------------------------------
# one contract over every native codec and decode shape
# ---------------------------------------------------------------------------

_PAYLOAD = b"native codec contract payload " * 200 + bytes(range(256))
_CODECS = ("zstd", "snappy", "brotli")


def _decoders(codec: str) -> dict:
    """Every entry point that decodes ``codec`` bytes, as
    ``f(raw, size, cap)``: the sized helper for all, the streaming
    helper for the streamable codecs, and the public reader names."""
    out = {"sized": lambda raw, size, cap: decompress_sized(codec, raw, size, cap)}
    if codec == "snappy":
        out["snappy_decompress"] = lambda raw, size, cap: snappy_decompress(raw, cap)
    else:
        out["stream"] = lambda raw, size, cap: decompress_stream(codec, raw, cap)
    if codec == "zstd":
        out["zstd_decompress"] = lambda raw, size, cap: zstd_decompress(raw, cap)
    return out


def _varint(v: int) -> bytes:
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _snappy_tags(wire: bytes) -> bytes:
    """A snappy block without its varint preamble."""
    return wire[len(_varint(snappy_length(wire))) :]


def _corrupt(codec: str, data: bytes) -> bytes:
    """A stream whose corruption the format itself detects."""
    wire = compress(codec, data)
    if codec == "zstd":  # wrong content checksum
        framed = bytearray(_with_checksum(wire, data))
        framed[-1] ^= 0xFF
        return bytes(framed)
    if codec == "snappy":  # first tag copies from before the output start
        return _varint(len(data)) + b"\x0e\xff\xff" + _snappy_tags(wire)
    return bytes([wire[0] ^ 0xFF]) + wire[1:]  # brotli: bad stream header


def _lying_size(codec: str, data: bytes) -> tuple[bytes, int]:
    """A stream that decodes to fewer bytes than its declared size:
    the format's own length field where it has one (zstd content size,
    snappy preamble), the caller's size otherwise."""
    wire = compress(codec, data)
    size = len(data) + 1
    if codec == "zstd":
        off, ln = _fcs_field(wire)
        fcs = size - (256 if ln == 2 else 0)
        wire = wire[:off] + fcs.to_bytes(ln, "little") + wire[off + ln :]
    elif codec == "snappy":
        wire = _varint(size) + _snappy_tags(wire)
    return wire, size


@pytest.mark.parametrize("codec", _CODECS)
@pytest.mark.parametrize(
    "case", ["roundtrip", "bomb", "truncated", "corrupted", "short", "unpadded"]
)
def test_native_codec_contract(codec, case):
    """Each decode entry point of each native codec: exact round trip;
    output over the cap refused; every truncation refused; detectable
    corruption refused; a stream shorter than its declared size refused
    (pyarrow's one-shot decode would pad it); and a generous cap never
    pads the result. A brotli stream carries no length of its own, so
    only the sized helper can see it come up short."""
    wire = compress(codec, _PAYLOAD)
    n = len(_PAYLOAD)
    for name, decode in _decoders(codec).items():
        if case == "short" and codec == "brotli" and name != "sized":
            continue
        if case == "roundtrip":
            assert decode(wire, n, n) == _PAYLOAD
        elif case == "bomb":
            t0 = time.monotonic()
            assert decode(wire, n, n - 1) is None
            assert time.monotonic() - t0 < 0.5
        elif case == "truncated":
            for cut in range(0, len(wire), 3):
                assert decode(wire[:cut], n, 1 << 20) is None, cut
        elif case == "corrupted":
            assert decode(_corrupt(codec, _PAYLOAD), n, 1 << 20) is None
        elif case == "short":
            lying, size = _lying_size(codec, _PAYLOAD)
            assert decode(lying, size, 1 << 20) is None
            if name == "sized":  # the caller's size, above the real one
                assert decode(wire, n + 1, 1 << 20) is None
        else:
            out = decode(wire, n, 1 << 20)
            assert out == _PAYLOAD and len(out) == n


def test_native_codec_refusals_never_raise():
    """Empty and None inputs, negative sizes, bad snappy preambles and
    snappy through the (unsupported) streaming shape all refuse."""
    assert decompress_stream("snappy", compress("snappy", b"abc"), 10) is None
    assert decompress_sized("zstd", b"", 0, 10) is None
    assert decompress_sized("zstd", compress("zstd", b"abc"), -1, 10) is None
    assert decompress_stream("zstd", None, 10) is None
    assert snappy_length(b"") is None
    assert snappy_length(b"\xff" * 6) is None


# ---------------------------------------------------------------------------
# the zstd names the readers use
# ---------------------------------------------------------------------------


def test_zstd_frame_shapes():
    cases = [
        b"",
        b"a",
        b"hello world " * 50,
        os.urandom(500),  # incompressible: raw block
        b"abcabcabcabc" * 1000,
        bytes(range(256)) * 20,
        b"x" * 200_000,  # multi-block (128 KiB block size)
    ]
    for data in cases:
        frame = zstd_compress(data)
        assert zstd_decompress(frame) == data, len(data)
    # compression actually compresses compressible input
    rep = b"the quick brown fox " * 5000
    assert len(zstd_compress(rep)) < len(rep) // 10


def test_zstd_degrades():
    frame = zstd_compress(b"degrade sweep payload text. " * 300)
    assert zstd_decompress(b"") is None
    assert zstd_decompress(None) is None
    assert zstd_decompress(b"\x28\xb5\x2f\xfdgarbage") is None
    t0 = time.monotonic()
    for cut in range(1, len(frame), 7):
        zstd_decompress(frame[:cut])  # must not raise
    for pos in range(0, len(frame), 3):
        m = bytearray(frame)
        m[pos] ^= 0xFF
        zstd_decompress(bytes(m))  # must not raise
    assert time.monotonic() - t0 < 10.0


def test_zstd_declared_size_bomb():
    """A frame DECLARING a huge content size is refused before any
    block decodes."""
    bomb = (
        b"\x28\xb5\x2f\xfd" + b"\xe0" + struct.pack("<Q", 1 << 50)
        + (1 | (0 << 1) | (4 << 3)).to_bytes(3, "little") + b"tiny"
    )
    t0 = time.monotonic()
    assert zstd_decompress(bomb) is None
    assert time.monotonic() - t0 < 0.5


def test_zstd_rle_block_and_repeat_offsets():
    """Highly repetitive input (RLE-ish matches, back-to-back same-offset
    sequences) round-trips and compresses."""
    data = (b"A" * 400 + b"B" * 400) * 50 + b"ABAB" * 300
    frame = zstd_compress(data)
    assert zstd_decompress(frame) == data
    assert len(frame) < len(data) // 20


@settings(max_examples=80, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_zstd_random_roundtrip(data):
    assert zstd_decompress(zstd_compress(data)) == data


@settings(max_examples=40, deadline=None)
@given(
    st.binary(min_size=1, max_size=24),
    st.integers(min_value=1, max_value=2000),
)
def test_zstd_periodic_roundtrip(unit, reps):
    data = (unit * reps)[:50_000]
    assert zstd_decompress(zstd_compress(data)) == data


def test_xxh64_reference_vectors_and_checksum():
    """XXH64 pinned to the published reference vectors, and it is the
    frame checksum libzstd verifies: a frame carrying XXH64(content)
    decodes, and corrupting the stored checksum refuses it."""
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"", 1) == 0xD5AFBA1336A3BE4B
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B

    data = b"checksum guard payload " * 40
    frame = bytearray(_with_checksum(zstd_compress(data), data))
    assert zstd_decompress(bytes(frame)) == data
    frame[-1] ^= 0xFF  # corrupt the stored checksum itself
    assert zstd_decompress(bytes(frame)) is None


def test_dictionary_frames_refused():
    """A nonzero Dictionary_ID must be refused (no dictionary support),
    not skipped-and-misdecoded."""
    frame = bytearray(zstd_compress(b"payload " * 50))
    # FHD at byte 4: set DID_flag=1 and splice a 1-byte nonzero DID in
    fhd = frame[4]
    frame[4] = fhd | 0x01
    frame.insert(5, 0x07)
    assert zstd_decompress(bytes(frame)) is None


# ---------------------------------------------------------------------------
# real-libzstd CLI interop
# ---------------------------------------------------------------------------

_ZSTD_CLI = shutil.which("zstd")

needs_cli = pytest.mark.skipif(
    _ZSTD_CLI is None, reason="named dep missing: zstd CLI"
)


def _cli_compress(data: bytes, level: int = 3) -> bytes:
    return subprocess.run(
        [_ZSTD_CLI, f"-{level}", "-c"], input=data,
        capture_output=True, check=True,
    ).stdout


def _cli_decompress(data: bytes) -> bytes:
    return subprocess.run(
        [_ZSTD_CLI, "-d", "-c"], input=data, capture_output=True, check=True,
    ).stdout


def _log_corpus() -> bytes:
    """Structured multi-block corpus: at level >= 9 libzstd reuses
    sequence tables across its 128 KiB blocks and emits treeless
    literals."""
    line = (
        b"2026-08-16T00:00:%02d INFO request id=%06d "
        b"path=/api/v1/items status=200 bytes=%05d\n"
    )
    return b"".join(line % (i % 60, i, (i * 37) % 90000) for i in range(8000))


@needs_cli
def test_cli_written_frames_decode_bit_exact():
    """Frames written by the zstd CLI (checksummed, no content size when
    streamed from stdin) at several levels decode bit-exactly — text,
    runs, random (incompressible -> raw blocks), and empty payloads."""
    rng = random.Random(42)
    words = [
        "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
        "spark", "engine", "corpus", "training", "data", "zstd", "frame",
    ]
    text = (" ".join(rng.choice(words) for _ in range(60000))).encode()
    payloads = [text, b"a" * 50000, rng.randbytes(5000), b"", _log_corpus()]
    for payload in payloads:
        for level in (1, 3, 9, 19):
            frame = _cli_compress(payload, level)
            assert zstd_decompress(frame) == payload, (len(payload), level)


@needs_cli
def test_cli_decodes_our_frames():
    """The reverse direction: the engine's fixture frames decode under
    the CLI."""
    rng = random.Random(7)
    for payload in [
        b"", b"interop " * 4000, bytes(range(256)) * 600, rng.randbytes(3000),
    ]:
        assert _cli_decompress(zstd_compress(payload)) == payload


@needs_cli
def test_repeat_offsets_and_window_span_blocks():
    """Multi-block frames where matches and repeat-offset history cross
    the 128 KiB block boundary: 600 KiB of period-64 data."""
    unit = bytes(range(64))
    payload = unit * 9600  # 600 KiB, offsets resolve across blocks
    for level in (1, 3, 9):
        assert zstd_decompress(_cli_compress(payload, level)) == payload


@needs_cli
def test_multi_frame_concat_and_skippable_frames():
    """Real multi-frame streams (RFC 8878 §3): pzstd-style frame
    concatenation and skippable frames (0x184D2A50..5F + u32 size, the
    seekable format's index carrier). The CLI and the concat decoder
    must agree on the same laced stream; trailing garbage and truncated
    skippables refuse."""
    a = b"first frame payload " * 500
    b = b"second, different payload " * 300
    fa = _cli_compress(a, 3)
    fb = _cli_compress(b, 19)
    skip = struct.pack("<I", 0x184D2A53) + struct.pack("<I", 12) + b"seek-index!!"
    stream = fa + skip + fb
    assert _cli_decompress(stream) == a + b  # CLI accepts the lacing
    assert zstd_decompress_concat(stream) == a + b
    # leading and trailing skippables too
    assert zstd_decompress_concat(skip + fa + skip) == a
    # the engine's own frames concatenate the same way
    assert zstd_decompress_concat(zstd_compress(a) + zstd_compress(b)) == a + b
    # refusals: trailing garbage, truncated skippable, empty input
    assert zstd_decompress_concat(stream + b"xx") is None
    assert zstd_decompress_concat(skip[:6]) is None
    assert zstd_decompress_concat(b"") is None
    # the cap applies to the joined payload
    assert zstd_decompress_concat(stream, len(a) + len(b) - 1) is None
    assert zstd_decompress(fa) == a
