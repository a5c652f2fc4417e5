"""HTTP payload layer (the bytes inside crawl response records):
chunked transfer decoding + content codings, never-raise contract."""

from __future__ import annotations

import gzip
import random
import zlib

from dynamic_spark_spark.llmops.html import (
    HTTP_BODY_CAP,
    http_dechunk,
    http_payload_decode,
)


def _chunk(b: bytes, step: int = 5) -> bytes:
    out = bytearray()
    for i in range(0, len(b), step):
        part = b[i : i + step]
        out += f"{len(part):x}".encode() + b"\r\n" + part + b"\r\n"
    out += b"0\r\n\r\n"
    return bytes(out)


def test_dechunk_roundtrip_and_extensions():
    body = b"the quick brown fox jumps over the lazy dog" * 20
    assert http_dechunk(_chunk(body)) == body
    assert http_dechunk(_chunk(body, 1)) == body
    # chunk extensions after ';' are ignored per RFC 9112
    ext = b"5;name=value\r\nhello\r\n0\r\n\r\n"
    assert http_dechunk(ext) == b"hello"
    # refusals: truncated chunk, missing CRLF, lying size, size bomb
    assert http_dechunk(b"a\r\nshort\r\n0\r\n\r\n") is None
    assert http_dechunk(b"5\r\nhelloXX0\r\n\r\n") is None
    assert http_dechunk(b"") is None
    assert http_dechunk(f"{HTTP_BODY_CAP + 1:x}\r\n".encode()) is None


def test_payload_decode_all_codings():
    from dynamic_spark_spark.llmops.native_codec import compress
    from dynamic_spark_spark.llmops.zstd import zstd_compress

    text = ("training corpus document body " * 50).encode()
    cases = [
        ("identity", text),
        ("gzip", gzip.compress(text)),
        ("deflate", zlib.compress(text)),                 # zlib-wrapped
        ("deflate", (lambda co: co.compress(text) + co.flush())(
            zlib.compressobj(wbits=-15))),                # raw form
        ("zstd", zstd_compress(text)),
        ("br", compress("brotli", text)),
    ]
    for enc, wire in cases:
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + f"Content-Encoding: {enc}\r\n".encode()
            + b"Transfer-Encoding: chunked\r\n\r\n"
            + _chunk(wire, 700)
        )
        got = http_payload_decode(payload)
        assert got is not None, enc
        status, ctype, body = got
        assert (status, ctype, body) == (200, "text/html", text), enc
    # content-length framing (no chunking) + trailing garbage trimmed
    payload = (
        b"HTTP/1.1 404 Not Found\r\nContent-Length: 4\r\n\r\nbodyJUNK"
    )
    assert http_payload_decode(payload) == (404, None, b"body")
    # unknown codings refuse
    payload = b"HTTP/1.1 200 OK\r\nContent-Encoding: compress\r\n\r\nxxxx"
    assert http_payload_decode(payload) is None
    # non-HTTP head refuses
    assert http_payload_decode(b"GARBAGE\r\n\r\nbody") is None
    assert http_payload_decode(b"") is None


def test_payload_decode_never_raises():
    base = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        + _chunk(gzip.compress(b"fuzz seed body " * 40), 64)
    )
    rng = random.Random(3)
    for cut in range(0, len(base), 13):
        out = http_payload_decode(base[:cut])
        assert out is None or isinstance(out, tuple)
    for _ in range(400):
        m = bytearray(base)
        for _ in range(rng.randint(1, 5)):
            m[rng.randrange(len(m))] = rng.randrange(256)
        out = http_payload_decode(bytes(m))
        assert out is None or isinstance(out, tuple)


def test_payload_decode_refusals_from_review():
    """r11 review findings pinned: truncated/garbage-trailed gzip and
    deflate bodies refuse (stream completeness, same discipline as
    gzip_member_walk); non-chunked Transfer-Encoding codings refuse
    instead of passing still-encoded wire bytes through; non-RFC chunk
    size grammar ('0x5', '+5', '1_0') refuses instead of mis-framing."""
    text = b"secret document body " * 30
    gz = gzip.compress(text)
    # truncated gzip: no partial documents
    payload = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
               + gz[: len(gz) // 2])
    assert http_payload_decode(payload) is None
    # trailing junk after a complete member
    payload = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + gz + b"JUNK"
    assert http_payload_decode(payload) is None
    # truncated zlib-deflate
    df = zlib.compress(text)
    payload = (b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
               + df[: len(df) // 2])
    assert http_payload_decode(payload) is None
    # Transfer-Encoding gzip (alone or with chunked) refuses
    for te in (b"gzip", b"gzip, chunked"):
        payload = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: " + te
                   + b"\r\n\r\n" + gz)
        assert http_payload_decode(payload) is None
    # chunk-size grammar: Python-isms are not HEXDIG
    for bad in (b"0x5\r\nhello\r\n0\r\n\r\n", b"+5\r\nhello\r\n0\r\n\r\n",
                b"1_0\r\n" + b"x" * 16 + b"\r\n0\r\n\r\n"):
        assert http_dechunk(bad) is None


# ---------------------------------------------------------------------------
# charset tier — r12
# ---------------------------------------------------------------------------

from dynamic_spark_spark.llmops.html import http_charset_decode  # noqa: E402


def test_charset_header_labels_and_aliases():
    body = "héllo wörld".encode("latin-1")
    for label in ("iso-8859-1", "Latin-1", "latin1", "L1", "ISO_8859-1"):
        got = http_charset_decode(body, f"text/plain; charset={label}")
        assert got == ("iso-8859-1", "héllo wörld"), label
    # quoted parameter value
    got = http_charset_decode(body, 'text/plain; charset="latin-1"')
    assert got == ("iso-8859-1", "héllo wörld")
    # cp1252-specific rows: 0x80 is € in 1252, U+0080 in true latin-1
    body = "€ “q” –".encode("cp1252")
    assert http_charset_decode(body, "text/html; charset=cp1252") == (
        "windows-1252", "€ “q” –"
    )
    assert http_charset_decode(body, "text/html; charset=latin-1")[1] != (
        "€ “q” –"
    )  # label-faithful: latin-1 maps 0x80 to U+0080, not €


def test_charset_bom_wins_over_header():
    text = "unicode 日本語 \U0001f680"
    wire = b"\xff\xfe" + text.encode("utf-16-le")
    got = http_charset_decode(wire, "text/plain; charset=utf-8")
    assert got == ("utf-16le", text)
    wire = b"\xfe\xff" + text.encode("utf-16-be")
    assert http_charset_decode(wire, None) == ("utf-16be", text)
    wire = b"\xef\xbb\xbf" + text.encode("utf-8")
    assert http_charset_decode(wire, "text/plain; charset=latin-1") == (
        "utf-8", text
    )


def test_charset_meta_sniff_and_default():
    body = '<meta charset="windows-1252"><p>x €'.encode("cp1252")
    got = http_charset_decode(body, "text/html")
    assert got == ("windows-1252", '<meta charset="windows-1252"><p>x €')
    body = (
        '<meta http-equiv="Content-Type" '
        'content="text/html; charset=ISO-8859-1">é'.encode("latin-1")
    )
    got = http_charset_decode(body, None)
    assert got is not None and got[0] == "iso-8859-1"
    # no header, no meta: UTF-8 strict default
    assert http_charset_decode("plain ascii".encode(), None) == (
        "utf-8", "plain ascii"
    )


def test_charset_east_asian_labels():
    """r13 (r12 verdict "What's missing #2"): the East-Asian labels
    Common Crawl carries in volume, one CJK body per label — each
    phrase exercises the codec's multi-byte lead/trail structure, and
    the label-faithful split (shift_jis vs windows-31j, gb2312 vs gbk)
    mirrors the latin-1 vs cp1252 posture."""
    cases = [
        ("Shift_JIS", "shift_jis", "shift_jis", "日本語テスト"),
        ("sjis", "shift_jis", "shift_jis", "カタカナ"),
        ("CP932", "windows-31j", "cp932", "①㈱ハシゴ高"),  # NEC/IBM ext
        ("EUC-JP", "euc-jp", "euc_jp", "ひらがな漢字"),
        ("euc-kr", "euc-kr", "euc_kr", "한국어 시험"),
        ("cp949", "windows-949", "cp949", "뷁"),  # UHC-only syllable
        ("GB2312", "gb2312", "gb2312", "中文测试"),
        ("gbk", "gbk", "gbk", "中文鎔测试"),  # 鎔 is GBK, not GB2312
        ("windows-936", "gbk", "gbk", "中文测试"),
        ("gb18030", "gb18030", "gb18030", "中文𠀀四字节"),
        ("Big5", "big5", "big5", "中文測試"),
        ("big5-hkscs", "big5-hkscs", "big5hkscs", "香港增補字符集"),
    ]
    for label, canon, codec, phrase in cases:
        got = http_charset_decode(
            phrase.encode(codec), f"text/html; charset={label}"
        )
        assert got == (canon, phrase), (label, got)
    # label-faithfulness: the cp932/gbk/uhc vendor extensions are NOT
    # silently granted to the base labels (WHATWG would upgrade; a data
    # pipeline refuses so the label stays auditable)
    assert http_charset_decode(
        "①".encode("cp932"), "text/plain; charset=shift_jis"
    ) is None
    assert http_charset_decode(
        "鎔".encode("gbk"), "text/plain; charset=gb2312"
    ) is None
    assert http_charset_decode(
        "뷁".encode("cp949"), "text/plain; charset=euc-kr"
    ) is None
    # invalid multi-byte sequences refuse: a lone lead byte
    assert http_charset_decode(b"\x88", "text/plain; charset=shift_jis") is None
    assert http_charset_decode(b"\xa4", "text/plain; charset=euc-jp") is None


def test_charset_world_scripts():
    """r13 second batch: the single-byte Cyrillic/Central-European/
    Greek/Turkish/Arabic/Hebrew/Thai/Baltic/Vietnamese labels plus the
    stateful ISO-2022-JP — one native phrase per label exercising the
    non-ASCII rows of each table."""
    cases = [
        ("windows-1251", "windows-1251", "cp1251", "русский текст"),
        ("KOI8-R", "koi8-r", "koi8_r", "русский текст"),
        ("koi8-u", "koi8-u", "koi8_u", "українська ґанок"),
        ("windows-1250", "windows-1250", "cp1250", "čeština školní"),
        ("ISO-8859-2", "iso-8859-2", "iso8859_2", "polski łódź"),
        ("iso-8859-5", "iso-8859-5", "iso8859_5", "кириллица"),
        ("windows-1253", "windows-1253", "cp1253", "ελληνικά"),
        ("iso-8859-7", "iso-8859-7", "iso8859_7", "ελληνικά"),
        ("windows-1254", "windows-1254", "cp1254", "türkçe ğüşıİ"),
        ("iso-8859-9", "iso-8859-9", "iso8859_9", "türkçe ğüşı"),
        ("windows-1255", "windows-1255", "cp1255", "עברית"),
        ("windows-1256", "windows-1256", "cp1256", "العربية"),
        ("windows-1257", "windows-1257", "cp1257", "lietuvių ąžuolas"),
        # cp1258 carries Vietnamese as base vowel + COMBINING tone mark
        # (precomposed U+1EBF etc. have no slot) — spell it explicitly
        ("windows-1258", "windows-1258", "cp1258",
         "tiếng Việt đồng"),
        ("tis-620", "tis-620", "tis_620", "ภาษาไทย"),
        ("windows-874", "windows-874", "cp874", "ภาษาไทย"),
        ("iso-8859-15", "iso-8859-15", "iso8859_15", "€ café œu"),
        ("ISO-2022-JP", "iso-2022-jp", "iso2022_jp", "日本語テスト"),
    ]
    for label, canon, codec, phrase in cases:
        got = http_charset_decode(
            phrase.encode(codec), f"text/html; charset={label}"
        )
        assert got == (canon, phrase), (label, got)
    # koi8-r and windows-1251 place the same letters at DIFFERENT bytes —
    # label-faithfulness is observable, not cosmetic
    assert "русский".encode("koi8_r") != "русский".encode("cp1251")
    # invalid bytes still refuse per label (0x98 unmapped in cp1251)
    assert http_charset_decode(
        b"\x98", "text/plain; charset=windows-1251"
    ) is None


def test_charset_refusals():
    # unknown label: refuse, don't guess (the r13 batches moved the old
    # pins into the table, so the pin uses labels that STAY out: SCSU
    # and HZ are not worth a decode path)
    assert http_charset_decode(b"abc", "text/plain; charset=scsu") is None
    assert http_charset_decode(b"abc", "text/plain; charset=hz-gb-2312") is None
    # bytes invalid in the resolved charset: refuse, don't mojibake
    assert http_charset_decode(b"\xff\xfa bad utf8", None) is None
    assert http_charset_decode(
        b"\x81", "text/plain; charset=cp1252"
    ) is None  # 0x81 is unmapped in windows-1252
    assert http_charset_decode(
        "naïve".encode("latin-1"), "text/plain; charset=us-ascii"
    ) is None
    # never raises on garbage headers
    assert http_charset_decode(b"x", "charset") in (("utf-8", "x"), None)


def _br_payload(wire: bytes) -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Content-Encoding: br\r\n\r\n" + wire
    )


def test_br_coding_native_seam():
    """`br` decodes through pyarrow's native brotli; malformed,
    truncated and garbage-trailed streams refuse."""
    from dynamic_spark_spark.llmops.native_codec import compress

    wire = compress("brotli", b"hello brotli payload " * 40)
    got = http_payload_decode(_br_payload(wire))
    assert got == (200, "text/plain", b"hello brotli payload " * 40)
    assert http_payload_decode(_br_payload(b"xxxx")) is None
    assert http_payload_decode(_br_payload(wire[: len(wire) // 2])) is None
    assert http_payload_decode(_br_payload(wire + b"JUNK")) is None


def test_br_seam_streaming_cap():
    """The body cap stops a `br` bomb: 64 MiB of zeros compress to a few
    hundred bytes, and the decode refuses past the cap without holding
    the full expansion."""
    import time

    from dynamic_spark_spark.llmops.native_codec import compress

    bomb = compress("brotli", bytes(64 << 20))
    assert len(bomb) < 4096
    t0 = time.monotonic()
    assert http_payload_decode(_br_payload(bomb), cap=1 << 20) is None
    assert time.monotonic() - t0 < 2.0
    small = compress("brotli", b"A" * 4096)
    assert http_payload_decode(_br_payload(small), cap=4095) is None
    assert http_payload_decode(_br_payload(small), cap=4096)[2] == b"A" * 4096
