"""Zstandard (RFC 8878): the codec modern training corpora ship in.

HuggingFace dumps are ``.jsonl.zst``, archived crawls move to
``.tar.zst``, and lakehouse tables use zstd as a parquet and ORC codec.
Both directions go through pyarrow's native libzstd
(:mod:`llmops.native_codec`); this module keeps the zstd-facing names the
format readers call:

- :func:`zstd_decompress` / :func:`zstd_decompress_concat`: a whole
  stream of unknown decoded length (one frame, or several frames with
  skippable frames between them, as pzstd and the seekable format
  write). Never raises; refuses truncation, bad frame checksums,
  trailing garbage, frames that name a dictionary, and any output over
  the cap;
- :func:`zstd_compress`: fixture synthesis for the keys below and for
  the ``.tar.zst`` and HTTP ``zstd`` keys.

XXH64, the hash behind the zstd frame checksum and Spark's ``xxhash64``,
stays in pure Python: the parquet bloom-filter audit hashes values with
it, and :func:`fn_xxhash64_pure` proves it bit-identical to the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_spark_spark.llmops.native_codec import compress, decompress_stream
from dynamic_spark_spark.registry import query
from dynamic_spark_spark.sources.readers import load_table

#: decompressed cap per stream — the container discipline
ZSTD_FRAME_CAP = 64 << 20


def zstd_compress(data: bytes, level: int = 3) -> bytes:
    """One zstd frame of ``data`` at ``level``, written by libzstd."""
    return compress("zstd", data, level)


def zstd_decompress(raw: bytes, cap: int = ZSTD_FRAME_CAP):
    """Decode a zstd stream: the joined payload of its data frames
    (skippable frames are skipped), or None for anything malformed,
    truncated, or larger than ``cap``. Never raises."""
    return decompress_stream("zstd", raw, cap)


#: the streaming decoder reads concatenated frames, so the multi-frame
#: name the archive and HTTP readers use is the same function
zstd_decompress_concat = zstd_decompress


_ZST_TEXT_ORACLE = """
SELECT doc_id, text FROM documents WHERE text NOT LIKE '%|%'
 AND NOT contains(text, chr(10)) AND NOT contains(text, chr(13))
"""


@query("scan_text_zst", _ZST_TEXT_ORACLE, tag="scan")
def scan_text_zst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``.zst`` text-shard round trip: each Arrow batch of documents
    becomes one newline-framed shard, compressed at level 9 and decoded
    back before re-parsing. The closed-form oracle hash-proves every
    line. This is the format modern corpora ship in (``.jsonl.zst``);
    one frame is one decode unit, so corpora shard by file, exactly how
    the key processes them. Per-batch mapInPandas, zero shuffle."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").where(
        ~F.col("text").contains("|")
        & ~F.col("text").contains("\n")
        & ~F.col("text").contains("\r")
    ).select("doc_id", "text")

    def roundtrip(batches):
        for pdf in batches:
            lines = "".join(
                f"{int(i)}|{t}\n" for i, t in zip(pdf["doc_id"], pdf["text"])
            ).encode("utf-8")
            back = zstd_decompress(zstd_compress(lines, level=9))
            rows = []
            if back is not None:
                for line in back.decode("utf-8").splitlines():
                    did, _, text = line.partition("|")
                    rows.append((int(did), text))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    return d.mapInPandas(roundtrip, "doc_id long, text string")


# ---------------------------------------------------------------------------
# XXH64 (the zstd frame-checksum hash) — pure Python, JVM-cross-validated
# ---------------------------------------------------------------------------

_XXM = (1 << 64) - 1
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XXM


def xxh64(data: bytes, seed: int = 0) -> int:
    """Pure-Python XXH64 (Cyan4973's public algorithm) — zstd's frame
    checksum, and the hash Spark's ``xxhash64`` SQL function computes
    with seed 42: the ``fn_xxhash64_pure`` key proves this
    implementation bit-identical to the JVM's across the corpus, and
    pytest pins the published reference vectors."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _XXM
        v2 = (seed + _XXP2) & _XXM
        v3 = seed & _XXM
        v4 = (seed - _XXP1) & _XXM
        vs = [v1, v2, v3, v4]
        while i + 32 <= n:
            for k in range(4):
                lane = int.from_bytes(data[i + 8 * k : i + 8 * k + 8], "little")
                v = (vs[k] + lane * _XXP2) & _XXM
                vs[k] = (_rotl64(v, 31) * _XXP1) & _XXM
            i += 32
        h = (
            _rotl64(vs[0], 1) + _rotl64(vs[1], 7)
            + _rotl64(vs[2], 12) + _rotl64(vs[3], 18)
        ) & _XXM
        for v in vs:
            v = (_rotl64((v * _XXP2) & _XXM, 31) * _XXP1) & _XXM
            h = ((h ^ v) * _XXP1 + _XXP4) & _XXM
    else:
        h = (seed + _XXP5) & _XXM
    h = (h + n) & _XXM
    while i + 8 <= n:
        lane = int.from_bytes(data[i : i + 8], "little")
        lane = (_rotl64((lane * _XXP2) & _XXM, 31) * _XXP1) & _XXM
        h = (_rotl64(h ^ lane, 27) * _XXP1 + _XXP4) & _XXM
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XXP1) & _XXM
        h = (_rotl64(h, 23) * _XXP2 + _XXP3) & _XXM
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _XXM
        h = (_rotl64(h, 11) * _XXP1) & _XXM
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _XXM
    h ^= h >> 29
    h = (h * _XXP3) & _XXM
    h ^= h >> 32
    return h


_XXHASH_ORACLE = """
SELECT doc_id, TRUE AS hashes_match FROM documents
"""


@query("fn_xxhash64_pure", _XXHASH_ORACLE, tag="functions")
def fn_xxhash64_pure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine hash agreement: the pure-Python XXH64 above versus
    Spark's JVM ``xxhash64`` (seed 42) on each document's UTF-8 bytes,
    compared IN-PLAN — two independent implementations of the same
    public algorithm must agree bit-for-bit on every row, and the
    closed-form oracle (``hashes_match`` = TRUE) turns that agreement
    into an oracle-checked hash proof. The parquet bloom-filter audit
    hashes values with the same function."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def py_xxh64(texts):
        import pandas as pd

        out = []
        for t in texts:
            v = xxh64((t if isinstance(t, str) else "").encode("utf-8"), 42)
            out.append(v - (1 << 64) if v >= (1 << 63) else v)
        return pd.Series(out)

    d = load_table(spark, sf_dir, "documents")
    jvm = F.xxhash64(F.coalesce(F.col("text"), F.lit("")).cast("binary"))
    return d.select(
        "doc_id",
        (py_xxh64(F.coalesce(F.col("text"), F.lit(""))) == jvm).alias(
            "hashes_match"
        ),
    )
