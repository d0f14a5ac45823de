"""Recursive document unpack — the processor's document-tree analog.

GUAC's processor recursively unpacks containers: a DSSE envelope yields its
payload, an SBOM may embed attestations, each child re-enters the
decode→guess→validate→unpack loop until leaves remain
(/root/reference/pkg/handler/processor/process/process.go:166-233,
processor.go:26-31). The Spark shape is a bounded driver loop of DataFrame
transforms: per round, decode one nesting level (a vectorized column
expression or Arrow UDF), explode the children, and re-enter; the visited
set (content-hash anti-join) is the cycle guard (parser.go:200-231).

Encoding decode (process.go:277-309: bzip2/zstd sniffing) is the
`codec` hook: base64 here (pure column expr); bz2/zstd via an Arrow UDF
with magic-byte sniffing (decode_encoded), matching the reference's
DecodeBzip2/DecodeZstd pair.
"""

from __future__ import annotations

import bz2
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# nested payload grammar: '[[doc:<base64>]]' embeds a child document
CHILD_RE = r"\[\[doc:([A-Za-z0-9+/=]+)\]\]"

_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
_BZ2_MAGIC = b"BZh"


def _zstd_frame_content_size(buf: bytes) -> int | None:
    """Frame_Content_Size from a zstd frame header (RFC 8878 §3.1.1);
    None when the producer omitted it (streaming-written frames)."""
    if buf[:4] != _ZSTD_MAGIC:
        raise ValueError("not a zstd frame")
    fhd = buf[4]
    fcs_flag = fhd >> 6
    single_segment = (fhd >> 5) & 1
    did_size = (0, 1, 2, 4)[fhd & 3]
    pos = 5 + (0 if single_segment else 1) + did_size
    if fcs_flag == 0:
        return buf[pos] if single_segment else None
    if fcs_flag == 1:
        return int.from_bytes(buf[pos:pos + 2], "little") + 256
    if fcs_flag == 2:
        return int.from_bytes(buf[pos:pos + 4], "little")
    return int.from_bytes(buf[pos:pos + 8], "little")


def _zstd_decompress(buf: bytes) -> bytes:
    """zstd frame decode. Prefers the zstandard lib when installed; this
    container lacks it, so the shipped path decodes via pyarrow's zstd
    codec using the frame-header content size (present in any frame from
    a one-shot compressor). Unknown-size streaming frames need the lib —
    raise a clear error rather than guess."""
    try:
        import zstandard  # type: ignore

        return zstandard.ZstdDecompressor().decompress(buf)
    except ImportError:
        pass
    import pyarrow as pa

    size = _zstd_frame_content_size(buf)
    if size is None:
        raise NotImplementedError(
            "zstd frame without content size needs the zstandard lib"
        )
    return pa.decompress(buf, decompressed_size=size, codec="zstd",
                         asbytes=True)


def _sniff_decode(buf: bytes) -> bytes:
    """Magic-byte encoding sniff + decode — the DecodeDocument analog
    (process.go:277-309: bzip2 and zstd). Unknown magic passes through
    opaque, like the reference's default branch."""
    if buf[:3] == _BZ2_MAGIC:
        return bz2.decompress(buf)
    if buf[:4] == _ZSTD_MAGIC:
        return _zstd_decompress(buf)
    return buf


def _decode_map(df: DataFrame, col: str, out: str, fn) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out] = [
                fn(b).decode("utf-8") if b is not None else None
                for b in pdf[col]
            ]
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out} string"
    return df.mapInPandas(gen, schema)


def decode_encoded(df: DataFrame, col: str, out: str) -> DataFrame:
    """Sniff-and-decode per blob: bzip2 / zstd / passthrough."""
    return _decode_map(df, col, out, _sniff_decode)


def unpack_documents(docs: DataFrame, max_depth: int = 8) -> DataFrame:
    """Flatten a corpus of nesting documents into all reachable leaves.

    Input: (doc_id string, text string). Output adds `depth` and
    `root_id`; every embedded '[[doc:<b64>]]' child becomes its own row
    (decoded), recursively, with content-hash dedup as the visited set.
    Raises if max_depth rounds don't reach a fixpoint (cycle guard).
    """
    spark = docs.sparkSession
    current = docs.select(
        F.col("doc_id").alias("root_id"),
        F.col("text"),
        F.lit(0).alias("depth"),
    )
    seen = current.select(
        "root_id", F.sha2("text", 256).alias("h")
    ).localCheckpoint(eager=True)
    out = current.localCheckpoint(eager=True)
    for depth in range(1, max_depth + 1):
        children = (
            current.select(
                "root_id",
                F.explode(
                    F.regexp_extract_all("text", F.lit(CHILD_RE), F.lit(1))
                ).alias("b64"),
            )
            .withColumn("text", F.unbase64("b64").cast("string"))
            .drop("b64")
            .withColumn("depth", F.lit(depth))
        )
        fresh = (
            children.withColumn("h", F.sha2("text", 256))
            .dropDuplicates(["root_id", "h"])  # same child twice in a round
            .join(F.broadcast(seen), on=["root_id", "h"], how="left_anti")
            .localCheckpoint(eager=True)
        )
        if fresh.limit(1).count() == 0:
            return out
        seen = seen.unionByName(fresh.select("root_id", "h")).localCheckpoint(
            eager=True
        )
        current = fresh.select("root_id", "text", "depth")
        out = out.unionByName(current).localCheckpoint(eager=True)
    raise RuntimeError(
        f"unpack did not reach a fixpoint within {max_depth} levels"
    )
