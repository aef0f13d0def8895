"""Multimodal column plumbing (north-star extension).

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct riding alongside. The Spark-side machinery — schema, partitioning,
Arrow batch shape through mapInPandas — is real and tested; the actual
codec step is a clearly-marked deterministic fake (no image/audio libraries
in this container), so swapping in PIL/librosa later changes one function
body, not the pipeline.

Scale posture: binary payloads dominate row size, so feature extraction uses
``mapInPandas`` (streaming Arrow batches, no full-partition materialization)
and metadata-only queries must never touch the payload column (column
pruning does this for free if the payload is its own column — asserted in
tests via the scan's ReadSchema).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

#: Typed metadata carried next to every binary payload.
MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),      # png|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_entropy", T.DoubleType()),
        T.StructField("head_hex", T.StringType()),
    ]
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Build a binary-payload table from the documents table: payload =
    utf-8 bytes of the text (a deterministic stand-in for image bytes),
    metadata typed per MEDIA_META. This is the ingestion-shape fixture the
    rest of the multimodal pipeline runs on.
    """
    return df.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("fake").alias("format"),
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("media_meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Codec-free feature extraction over binary payloads via mapInPandas.

    Deterministic byte-level features (size, entropy, header hex) — the
    Arrow-batched plumbing is exactly what a real decode/resize/frame-sample
    UDF uses; only the per-row body differs.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in it:
            out = {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["payload"].map(len).astype("int64"),
            }
            ent = []
            heads = []
            for payload in pdf["payload"]:
                b = bytes(payload)
                heads.append(b[:8].hex())
                if not b:
                    ent.append(0.0)
                    continue
                counts: dict[int, int] = {}
                for byte in b:
                    counts[byte] = counts.get(byte, 0) + 1
                n = len(b)
                ent.append(
                    round(-sum((c / n) * math.log2(c / n) for c in counts.values()), 6)
                )
            out["byte_entropy"] = ent
            out["head_hex"] = heads
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(batches, FEATURE_SCHEMA)


CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("chunk_len", T.IntegerType()),
        T.StructField("chunk", T.BinaryType()),
    ]
)


def sample_chunks(media: DataFrame, chunk_bytes: int = 256) -> DataFrame:
    """Fixed-size payload chunking via mapInPandas — the frame-sampling /
    tiling plumbing for video/audio payloads (a real decoder replaces the
    byte-slicing body; the Arrow batch shape, row multiplication, and
    schema are exactly what it would use). Streams batches: a huge payload
    column never materializes per-partition.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, lens, chunks = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for i in range(0, len(b), chunk_bytes):
                    piece = b[i : i + chunk_bytes]
                    ids.append(doc_id)
                    idxs.append(i // chunk_bytes)
                    lens.append(len(piece))
                    chunks.append(piece)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "chunk_idx": pd.Series(idxs, dtype="int32"),
                    "chunk_len": pd.Series(lens, dtype="int32"),
                    "chunk": pd.Series(chunks, dtype="object"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(batches, CHUNK_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_len", T.IntegerType()),
        T.StructField("frame_hash", T.StringType()),
    ]
)


def sample_frames(
    media: DataFrame, frame_bytes: int = 256, every: int = 4
) -> DataFrame:
    """Frame sampling over binary payloads via mapInPandas: treat the
    payload as fixed-size frames (a real video UDF decodes and samples
    keyframes; the container has no codecs, so the frame grid is the
    deterministic stand-in) and keep every ``every``-th frame with its
    digest. The Arrow batch shape, schema, and partitioning are exactly
    what the codec-backed version uses — swap the per-row body, keep the
    plan."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, lens, hashes = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for i in range(0, (len(b) + frame_bytes - 1) // frame_bytes):
                    if i % every:
                        continue
                    frame = b[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(doc_id)
                    idxs.append(i)
                    lens.append(len(frame))
                    hashes.append(hashlib.md5(frame).hexdigest()[:16])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                    "frame_hash": pd.Series(hashes, dtype="object"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(batches, FRAME_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("orig_bytes", T.IntegerType()),
        T.StructField("resized_bytes", T.IntegerType()),
        T.StructField("resized_hash", T.StringType()),
    ]
)


def resize_payloads(media: DataFrame, stride: int = 8) -> DataFrame:
    """Resize/downsample over binary payloads via mapInPandas: keep every
    ``stride``-th byte (a real image UDF decodes and bilinear-resizes to a
    fixed raster; byte-stride decimation is the codec-free stand-in with
    the same contract — output size ~ input/stride, content a deterministic
    function of the payload). Emits sizes plus the digest of the reduced
    payload so correctness pins bytes, not just lengths."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, orig, rs, hs = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                small = b[::stride]
                ids.append(doc_id)
                orig.append(len(b))
                rs.append(len(small))
                hs.append(hashlib.md5(small).hexdigest()[:16])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "orig_bytes": pd.Series(orig, dtype="int32"),
                    "resized_bytes": pd.Series(rs, dtype="int32"),
                    "resized_hash": pd.Series(hs, dtype="object"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(batches, RESIZE_SCHEMA)
