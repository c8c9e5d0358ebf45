"""Multimodal column support (SURVEY §2 / task mandate: image/audio/video
as opaque ``binary`` columns + typed metadata).

The container has no image/audio codecs, so the *decode* step is a
clearly-marked stub (raises NotImplementedError) while everything
Spark-side — schema, Arrow batch shape, partitioning, UDF signatures —
is real and tested with a deterministic fake feature extractor.

At scale: binary payloads ride in parquet as BYTE_ARRAY (or as object
-store pointers for >MB blobs); feature extraction is an Arrow-batched
``mapInPandas`` so each Python worker touches a whole column chunk at
once (no per-row pickling).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: metadata struct carried alongside every binary payload
MEDIA_META_SCHEMA = "struct<media_type:string, codec:string, n_bytes:bigint>"

FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, payload_sha256 string, head_byte int"


def decode_image(payload: bytes) -> object:
    """Real decode requires an image codec (PIL/libjpeg) — not present in
    this container.  The Spark-side plumbing is exercised through
    :func:`extract_features` instead."""
    raise NotImplementedError(
        "image decode requires an image codec library not present in this "
        "container; wire PIL/torchvision here in production"
    )


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Fixture adapter: treat each document's ``text`` as UTF-8 bytes, an
    opaque media payload with typed metadata (the schema a real
    image/audio table would carry)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("media_type"),
            F.lit("utf-8").alias("codec"),
            F.length(payload).cast("bigint").alias("n_bytes"),
        ).alias("media_meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Deterministic fake feature extraction over Arrow batches —
    byte length, content digest, first byte.  Swap the body for a real
    decoder + model without touching the Spark plan."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = pdf["payload"]
            # NULL payload → NULL features (--nulls sweep): a missing
            # blob keeps its metadata row; nullable Int64/Int32 dtypes
            # carry the None through the Arrow output path
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(
                        lambda b: len(b) if b is not None else None
                    ).astype("Int64"),
                    "payload_sha256": payloads.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                        if b is not None
                        else None
                    ),
                    "head_byte": payloads.map(
                        lambda b: None
                        if b is None
                        else (b[0] if len(b) else -1)
                    ).astype("Int32"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(compute, FEATURE_SCHEMA)


FRAME_SCHEMA = (
    "doc_id bigint, frame_index int, byte_offset bigint, frame_sha256 string"
)


def sample_frames(
    media: DataFrame, frame_bytes: int = 256, max_frames: int = 8
) -> DataFrame:
    """Frame sampling over opaque media payloads: one output row per
    sampled fixed-stride chunk (a real video decoder would seek
    keyframes; the chunking stands in for it deterministically, so the
    one-to-many Arrow plumbing — the part Spark owns — is fully real and
    oracle-checkable).  Row explosion happens inside the worker, so a
    batch of B payloads yields ≤ B·max_frames rows without a join."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out: list[tuple[int, int, int, str]] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # NULL payload → no frames (--nulls)
                    continue
                data = bytes(payload)
                n_frames = min(
                    max_frames, max(1, -(-len(data) // frame_bytes))
                )
                for i in range(n_frames):
                    off = i * frame_bytes
                    chunk = data[off : off + frame_bytes]
                    # digest the lowercase-HEX text of the byte window:
                    # a raw byte window can split a multibyte character,
                    # and the oracle's sha256 only hashes valid VARCHAR —
                    # hex text is the portable byte-faithful surface
                    out.append(
                        (doc_id, i, off,
                         hashlib.sha256(chunk.hex().encode()).hexdigest())
                    )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "frame_index", "byte_offset", "frame_sha256"],
            )

    return media.select("doc_id", "payload").mapInPandas(compute, FRAME_SCHEMA)


SEGMENT_SCHEMA = (
    "doc_id bigint, seg_index int, byte_offset bigint, "
    "seg_len int, seg_sha256 string"
)


def windowed_segments(
    media: DataFrame,
    window_bytes: int = 200,
    hop_bytes: int = 120,
    max_segments: int = 10,
) -> DataFrame:
    """OVERLAPPING windowed segmentation over opaque media payloads —
    the audio STFT-framing pattern (hop < window ⇒ consecutive segments
    share window-hop bytes), vs sample_frames' disjoint chunks.  A real
    pipeline would hand each window to a codec/feature model; the
    deterministic digest stands in so the one-to-many Arrow plumbing
    stays real and oracle-checkable.  Explosion happens in the worker:
    B payloads → ≤ B·max_segments rows, no join."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out: list[tuple[int, int, int, int, str]] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # NULL payload → no segments (--nulls)
                    continue
                data = bytes(payload)
                n_seg = min(
                    max_segments, max(1, -(-len(data) // hop_bytes))
                )
                for i in range(n_seg):
                    off = i * hop_bytes
                    chunk = data[off : off + window_bytes]
                    # hex-text digest: see sample_frames (same contract)
                    out.append(
                        (
                            doc_id,
                            i,
                            off,
                            len(chunk),
                            hashlib.sha256(chunk.hex().encode()).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "seg_index",
                    "byte_offset",
                    "seg_len",
                    "seg_sha256",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        compute, SEGMENT_SCHEMA
    )
