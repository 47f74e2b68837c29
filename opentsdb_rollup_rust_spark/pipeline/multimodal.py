"""Multimodal column plumbing: opaque ``binary`` payloads with typed
metadata, and Arrow-batched feature extraction via ``mapInPandas``.

The decode libraries (PIL / ffmpeg / torchaudio) are not in this
container, so the *decode* step is stubbed behind a clearly-marked
``NotImplementedError`` with a deterministic fake used by tests — but
the Spark-side plumbing is real: binary Arrow transfer, explicit
schemas, partition-preserving mapInPandas, batch-shaped pandas code.

Scale notes: payload bytes dominate row width, so the extractor runs
immediately after the scan (before any shuffle) and projects payloads
away; downstream stages carry only the small feature columns. Batch
size is bounded by the session's Arrow byte cap (session.ENGINE_CONF,
32 MB), so a batch of multi-MB payloads holds only a few rows.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id bigint, modality string, payload binary, "
    "media_width int, media_height int, media_frames int"
)

FEATURE_SCHEMA = (
    "doc_id bigint, modality string, n_bytes bigint, checksum bigint, "
    "n_frames bigint"
)


def attach_media_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Demo/media-shaped table from documents: payload = UTF-8 bytes of
    the text (an opaque blob as far as the engine is concerned), plus
    deterministic fake metadata. In production this is the output of a
    binary-file datasource (spark.read.format('binaryFile') or
    Iceberg blobs)."""
    return docs.select(
        F.col("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("modality"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        (F.pmod(F.col("doc_id") * 37, F.lit(512)) + 64).cast("int").alias("media_width"),
        (F.pmod(F.col("doc_id") * 53, F.lit(512)) + 64).cast("int").alias("media_height"),
        (F.pmod(F.col("doc_id") * 11, F.lit(240)) + 1).cast("int").alias("media_frames"),
    )


def decode_payload(payload: bytes, modality: str):
    """The real decode step — requires PIL/ffmpeg/torchaudio, absent in
    this container by design. Deploy-time implementations plug in via
    ``extract_features(decoder=...)``."""
    raise NotImplementedError(
        f"decode_payload({modality}): media codecs are not available in "
        "this environment; pass a decoder to extract_features()"
    )


def pil_image_decoder(payload: bytes, modality: str) -> dict:
    """REAL image decode for deployments that ship PIL (this sandbox
    does not — the gated test skips here and runs wherever media libs
    exist, the Iceberg/TWS env-gating pattern). Drop-in for
    ``extract_features(decoder=pil_image_decoder)``: emits the same
    FEATURE_SCHEMA fields as _fake_decoder, with checksum = sum of the
    decoded GRAYSCALE PIXELS — a real pixel-level feature, so the test
    validates actual decoding, not just byte plumbing. Fails loudly
    (ImportError / NotImplementedError) instead of silently falling
    back."""
    from io import BytesIO

    from PIL import Image  # deploy-time dependency; absent -> loud

    if modality != "image":
        raise NotImplementedError(
            f"pil_image_decoder handles modality='image', got {modality!r}"
        )
    with Image.open(BytesIO(payload)) as im:
        px = list(im.convert("L").getdata())
        n_frames = getattr(im, "n_frames", 1)
    return {
        "n_bytes": len(payload),
        "checksum": sum(px) % 2_147_483_647,
        "n_frames": n_frames,
    }


def _fake_decoder(payload: bytes, modality: str) -> dict:
    """Deterministic stand-in for decode: byte stats + frame-sampling
    arithmetic. Used by tests and the demo query. The checksum sums
    Unicode CODEPOINTS of the UTF-8-decoded payload (the demo payload
    is encoded text), matching the DuckDB oracle's per-character
    ascii() sum for any input — a raw byte sum would silently diverge
    on the first multi-byte character."""
    # surrogateescape keeps the decoder total on arbitrary binary
    # payloads (invalid bytes map deterministically to U+DC80+byte);
    # for valid UTF-8 text it is the plain codepoint sum the oracle
    # computes with ascii()
    return {
        "n_bytes": len(payload),
        "checksum": sum(map(ord, payload.decode("utf-8", "surrogateescape")))
        % 2_147_483_647,
        "n_frames": len(payload) // 1024 + 1,
    }


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, str], dict] | None = None,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas (not a scalar UDF) so one Python invocation handles a
    whole Arrow batch and the payload column never round-trips back to
    the JVM — only the narrow feature columns do. The session's Arrow
    byte cap bounds the payload bytes of each batch.
    """
    dec = decoder or _fake_decoder

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [dec(p, m) for p, m in zip(pdf["payload"], pdf["modality"])]
            out = pd.DataFrame(feats)
            out.insert(0, "modality", pdf["modality"].values)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out[["doc_id", "modality", "n_bytes", "checksum", "n_frames"]]

    return media.select("doc_id", "modality", "payload").mapInPandas(
        run, FEATURE_SCHEMA
    )


def resize_stub(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: the transform keeps the payload column binary
    and rewrites metadata; actual pixel work is decode-dependent and
    therefore stubbed (see decode_payload)."""
    return media.withColumn("media_width", F.lit(width).cast("int")).withColumn(
        "media_height", F.lit(height).cast("int")
    )


def frame_sample_plan(media: DataFrame, stride: int = 10) -> DataFrame:
    """Frame-sampling plan: one row per sampled frame index — pure
    metadata expansion (sequence + explode), bounded by media_frames;
    the per-frame decode hangs off the stubbed decoder at deploy time."""
    return media.select(
        "doc_id",
        "modality",
        F.explode(
            F.sequence(F.lit(0), F.col("media_frames") - 1, F.lit(stride))
        ).alias("frame_idx"),
    )
