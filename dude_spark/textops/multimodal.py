"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``
kernels.

The runtime image has no codec libraries (PIL/ffmpeg/librosa), so the decode
step is STUBBED behind a deterministic fake (or ``NotImplementedError`` in
strict mode) — but the Spark-side plumbing is real and tested: schema,
batch iteration, partition sizing, and the UDF signatures are exactly what a
production decode/resize/frame-sample stage uses.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..session import worker_setup

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

STRICT_DECODE = False  # True → NotImplementedError instead of the fake codec


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from documents: payload =
    UTF-8 text bytes (stands in for encoded media), metadata from doc_id."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        ((F.col("doc_id") % 640) + 16).cast("int").alias("width"),
        ((F.col("doc_id") % 480) + 16).cast("int").alias("height"),
        ((F.col("doc_id") % 9000) + 1000).cast("int").alias("duration_ms"),
    )


def _fake_decode(payload: bytes) -> bytes:
    """Deterministic stand-in for a codec: md5-keyed byte stream.

    Replace with PIL/av decode in production; signature (bytes → bytes)
    and batch shape stay identical.
    """
    if STRICT_DECODE:
        raise NotImplementedError("codec libraries not present in this image")
    return hashlib.md5(payload or b"").digest()


def decode_features(media: DataFrame, feat_dim: int = 4) -> DataFrame:
    """Decode + feature-extract stage: payload → fixed-size scalar features.

    mapInPandas; one Arrow batch per call. Production swap: the body of
    ``_fake_decode`` + the feature math; everything else is the real 100 TB
    pipeline shape (binary in, compact struct out, payload column dropped
    immediately after decode so shuffles stay narrow).

    Features are emitted as scalar int32 columns ``f0..f{d-1}`` (little-
    endian words of the fake-decoded byte stream): scalar columns keep the
    output sortable/hashable by any downstream canonicalizer (pandas
    ``sort_values`` chokes on array cells) and make the stage verifiable
    bit-exactly by a DuckDB oracle over the md5 hex.
    """

    def it(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_setup()
        for pdf in batches:
            feats: list[list[int]] = [[] for _ in range(feat_dim)]
            for payload in pdf["payload"]:
                raw = _fake_decode(bytes(payload) if payload is not None else b"")
                vals = struct.unpack(f"<{feat_dim}i", raw[: 4 * feat_dim])
                for d in range(feat_dim):
                    feats[d].append(vals[d])
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [
                    len(bytes(p)) if p is not None else 0 for p in pdf["payload"]
                ],
            }
            for d in range(feat_dim):
                out[f"f{d}"] = feats[d]
            yield pd.DataFrame(out)

    schema = "media_id long, kind string, n_bytes long, " + ", ".join(
        f"f{d} long" for d in range(feat_dim)
    )
    return media.select("media_id", "kind", "payload").mapInPandas(it, schema)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling *plan* for video rows: one row per (media_id, frame_ts).

    The explode happens JVM-side from duration metadata — the decoder UDF
    then only touches the frames it must (column-pruned payload join)."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )
