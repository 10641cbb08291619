"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a typed
metadata struct; decode / feature-extract run as Arrow-batched
``mapInPandas`` operators so only the Python stage touches bytes and the
rest of the plan stays columnar. The decode libraries (PIL/ffmpeg/…) are
not in this container, so the real decoders are gated stubs; the Spark-side
plumbing — schema, batch iteration, partition-preserving shape — is real
and tested with a deterministic fake decoder.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id long, media_type string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int>"
)


def attach_fake_media(documents: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic binary payload column from text (md5 →
    bytes) with typed metadata — stand-in for a real image/audio column so
    the downstream plumbing is exercised end to end."""
    digest = F.md5(F.col(text_col))
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.lit("image/fake").alias("media_type"),
        F.to_binary(digest, F.lit("hex")).alias("payload"),
        F.struct(
            (F.length(F.col(text_col)) % 64 + 1).cast("int").alias("width"),
            (F.length(F.col(text_col)) % 48 + 1).cast("int").alias("height"),
            F.lit(1).alias("n_frames"),
        ).alias("meta"),
    )


N_FAKE_FRAMES = 8
FRAME_BYTES = 16  # one md5 digest per fake frame


def attach_fake_video(documents: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic multi-frame "video" payload: frame *i* is
    the md5 digest of ``text || str(i)`` (16 bytes), concatenated into one
    binary column with ``meta.n_frames`` set — stand-in for a real video
    column so frame-level operators are exercised end to end."""
    frames = [
        F.to_binary(F.md5(F.concat(F.col(text_col), F.lit(str(i)))), F.lit("hex"))
        for i in range(N_FAKE_FRAMES)
    ]
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.lit("video/fake").alias("media_type"),
        F.concat(*frames).alias("payload"),
        F.struct(
            (F.length(F.col(text_col)) % 64 + 1).cast("int").alias("width"),
            (F.length(F.col(text_col)) % 48 + 1).cast("int").alias("height"),
            F.lit(N_FAKE_FRAMES).alias("n_frames"),
        ).alias("meta"),
    )


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Arrow-batched resize to ``width``×``height``.

    A real decoder+resampler (PIL / ffmpeg) drops into the same
    ``mapInPandas`` body; the container lacks those libs, so the shipped
    path is a deterministic fake — the payload is strided/tiled to exactly
    ``width*height`` bytes and the metadata struct is rewritten — which
    keeps the batch shape, output schema, and partitioning behavior real.
    """
    target = width * height

    def do(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            out = [
                np.resize(np.frombuffer(p, dtype=np.uint8), target).tobytes()
                for p in pdf["payload"]
            ]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "payload": out,
                "meta": [
                    {"width": width, "height": height,
                     "n_frames": m["n_frames"]}
                    for m in pdf["meta"]
                ],
            })

    return media.mapInPandas(do, schema=MEDIA_SCHEMA)


def sample_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Explode each video payload into one row per sampled frame
    (``frame_idx % every_k == 0``), UDTF-style via ``mapInPandas``.

    The payload is split into ``meta.n_frames`` equal chunks; a real frame
    extractor (ffmpeg keyframe seek) replaces the chunking only — the
    fan-out shape (rows multiply, columns stay scalar/binary) is what a
    100 TB frame-sampling stage looks like, and it never shuffles: the
    explode happens inside the scan's partitions.
    """

    def do(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids, idxs, payloads = [], [], []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"],
                                             pdf["meta"]):
                n = int(meta["n_frames"]) or 1
                size = len(payload) // n
                for i in range(0, n, every_k):
                    ids.append(doc_id)
                    idxs.append(i)
                    payloads.append(bytes(payload[i * size:(i + 1) * size]))
            yield pd.DataFrame({
                "doc_id": ids, "frame_idx": idxs, "frame_payload": payloads,
            })

    return media.mapInPandas(
        do, schema="doc_id long, frame_idx int, frame_payload binary")


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Fake-decoder path: features are deterministic byte statistics, so the
    operator is fully testable without media libraries. A real decoder
    drops into the same ``mapInPandas`` body (batch shape unchanged).
    """

    def features(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            mean_b, max_b, n_bytes = [], [], []
            for payload in pdf["payload"]:
                arr = np.frombuffer(payload, dtype=np.uint8)
                mean_b.append(round(float(arr.mean()), 4) if arr.size else 0.0)
                max_b.append(int(arr.max()) if arr.size else 0)
                n_bytes.append(int(arr.size))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": pdf["meta"].apply(lambda m: m["width"]),
                "height": pdf["meta"].apply(lambda m: m["height"]),
                "n_bytes": n_bytes,
                "mean_byte": mean_b,
                "max_byte": max_b,
            })

    return media.mapInPandas(
        features,
        schema="doc_id long, width int, height int, n_bytes long, "
               "mean_byte double, max_byte int",
    )
