"""Multimodal column plumbing (EXT): image/audio/video as opaque
``binary`` payloads + typed metadata, processed via Arrow-batched
``mapInPandas``.

The decode libraries (PIL/torchaudio/decord) are NOT in this
container, so the decode kernel is stubbed: ``decode_features``
produces deterministic payload-derived pseudo-features, and
``decode_image`` raises NotImplementedError unless PIL is importable.
Everything Spark-side is real and tested — schema contract, Arrow
batch iteration, partition-preserving execution — so swapping the
kernel body for a real decoder is a one-function change.

Scale notes: binary payloads ride in parquet with
``spark.sql.files.maxPartitionBytes`` bounding task input; feature
extraction is embarrassingly parallel (mapInPandas, no shuffle);
metadata-only predicates (kind, n_bytes) push down before any decode.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.parquet import spread

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_sha", StringType()),
        StructField("feat_0", LongType()),
        StructField("feat_1", LongType()),
    ]
)


def decode_image(payload: bytes):  # pragma: no cover - container lacks PIL
    """Real decode path — requires PIL (absent here by design)."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires PIL; this container ships without it — "
            "swap decode_features' kernel when the decoder is available"
        ) from e
    import io

    from PIL import Image

    return Image.open(io.BytesIO(payload))


def _fake_features(payload: bytes) -> tuple[str, int, int]:
    """Deterministic payload-derived stand-in for decoded features."""
    h = hashlib.sha256(payload).digest()
    return h.hex(), int.from_bytes(h[:4], "big"), int.from_bytes(h[4:8], "big")


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas: each executor receives pandas batches, runs the
    (stub) decode kernel, yields feature frames — zero driver
    involvement, no shuffle."""

    media = spread(media)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(_fake_features)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "payload_sha": feats.map(lambda t: t[0]),
                    "feat_0": feats.map(lambda t: t[1]).astype("int64"),
                    "feat_1": feats.map(lambda t: t[2]).astype("int64"),
                }
            )

    return media.mapInPandas(kernel, FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(media: DataFrame, max_side: int = 224) -> DataFrame:
    """Resize every image payload so its longer side == ``max_side``
    (aspect preserved). Arrow-batched mapInPandas, no shuffle; the
    ``kind == 'image'`` filter sits UNDER the Python stage so audio/
    video rows never cross the Arrow boundary.

    STUB kernel (container has no PIL): output dims are computed from
    the metadata (or a deterministic payload-derived stand-in when
    width/height are null), and the "resized" payload is the
    sha256-tagged original — swap ``_resize_one`` for a real
    ``PIL.Image.resize`` and the schema/batching/filter plumbing all
    stands."""
    imgs = spread(media.filter(F.col("kind") == "image"))

    def _dims(payload: bytes, w, h) -> tuple[int, int]:
        # nulls arrive as NaN through Arrow — treat any missing or
        # non-positive metadata as "unknown dims"
        if pd.isna(w) or pd.isna(h) or w <= 0 or h <= 0:
            d = hashlib.sha256(payload).digest()
            w, h = 64 + d[0] % 192, 64 + d[1] % 192  # fake source dims
        scale = max_side / max(w, h)
        # half-up, not int() truncation (w*scale floats down to
        # 223.999...) and not round() (banker's rounding differs from
        # SQL ROUND at exact .5 — the dims are oracle-checked)
        return max(int(w * scale + 0.5), 1), max(int(h * scale + 0.5), 1)

    def _resize_one(payload: bytes, w: int, h: int) -> bytes:
        return hashlib.sha256(payload).digest() + payload[:64]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [
                _dims(p, w, h)
                for p, w, h in zip(pdf["payload"], pdf["width"], pdf["height"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [
                        _resize_one(p, w, h)
                        for p, (w, h) in zip(pdf["payload"], dims)
                    ],
                    "width": pd.Series([d[0] for d in dims], dtype="int32"),
                    "height": pd.Series([d[1] for d in dims], dtype="int32"),
                }
            )

    return imgs.mapInPandas(kernel, RESIZED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", IntegerType()),
        StructField("frame_sha", StringType()),
    ]
)


def stub_frame_count(n_bytes: int, max_frames: int = 8) -> int:
    """Deterministic stand-in for the decoded frame count: one frame
    per 256 payload bytes, clamped to [1, max_frames]. Mirrors the
    DuckDB oracle expression exactly."""
    return max(min(n_bytes // 256, max_frames), 1)


def sample_frames(
    media: DataFrame, every_n: int = 2, fps: int = 25, max_frames: int = 8
) -> DataFrame:
    """Frame sampling for video payloads: each video row fans out into
    one row per sampled frame (indices 0, every_n, 2·every_n, …) —
    the 1→k batch-shape change real decoders (decord/ffmpeg) need.
    mapInPandas, no shuffle; ``kind == 'video'`` filtered below the
    Python stage.

    STUB kernel: frame count = :func:`stub_frame_count` of the payload
    length; each "frame" is the sha256 of payload‖frame_idx (hex) —
    deterministic, cross-engine reproducible, and exactly the shape a
    real extractor yields (media_id, frame_idx, ts_ms, frame bytes)."""
    vids = spread(media.filter(F.col("kind") == "video"))
    ms_per_frame = 1000 // fps

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "frame_idx": [],
                "ts_ms": [],
                "frame_sha": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for idx in range(0, stub_frame_count(len(payload), max_frames), every_n):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["ts_ms"].append(idx * ms_per_frame)
                    out["frame_sha"].append(
                        hashlib.sha256(payload + str(idx).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "ts_ms": pd.Series(out["ts_ms"], dtype="int32"),
                    "frame_sha": pd.Series(out["frame_sha"], dtype="object"),
                }
            )

    return vids.mapInPandas(kernel, FRAME_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Fixture adapter: documents.text → opaque binary payloads with
    cycling media kinds (the container has no real media fixtures)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
    )


AUDIO_WINDOW_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("window_idx", IntegerType()),
        StructField("start_ms", IntegerType()),
        StructField("end_ms", IntegerType()),
        StructField("window_sha", StringType()),
    ]
)


def segment_audio(
    media: DataFrame,
    window_ms: int = 250,
    hop_ms: int = 125,
    max_windows: int = 8,
) -> DataFrame:
    """Overlapping-window segmentation for audio payloads (the audio
    twin of :func:`sample_frames`): each audio row fans out into one
    row per analysis window (start every ``hop_ms``, span
    ``window_ms`` — the 50%-overlap framing a real feature extractor
    (fbank/wav2vec) consumes). mapInPandas, no shuffle;
    ``kind == 'audio'`` filtered below the Python stage so image/video
    payload bytes never cross the Arrow boundary.

    STUB kernel (no torchaudio in this container): window count =
    :func:`stub_frame_count` of the payload length; each "window" is
    the sha256 of payload‖'w'‖idx — deterministic and replicated by
    the DuckDB oracle, with the real decoder seam being the body of
    ``kernel`` only."""
    auds = spread(media.filter(F.col("kind") == "audio"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "window_idx": [],
                "start_ms": [],
                "end_ms": [],
                "window_sha": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for idx in range(stub_frame_count(len(payload), max_windows)):
                    out["media_id"].append(mid)
                    out["window_idx"].append(idx)
                    out["start_ms"].append(idx * hop_ms)
                    out["end_ms"].append(idx * hop_ms + window_ms)
                    out["window_sha"].append(
                        hashlib.sha256(
                            payload + b"w" + str(idx).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "window_idx": pd.Series(out["window_idx"], dtype="int32"),
                    "start_ms": pd.Series(out["start_ms"], dtype="int32"),
                    "end_ms": pd.Series(out["end_ms"], dtype="int32"),
                    "window_sha": pd.Series(out["window_sha"], dtype="object"),
                }
            )

    return auds.mapInPandas(kernel, AUDIO_WINDOW_SCHEMA)
