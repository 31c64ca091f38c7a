"""Multimodal column plumbing: images/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The decode step itself needs codec libraries that are not in this
container, so it is STUBBED behind ``decode_available()`` — everything
Spark-side (schema, partitioning, UDF signature, batch shape) is real
and tested. A deployment swaps ``_decode_image_real`` for a PIL/ffmpeg
call without touching the plumbing.

Design for 100 TB of media:
- binary payloads stay in their own column so Parquet column pruning
  skips them unless the query touches pixels;
- feature extraction runs in ``mapInPandas`` over Arrow batches — one
  Python crossing per batch, not per row;
- derived features land in narrow typed columns so downstream
  analytics never reshuffle the blobs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def decode_available() -> bool:
    """True when a real image codec is importable."""
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def _decode_image_real(payload: bytes) -> dict:
    """Real decode: PNG through the hermetic stdlib codec
    (``pngcodec.py`` — round-5), baseline JPEG through the hermetic
    T.81 codec (``jpegcodec.py`` — round-9) — both with a TRUE mean
    pixel and a real pixel-derived 64-bit average-hash. PIL, when
    importable (the ``[multimodal]`` extra), takes the non-PNG formats
    first (it also covers progressive JPEG and WEBP). Only formats no
    hermetic or installed codec can read stay behind the narrow
    NotImplementedError seam."""
    from leader_graph_spark.operators import jpegcodec, pngcodec

    if payload[:8] == pngcodec.PNG_MAGIC:
        w, h, ch, px = pngcodec.decode_png(payload)
        return {
            "mean_pixel": sum(px) / len(px) / 255.0,
            "phash": pngcodec.average_hash(px, w, h, ch),
            "n_bytes": len(payload),
        }
    try:
        import io

        from PIL import Image  # noqa: F401

        img = Image.open(io.BytesIO(payload)).convert("RGB")
        px = img.tobytes()
        return {
            "mean_pixel": sum(px) / len(px) / 255.0,
            "phash": hashlib.md5(px).hexdigest()[:16],
            "n_bytes": len(payload),
        }
    except ImportError:
        pass
    if payload[:2] == jpegcodec.JPEG_MAGIC:
        w, h, ch, px = jpegcodec.decode_jpeg(payload)
        return {
            "mean_pixel": sum(px) / len(px) / 255.0,
            "phash": pngcodec.average_hash(px, w, h, ch),
            "n_bytes": len(payload),
        }
    raise NotImplementedError(
        "image format without a hermetic codec requires PIL/opencv "
        "(pip install leader-graph-spark[multimodal])"
    )


def _decode_image_fake(payload: bytes) -> dict:
    """Deterministic fake decode: derives stable pseudo-features from
    the payload bytes so tests exercise the full plumbing."""
    digest = hashlib.md5(payload).digest()
    return {
        "mean_pixel": digest[0] / 255.0,
        "phash": digest.hex()[:16],
        "n_bytes": len(payload),
    }


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("mean_pixel", T.DoubleType()),
        T.StructField("phash", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def attach_fake_payloads(df: DataFrame, *, text_col: str, id_col: str) -> DataFrame:
    """Build a multimodal table from a text table: payload = utf-8 bytes
    (opaque binary stand-in), typed metadata derived deterministically."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.element_at(F.array(F.lit("png"), F.lit("jpeg"), F.lit("webp")), (F.col(id_col) % 3 + 1).cast("int")).alias("format"),
            ((F.col(id_col) % 8 + 1) * 64).cast("int").alias("width"),
            ((F.col(id_col) % 5 + 1) * 64).cast("int").alias("height"),
        ).alias("meta"),
    )


def extract_image_features(
    df: DataFrame, *, id_col: str, payload_col: str = "payload"
) -> DataFrame:
    """Decode/feature-extract over mapInPandas. Uses the real decoder
    when available, else the deterministic fake (clearly marked)."""
    def decode(payload: bytes) -> dict:
        # per-PAYLOAD routing: PNG (round-5) and baseline JPEG
        # (round-9) decode for real through the hermetic codecs
        # regardless of PIL; remaining formats decode for real only
        # under PIL, else the clearly-marked deterministic fake keeps
        # the plumbing testable.
        from leader_graph_spark.operators.jpegcodec import JPEG_MAGIC
        from leader_graph_spark.operators.pngcodec import PNG_MAGIC

        if (
            payload[:8] == PNG_MAGIC
            or payload[:2] == JPEG_MAGIC
            or decode_available()
        ):
            try:
                return _decode_image_real(payload)
            except ValueError:
                # corrupt/truncated/progressive payload the hermetic
                # codec rejects (e.g. a JPEG-magic blob with no SOS):
                # fall back to the clearly-marked deterministic fake
                # instead of failing the Spark task — the pre-round-9
                # routing contract for undecodable external data
                return _decode_image_fake(payload)
        return _decode_image_fake(payload)

    out_schema = T.StructType([df.schema[id_col]] + list(FEATURE_SCHEMA.fields))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf[payload_col].map(lambda b: decode(bytes(b)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "mean_pixel": feats.map(lambda d: d["mean_pixel"]),
                    "phash": feats.map(lambda d: d["phash"]),
                    "n_bytes": feats.map(lambda d: d["n_bytes"]),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


FRAME_SCHEMA_FIELDS = [
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("frame_phash", T.StringType()),
]


def sample_video_frames(
    df: DataFrame,
    *,
    id_col: str,
    payload_col: str = "payload",
    n_frames: int = 4,
    fps: int = 25,
    frame_bytes: int = 32,
) -> DataFrame:
    """Frame sampling for video blobs: one input row fans out to
    ``n_frames`` rows at UNIFORM stride over the clip (the standard
    training-data sampling policy), each with its frame index, its
    timestamp from the frame rate, and a per-frame fingerprint. The
    blob is modeled as a sequence of fixed-size frames (real codecs
    replace the slicing, not the shape); short clips yield every frame
    they have. flatMap-shaped ``mapInPandas`` — map-side, one Python
    crossing per Arrow batch, and only the NARROW frame rows continue
    downstream (the blob is dropped right here, which is the point:
    per-frame analytics never reshuffle video bytes).
    """
    out_schema = T.StructType([df.schema[id_col]] + FRAME_SCHEMA_FIELDS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                total = max(len(raw) // frame_bytes, 1)
                k = min(n_frames, total)
                # uniform stride, first frame always included
                idxs = sorted({(i * total) // k for i in range(k)})
                for fi in idxs:
                    frame = raw[fi * frame_bytes : (fi + 1) * frame_bytes]
                    rows.append(
                        (
                            rid,
                            fi,
                            fi * 1000 // fps,
                            hashlib.md5(frame).hexdigest()[:16],
                        )
                    )
            yield pd.DataFrame(rows, columns=[id_col, "frame_idx", "ts_ms", "frame_phash"])

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


AUDIO_WINDOW_FIELDS = [
    T.StructField("window_idx", T.IntegerType()),
    T.StructField("sum_sq", T.LongType()),
    T.StructField("peak", T.IntegerType()),
    T.StructField("zero_crossings", T.IntegerType()),
]


def audio_window_stats(
    df: DataFrame,
    *,
    id_col: str,
    payload_col: str = "payload",
    window_samples: int = 64,
) -> DataFrame:
    """Windowed PCM statistics for audio blobs — the energy/activity
    features a training pipeline gates speech data on (silence
    trimming, clipping detection, voice-activity heuristics). The blob
    is modeled as offset-binary 16-bit big-endian PCM; real audio
    codecs (wav/mp3 via soundfile/ffmpeg) slot in at the same decode
    seam as the image path. Per non-overlapping window of
    ``window_samples`` samples: sum of squares (energy, exact int64),
    absolute peak, and the zero-crossing count (adjacent-sample sign
    products < 0, within the window only). All-integer outputs so the
    SQL oracle can reproduce them byte-exactly — no float tolerance.

    flatMap-shaped ``mapInPandas``: map-side, one numpy pass per clip,
    and only the narrow window rows continue downstream — audio bytes
    never reshuffle (the same 100 TB rule as image/video)."""
    import numpy as np

    out_schema = T.StructType([df.schema[id_col]] + AUDIO_WINDOW_FIELDS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                usable = len(raw) // 2 * 2
                s = np.frombuffer(raw[:usable], dtype=">u2").astype(np.int64) - 32768
                for w0 in range(0, len(s), window_samples):
                    win = s[w0 : w0 + window_samples]
                    rows.append(
                        (
                            rid,
                            w0 // window_samples,
                            int((win * win).sum()),
                            int(np.abs(win).max()),
                            int((win[1:] * win[:-1] < 0).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "window_idx", "sum_sq", "peak", "zero_crossings"],
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)
