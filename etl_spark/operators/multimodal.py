"""Multimodal column plumbing: image/audio/video as opaque binary.

Design for a 100 TB media corpus:
- media rows carry `payload: binary` + typed metadata (kind, n_bytes,
  sha256); large payloads stay columnar in parquet and are never
  collected to the driver;
- decode / feature-extract run as `mapInPandas` over Arrow batches:
  each task decodes its partition's payloads vectorized, emitting a
  fixed-schema feature frame — the partitioning (and therefore the
  shuffle story) is identical to any other column op;
- the codec is REAL for images (operators/imagecodec.py — pure-stdlib
  spec-valid PNG round-trip incl. zlib pixel decode, JPEG frame-header
  parse) and REAL for audio (operators/audiocodec.py — RIFF/WAVE PCM
  round-trip incl. sample-sum decode): `synthesize_images` /
  `synthesize_audio` emit genuine bytes and `decode_image_meta` /
  `decode_audio_meta` / `decode_features` decode them back — and REAL
  for video (operators/videocodec.py — AVI/MJPEG RIFF round-trip incl.
  per-frame chunk measurement); `image_histogram` runs the REAL pixel
  decode into an intensity-histogram feature. A payload the codecs
  cannot decode raises.

The reference treats every payload as JSON text (no binary columns);
this is training-pipeline surface beyond it.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from etl_spark.operators import audiocodec, imagecodec

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video|text
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sha256", T.StringType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def media_from_text(df: DataFrame, id_col: str, text_col: str, kind: str = "text") -> DataFrame:
    """Wrap a text column as a media table (utf-8 payload bytes) —
    the sandbox stand-in for real image/audio ingestion. All metadata
    computed JVM-side."""
    from etl_spark.operators.common import spread

    df = spread(df)  # downstream mapInPandas decode is partition-bound
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("sha256"),
    )


def _image_feature(payload: bytes, dim: int) -> list[float]:
    """REAL decode feature: [width, height, channels, bit_depth,
    px_mean] (px_mean -1.0 when the format carries no scan data, i.e.
    the JPEG header-only path), zero-padded to `dim`."""
    m = imagecodec.decode_image(payload)
    px_mean = (
        m["px_sum"] / (m["width"] * m["height"])
        if m["px_sum"] is not None
        else -1.0
    )
    vals = [
        float(m["width"]),
        float(m["height"]),
        float(m["channels"]),
        float(m["bit_depth"]),
        float(px_mean),
    ]
    return (vals + [0.0] * dim)[:dim]


def decode_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Decode payloads into fixed-dim feature vectors via mapInPandas
    (Arrow-batched; one Python worker pass per partition, no per-row
    round trips) through the REAL image codec (operators/imagecodec.py)
    — payloads must be PNG/JPEG bytes (ValueError otherwise)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_image_feature(p, dim) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


HISTOGRAM_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("bin", T.IntegerType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)


def image_histogram(media: DataFrame, bins: int = 16) -> DataFrame:
    """Intensity-histogram features through the REAL PNG codec: decode
    each payload's pixel plane (operators/imagecodec.py — chunk walk,
    zlib inflate, unfilter) and bin the grayscale values, exploded to
    (media_id, bin, cnt) with empty bins omitted. mapInPandas over
    Arrow batches, numpy-vectorized binning per image — the canonical
    feature-extraction shape for a 100 TB media corpus: partition-
    parallel, fixed output schema, payloads never touch the driver."""
    if 256 % bins:
        raise ValueError("bins must divide 256")
    width = 256 // bins

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids: list[int] = []
            bns: list[int] = []
            cnts: list[int] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = np.frombuffer(
                    imagecodec.decode_png_pixels(payload), dtype=np.uint8
                )
                counts = np.bincount(px // width, minlength=bins)
                for b in np.nonzero(counts)[0]:
                    ids.append(int(mid))
                    bns.append(int(b))
                    cnts.append(int(counts[b]))
            yield pd.DataFrame({"media_id": ids, "bin": bns, "cnt": cnts})

    return media.mapInPandas(run, HISTOGRAM_SCHEMA)


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("bit_depth", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("px_sum", T.LongType(), True),
    ]
)


def synthesize_images(
    df: DataFrame, id_col: str, max_w: int = 29, max_h: int = 23
) -> DataFrame:
    """Deterministic image-media synthesis: even ids become spec-valid
    grayscale PNGs (pixel i = (id*31 + i) % 256), odd ids become
    JPEG frame headers. Dimensions are pure functions of the id
    (w = 4 + id % max_w, h = 4 + (id*7) % max_h) so a SQL oracle can
    recompute everything the decoder must recover from the bytes.
    Runs as mapInPandas — synthesis is embarrassingly parallel and
    payloads never touch the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": [],
                    "n_bytes": [], "sha256": []}
            for mid in pdf["media_id"]:
                mid = int(mid)
                w = 4 + mid % max_w
                h = 4 + (mid * 7) % max_h
                if mid % 2 == 0:
                    payload = imagecodec.encode_png(w, h, seed=mid * 31)
                else:
                    payload = imagecodec.encode_jpeg_header(w, h, channels=1)
                rows["media_id"].append(mid)
                rows["kind"].append("image")
                rows["payload"].append(payload)
                rows["n_bytes"].append(len(payload))
                rows["sha256"].append(hashlib.sha256(payload).hexdigest())
            yield pd.DataFrame(rows)

    from etl_spark.operators.common import spread

    src = spread(df.select(F.col(id_col).cast("long").alias("media_id")))
    return src.mapInPandas(run, MEDIA_SCHEMA)


def decode_image_meta(media: DataFrame) -> DataFrame:
    """REAL image decode over Arrow batches: PNG → IHDR dims + zlib
    inflate + unfilter + pixel sum; JPEG → SOF frame-header dims.
    Fixed output schema, partition-parallel, nothing on the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [imagecodec.decode_image(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [m["format"] for m in metas],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "bit_depth": [m["bit_depth"] for m in metas],
                    "channels": [m["channels"] for m in metas],
                    "px_sum": pd.array(
                        [m["px_sum"] for m in metas], dtype="Int64"
                    ),
                }
            )

    return media.mapInPandas(run, IMAGE_META_SCHEMA)


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("bit_depth", T.IntegerType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("duration_us", T.LongType(), False),
        T.StructField("sample_sum", T.LongType(), True),
    ]
)


def synthesize_audio(
    df: DataFrame, id_col: str, max_extra_samples: int = 211
) -> DataFrame:
    """Deterministic audio-media synthesis: every id becomes a
    spec-valid mono 16-bit PCM WAV (sample i = ((id*13 + 37*i) % 65536)
    - 32768). Clip length and rate are pure functions of the id
    (n = 50 + id % max_extra_samples, rate = 8000 + (id % 3) * 4000) so
    a SQL oracle can recompute everything the decoder must recover from
    the bytes, including the sample sum. mapInPandas — synthesis is
    embarrassingly parallel and payloads never touch the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": [],
                    "n_bytes": [], "sha256": []}
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 50 + mid % max_extra_samples
                rate = 8000 + (mid % 3) * 4000
                payload = audiocodec.encode_wav(n, rate, seed=mid * 13)
                rows["media_id"].append(mid)
                rows["kind"].append("audio")
                rows["payload"].append(payload)
                rows["n_bytes"].append(len(payload))
                rows["sha256"].append(hashlib.sha256(payload).hexdigest())
            yield pd.DataFrame(rows)

    from etl_spark.operators.common import spread

    src = spread(df.select(F.col(id_col).cast("long").alias("media_id")))
    return src.mapInPandas(run, MEDIA_SCHEMA)


def decode_audio_meta(media: DataFrame) -> DataFrame:
    """REAL audio decode over Arrow batches: RIFF chunk walk → fmt
    parse → PCM sample decode + sum (operators/audiocodec.py). Fixed
    output schema, partition-parallel, nothing on the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [audiocodec.decode_wav(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [m["format"] for m in metas],
                    "sample_rate": [m["sample_rate"] for m in metas],
                    "channels": [m["channels"] for m in metas],
                    "bit_depth": [m["bit_depth"] for m in metas],
                    "n_samples": [m["n_samples"] for m in metas],
                    "duration_us": [m["duration_us"] for m in metas],
                    "sample_sum": pd.array(
                        [m["sample_sum"] for m in metas], dtype="Int64"
                    ),
                }
            )

    return media.mapInPandas(run, AUDIO_META_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: expands each video row into frame
    stubs (media_id, frame_idx) without decoding — the shuffle-free
    fan-out a real sampler would feed. Decode itself is the stubbed
    step above."""
    n_frames = (F.col("n_bytes") / F.lit(1000)).cast("int") + 1  # fake duration proxy
    return media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("fps", T.IntegerType(), False),
        T.StructField("duration_us", T.LongType(), False),
        T.StructField("frames_bytes_sum", T.LongType(), False),
    ]
)


def synthesize_video(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic video-media synthesis: every id becomes a
    spec-valid AVI/MJPEG container (operators/videocodec.py) whose
    dimensions, frame count, rate, and per-frame byte lengths are pure
    functions of the id (w = 8 + id % 25, h = 6 + id*3 % 19,
    n = 5 + id % 20, fps = 10 + (id % 3) * 5, frame i length =
    100 + ((id*17 + 7*i) % 50)) — everything the decoder must recover
    is SQL-recomputable. mapInPandas, payloads never touch the driver."""
    from etl_spark.operators import videocodec
    from etl_spark.operators.common import spread

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "payload": [],
                    "n_bytes": [], "sha256": []}
            for mid in pdf["media_id"]:
                mid = int(mid)
                payload = videocodec.encode_avi_mjpeg(
                    width=8 + mid % 25,
                    height=6 + (mid * 3) % 19,
                    n_frames=5 + mid % 20,
                    fps=10 + (mid % 3) * 5,
                    seed=mid * 17,
                )
                rows["media_id"].append(mid)
                rows["kind"].append("video")
                rows["payload"].append(payload)
                rows["n_bytes"].append(len(payload))
                rows["sha256"].append(hashlib.sha256(payload).hexdigest())
            yield pd.DataFrame(rows)

    src = spread(df.select(F.col(id_col).cast("long").alias("media_id")))
    return src.mapInPandas(run, MEDIA_SCHEMA)


def decode_video_meta(media: DataFrame) -> DataFrame:
    """REAL video decode over Arrow batches: RIFF tree walk → avih
    parse → per-frame chunk count/measure → first-frame JPEG SOF
    cross-check (operators/videocodec.py). Fixed output schema,
    partition-parallel, nothing on the driver."""
    from etl_spark.operators import videocodec

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [videocodec.decode_avi(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [m["format"] for m in metas],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "n_frames": [m["n_frames"] for m in metas],
                    "fps": [m["fps"] for m in metas],
                    "duration_us": [m["duration_us"] for m in metas],
                    "frames_bytes_sum": [m["frames_bytes_sum"] for m in metas],
                }
            )

    return media.mapInPandas(run, VIDEO_META_SCHEMA)
