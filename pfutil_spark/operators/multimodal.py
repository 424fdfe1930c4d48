"""Multimodal (image/audio/video) plumbing for training-data pipelines.

Media travels as opaque ``binary`` columns plus typed metadata; decode /
feature-extract / resize / frame-sample run as Arrow-batched pandas
functions over ``mapInPandas``. The image/audio codec libraries are NOT
in this container, so the codec step is STUBBED: with
``decoder="fake"`` (default) a deterministic fake decoder derived from
the payload's sha256 exercises the full Spark-side plumbing — schema,
partitioning, UDF signature, batch shape — and ``decoder="real"``
raises ``NotImplementedError`` until PIL/soundfile are importable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

IMAGE_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("channels", IntegerType(), True),
    StructField("mean_pixel", DoubleType(), True),
    StructField("phash", LongType(), True),
])


def _require_real_decoder(kind: str) -> None:
    try:  # pragma: no cover - codec libs absent in this container
        if kind == "image":
            import PIL.Image  # noqa: F401
        else:
            import soundfile  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            f"real {kind} decoding needs the codec libraries (not present "
            f"in this container); use decoder='fake' for pipeline tests"
        ) from e


def _fake_image_meta(payload: bytes) -> tuple[int, int, int, float, int]:
    """Deterministic pseudo-decode: metadata derived from sha256(payload).
    Same bytes => same 'image' everywhere, so joins/dedup over the fake
    features behave exactly like they would over real decode output."""
    h = hashlib.sha256(payload).digest()
    width = 64 + (h[0] % 64) * 16
    height = 64 + (h[1] % 64) * 16
    channels = 3 if h[2] % 4 else 1
    mean_pixel = h[3] / 255.0 * 255.0 / 2 + h[4] / 4.0
    phash = int.from_bytes(h[8:16], "little", signed=True)
    return width, height, channels, mean_pixel, phash


def image_features(
    df: DataFrame, payload: str = "payload", media_id: str = "media_id",
    decoder: str = "fake",
) -> DataFrame:
    """Decode + feature-extract images: (media_id, width, height, channels,
    mean_pixel, phash)."""
    if decoder == "real":
        _require_real_decoder("image")

    pruned = df.select(media_id, payload)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_fake_image_meta(bytes(b)) for b in pdf[payload]]
            out = pd.DataFrame(
                metas, columns=["width", "height", "channels", "mean_pixel", "phash"]
            )
            out.insert(0, "media_id", pdf[media_id].to_numpy())
            yield out

    return pruned.mapInPandas(fn, IMAGE_FEATURES_SCHEMA)


RESIZE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("resized", BinaryType(), True),
    StructField("out_width", IntegerType(), False),
    StructField("out_height", IntegerType(), False),
])


def resize_images(
    df: DataFrame, out_width: int, out_height: int,
    payload: str = "payload", media_id: str = "media_id", decoder: str = "fake",
) -> DataFrame:
    """Resize stub: real path requires codecs; fake path emits a
    deterministic payload of the right nominal size (sha-chain bytes)."""
    if decoder == "real":
        _require_real_decoder("image")
    pruned = df.select(media_id, payload)
    n_out = out_width * out_height

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for b in pdf[payload]:
                seed = hashlib.sha256(bytes(b)).digest()
                reps = (n_out + len(seed) - 1) // len(seed)
                blobs.append((seed * reps)[:n_out])
            yield pd.DataFrame({
                "media_id": pdf[media_id].to_numpy(),
                "resized": blobs,
                "out_width": out_width,
                "out_height": out_height,
            })

    return pruned.mapInPandas(fn, RESIZE_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_no", IntegerType(), False),
    StructField("frame_sha", StringType(), False),
])


def sample_video_frames(
    df: DataFrame, every_n: int = 10,
    payload: str = "payload", media_id: str = "media_id",
    n_frames_col: str | None = None, decoder: str = "fake",
) -> DataFrame:
    """Frame-sample stub: explodes each video into every_n-th frame rows
    (frame count from metadata column or derived deterministically).

    PURE-JVM plan (r3, VERDICT item): ``explode(sequence(...))`` for the
    frame selection and ``sha2(concat(payload, frame_no as 4 LE bytes))``
    for the frame fingerprint — no mapInPandas, no Python at all. Frame
    SELECTION never needs Python even once a real decoder (which would,
    for pixel work) is plugged in. Derived frame count without metadata:
    30 + first byte of sha256(payload), same contract as before."""
    if decoder == "real":
        _require_real_decoder("video")
    cols = [media_id, payload] + ([n_frames_col] if n_frames_col else [])
    pruned = df.select(*cols)
    if n_frames_col:
        n_frames = F.col(n_frames_col).cast("int")
    else:
        n_frames = (
            F.lit(30)
            + F.conv(F.substring(F.sha2(F.col(payload), 256), 1, 2), 16, 10).cast("int")
        )
    seq = F.when(
        n_frames > 0,
        F.sequence(F.lit(0), n_frames - F.lit(1), F.lit(int(every_n))),
    ).otherwise(F.array().cast("array<int>"))
    frames = pruned.select(
        F.col(media_id), F.col(payload), F.explode(seq).alias("frame_no")
    )
    le4 = F.unhex(
        F.format_string(
            "%02x%02x%02x%02x",
            F.pmod(F.col("frame_no"), F.lit(256)),
            F.pmod(F.shiftright(F.col("frame_no"), 8), F.lit(256)),
            F.pmod(F.shiftright(F.col("frame_no"), 16), F.lit(256)),
            F.pmod(F.shiftright(F.col("frame_no"), 24), F.lit(256)),
        )
    )
    return frames.select(
        F.col(media_id).cast("long").alias("media_id"),
        F.col("frame_no"),
        F.sha2(F.concat(F.col(payload), le4), 256).alias("frame_sha"),
    )


def synthetic_media_table(spark, n: int = 64, payload_bytes: int = 4096) -> DataFrame:
    """Deterministic fake media table (media_id, kind, payload, n_frames)
    for pipeline tests — payload is a sha-seeded byte blob."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("media_id"),
            F.element_at(
                F.array(F.lit("image"), F.lit("video"), F.lit("audio")),
                (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
            ).alias("kind"),
            F.repeat(F.unhex(F.sha2(F.col("id").cast("string"), 256)), payload_bytes // 32)
            .cast("binary")
            .alias("payload"),
            (F.pmod(F.col("id"), F.lit(5)) * 30 + 30).cast("int").alias("n_frames"),
        )
    )
