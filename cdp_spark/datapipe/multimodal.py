"""Multimodal columns: images/audio/video as opaque binary + typed
metadata.

The Spark-side plumbing here is real and tested — schema, batch
iteration shape, partitioning advice — while the actual media
decoding is STUBBED (no image/audio libraries in this container):
``decode_image`` raises NotImplementedError unless ``fake=True``, in
which case a deterministic fake decoder (byte statistics standing in
for pixel statistics) exercises the full mapInPandas path with real
Arrow batches.

Schema convention for a media table:
    id long, media binary, meta struct<mime string, width int,
    height int, duration_ms long>
Large binaries: keep one row per object, size partitions by bytes
(spark.sql.files.maxPartitionBytes), and never collect the binary
column to the driver.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def with_media_meta(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Cheap metadata derivable without decoding: byte size and a
    magic-number mime sniff (JVM-side)."""
    b = F.col(media_col)
    mime = (
        F.when(F.hex(F.substring(b, 1, 3)) == "FFD8FF", F.lit("image/jpeg"))
        .when(F.hex(F.substring(b, 1, 4)) == "89504E47", F.lit("image/png"))
        .when(F.substring(b, 1, 4).cast("string") == "RIFF", F.lit("audio/wav"))
        .otherwise(F.lit("application/octet-stream"))
    )
    return df.withColumn("media_bytes", F.length(b)).withColumn("media_mime", mime)


FEATURE_SCHEMA = "id long, n_bytes long, mean_byte double, feature array<float>"


def extract_features(
    df: DataFrame,
    id_col: str = "id",
    media_col: str = "media",
    fake: bool = False,
    feature_dim: int = 8,
) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches of
    binary).  STUB: real decoding needs PIL/torchaudio etc.; with
    fake=True a deterministic byte-statistics featurizer runs the
    identical Spark plumbing (schema, batching, partition shape).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media decoding requires image/audio libraries not present "
                    "in this environment; pass fake=True for the deterministic "
                    "byte-statistics featurizer"
                )
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[media_col]):
                data = bytes(blob) if blob is not None else b""
                n = len(data)
                mean = (sum(data) / n) if n else 0.0
                feat = [
                    float(sum(data[i::feature_dim]) % 997) for i in range(feature_dim)
                ]
                rows.append((int(mid), n, mean, feat))
            yield pd.DataFrame(rows, columns=["id", "n_bytes", "mean_byte", "feature"])

    return df.select(F.col(id_col).alias(id_col), F.col(media_col)).mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


RESIZED_SCHEMA = "id long, width int, height int, pixels binary"


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "id",
    media_col: str = "media",
    fake: bool = False,
) -> DataFrame:
    """Resize to (width, height) via mapInPandas.  STUB: a real
    deployment decodes with PIL/opencv inside the same batch loop;
    with fake=True a deterministic byte resampler (stride-sampled
    bytes tiled to width*height) exercises the identical plumbing —
    binary in, fixed-size binary out, one row per image.

    Scale shape: pure map over Arrow batches, no shuffle; output rows
    are fixed-size (width*height bytes), so downstream partition
    sizing is predictable regardless of input image sizes — the
    property that matters when mixing 10 KB thumbnails and 50 MB
    scans in one table.
    """
    n_out = width * height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "image decoding requires PIL/opencv, not present in this "
                    "environment; pass fake=True for the deterministic "
                    "byte-resampling stand-in"
                )
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[media_col]):
                data = bytes(blob) if blob is not None else b""
                if data:
                    stride = max(1, len(data) // n_out)
                    sampled = data[::stride][:n_out]
                    out = (sampled * (n_out // max(1, len(sampled)) + 1))[:n_out]
                else:
                    out = bytes(n_out)
                rows.append((int(mid), width, height, out))
            yield pd.DataFrame(rows, columns=["id", "width", "height", "pixels"])

    return df.select(F.col(id_col).alias(id_col), F.col(media_col)).mapInPandas(
        run, schema=RESIZED_SCHEMA
    )
