"""Multimodal columns: opaque binary payloads + typed metadata.

North-star capability. Images/audio/video are carried as BinaryType
columns with a metadata struct; decode/feature-extraction runs as
Arrow-batched pandas iterators (`mapInPandas`) so payload bytes never
round-trip row-at-a-time through Python.

The actual codecs (PIL/librosa/ffmpeg) are NOT in this container, so
`decode_batch` is a clearly-marked stub: with `fake=True` it produces
a deterministic feature vector from the payload bytes (so the full
Spark plumbing — schema, batching, partitioning — is real and tested);
with `fake=False` it raises NotImplementedError where the codec call
would go.

Scale notes: payloads stay in executor memory one Arrow batch at a
time; `spark.sql.execution.arrow.maxRecordsPerBatch` bounds batch
size, and partition counts bound peak memory. Nothing ever collects
to the driver.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("digest", T.StringType(), True),
        T.StructField("features", T.ArrayType(T.DoubleType()), True),
    ]
)


def attach_payload(df: DataFrame, id_col: str, text_col: str, mime: str = "application/fake") -> DataFrame:
    """Build a media table from a text fixture: payload = utf-8 bytes.

    Stand-in for reading real blobs (at scale: parquet binary columns
    or `spark.read.format("binaryFile")`); keeps every downstream
    stage byte-identical to a real pipeline.
    """
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.octet_length(F.encode(F.col(text_col), "utf-8")).alias("n_bytes"),
            F.lit("fixture").alias("source"),
        ).alias("meta"),
    )


def _fake_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in feature extractor (sha256-seeded)."""
    h = hashlib.sha256(payload).digest()
    return [int.from_bytes(h[i * 4 : i * 4 + 4], "big") / 2**32 for i in range(dim)]


def decode_batch(media: DataFrame, fake: bool = True) -> DataFrame:
    """Decode/feature-extract payloads via mapInPandas (Arrow batches).

    STUB: real image/audio decode would go where `_fake_features` is
    called (e.g. PIL.Image.open(io.BytesIO(p))); those libs are absent
    here, so fake=False raises NotImplementedError by design.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real media codecs unavailable in this environment; "
                    "plug PIL/librosa/ffmpeg here"
                )
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "digest": payloads.map(lambda p: hashlib.sha256(bytes(p)).hexdigest()),
                    "features": payloads.map(lambda p: _fake_features(bytes(p))),
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
        T.StructField("n_frame_bytes", T.IntegerType(), True),
    ]
)


def resize_images(
    media: DataFrame, width: int, height: int, fake: bool = True
) -> DataFrame:
    """Image resize as an Arrow-batched binary→binary transform.

    STUB: a real pipeline calls PIL here
    (`Image.open(io.BytesIO(p)).resize((width, height))`); absent
    codecs, fake=True emits a deterministic byte slice scaled to
    width*height bytes so the schema, batch shape, and memory profile
    (output ∝ width·height, not input size) are the real thing.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_out = width * height
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real image codecs unavailable; plug PIL resize here"
                )
            payloads = pdf["payload"].map(
                lambda p: (bytes(p) * (n_out // max(len(p), 1) + 1))[:n_out]
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(run, RESIZED_SCHEMA)


def sample_frames(
    media: DataFrame,
    frame_bytes: int = 256,
    max_frames: int = 4,
    fake: bool = True,
) -> DataFrame:
    """Video frame sampling: one input row → up to max_frames output
    rows (UDTF-shaped mapInPandas — the one-to-many Arrow batch plumbing
    real frame extraction needs).

    STUB: a real pipeline seeks keyframes via ffmpeg/pyav here;
    fake=True emits deterministic fixed-size byte chunks, so frame
    counts/sizes are exactly computable by the oracle:
    n_frames = min(ceil(n_bytes / frame_bytes), max_frames).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real video codecs unavailable; plug ffmpeg frame seek here"
                )
            ids, idxs, frames, sizes = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                n = min(
                    (len(b) + frame_bytes - 1) // frame_bytes if b else 0,
                    max_frames,
                )
                for i in range(n):
                    chunk = b[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(chunk)
                    sizes.append(len(chunk))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": pd.Series(frames, dtype=object),
                    "n_frame_bytes": pd.Series(sizes, dtype="int32"),
                }
            )

    return media.mapInPandas(run, FRAME_SCHEMA)
