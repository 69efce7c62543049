"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The decode step itself is STUBBED (image/audio codecs are not in this
container): ``decode_image`` raises ``NotImplementedError`` unless the
deterministic fake decoder is selected. Everything around it — schema,
batch iteration, UDF signatures — is real and tested, so swapping in
PIL/torchaudio later is a one-function change.

Scale notes: blob rows are large; ``mapInPandas`` streams Arrow batches
(never materializes a whole partition).
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)


def attach_blob_metadata(df: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Cheap JVM-side metadata: byte length + content hash (dedup key for
    binary payloads)."""
    return df.withColumn(f"{blob_col}_bytes", F.length(F.col(blob_col))).withColumn(
        f"{blob_col}_sha", F.sha2(F.col(blob_col), 256)
    )


def _fake_decode(data: bytes) -> np.ndarray:
    """Deterministic fake decoder: 8x8x3 uint8 image derived from the
    sha256 of the payload. Stands in for PIL.Image.open in tests."""
    h = hashlib.sha256(data or b"").digest()
    arr = np.frombuffer((h * 6)[: 8 * 8 * 3], dtype=np.uint8)
    return arr.reshape(8, 8, 3)


def decode_image(data: bytes, decoder: str = "real") -> np.ndarray:
    if decoder == "fake":
        return _fake_decode(data)
    raise NotImplementedError(
        "real image decoding requires PIL/opencv, not present in this "
        "container — use decoder='fake' for plumbing tests"
    )


def image_features(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    decoder: str = "fake",
    resize_to: tuple[int, int] = (4, 4),
) -> DataFrame:
    """Decode → resize → mean-pool feature extraction over binary blobs.

    Output: id, n_bytes, mean_intensity, feature vector
    (``array<float>``). Arrow-batched mapInPandas; the pandas fn is
    vectorized per batch, never per-row Python in the driver plan.
    """
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("n_bytes", T.IntegerType()),
            T.StructField("mean_intensity", T.DoubleType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for id_, data in zip(pdf[id_col], pdf[blob_col]):
                img = decode_image(bytes(data) if data is not None else b"", decoder)
                # nearest-neighbor "resize" then channel-mean pool
                h, w, _ = img.shape
                ys = np.linspace(0, h - 1, resize_to[0]).astype(int)
                xs = np.linspace(0, w - 1, resize_to[1]).astype(int)
                small = img[np.ix_(ys, xs)].astype(np.float32)
                feat = small.mean(axis=2).ravel() / 255.0
                rows.append(
                    (
                        id_,
                        len(data) if data is not None else 0,
                        float(img.mean()),
                        feat.tolist(),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[id_col, "n_bytes", "mean_intensity", "features"]
            )

    return df.select(id_col, blob_col).mapInPandas(extract, out_schema)


def frame_sample(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    n_frames: int = 4,
) -> DataFrame:
    """Video frame sampling plumbing: emits one row per sampled frame
    index with a deterministic per-frame payload hash (real codec would
    decode actual frames — same row-expansion shape). The per-frame hash
    is sha256 of payload + ASCII frame index, so an independent SQL
    engine can recompute it (cross-engine oracle-able)."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_sha", T.StringType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for id_, data in zip(pdf[id_col], pdf[blob_col]):
                payload = bytes(data) if data is not None else b""
                for i in range(n_frames):
                    rows.append(
                        (
                            id_,
                            i,
                            hashlib.sha256(payload + str(i).encode()).hexdigest(),
                        )
                    )
            yield pd.DataFrame(rows, columns=[id_col, "frame_idx", "frame_sha"])

    return df.select(id_col, blob_col).mapInPandas(sample, out_schema)
