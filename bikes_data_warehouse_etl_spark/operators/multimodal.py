"""Multimodal column plumbing: images/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched pandas
iterators (``mapInPandas``).

The decode step itself needs codec libraries (PIL / libav) that are not
in this container — it is stubbed behind ``try``-imports with a
clearly-marked deterministic fake so the *Spark-side* contract is real
and tested: schema, partitioning, Arrow batch shapes, UDF signatures
all match what a production decode would use. Swap ``_fake_decode``
for a real decoder and nothing else changes.

Scale notes: binary payloads ride in the same parquet row groups as
their metadata — at 100 TB keep payloads under the row-group size
(~128 MB) or store pointers (path + offset) instead; ``mapInPandas``
streams Arrow batches so peak executor memory is one batch of decoded
frames, not one partition.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("features", ArrayType(DoubleType()), True),
    ]
)

try:  # real decoders, if the environment has them
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """DETERMINISTIC FAKE decode (container has no codec libs): derives
    plausible (width, height, channels) from the payload digest. A real
    deployment replaces this with PIL/av decoding; the calling contract
    is identical."""
    h = hashlib.md5(payload).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192, 1 + h[2] % 3


def _byte_histogram(payload: bytes, bins: int = 16) -> list[float]:
    """Normalized byte-value histogram — the stand-in feature vector.
    Vectorized (numpy bincount); a Python per-byte loop here dominated
    the mapInPandas stage at sf0.1."""
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return [0.0] * bins
    counts = np.bincount(arr >> 4, minlength=bins)[:bins]
    return (counts / arr.size).tolist()


def decode_media(media: DataFrame, batch_hint: int = 256) -> DataFrame:
    """Decode + feature-extract every media row via ``mapInPandas``.

    One Arrow batch in, one out; the iterator form lets Spark pipeline
    batches without materializing a whole partition of decoded frames.
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["content"].map(
                    lambda b: len(b) if b is not None else None
                ),
            }
            dims = pdf["content"].map(
                lambda b: _fake_decode(bytes(b)) if b is not None else (None,) * 3
            )
            out["width"] = dims.map(lambda t: t[0])
            out["height"] = dims.map(lambda t: t[1])
            out["channels"] = dims.map(lambda t: t[2])
            out["features"] = pdf["content"].map(
                lambda b: _byte_histogram(bytes(b)) if b is not None else None
            )
            yield pd.DataFrame(out)

    return media.mapInPandas(process, schema=DECODED_SCHEMA)


def frame_sample(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """'Video' frame sampling: split the payload into ``n_frames``
    equal byte ranges, one row per sampled frame — the explode pattern
    a real frame sampler produces (frame index + per-frame payload)."""
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("frame_idx", IntegerType(), False),
            StructField("frame_bytes", BinaryType(), True),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                b = bytes(content)
                step = max(len(b) // n_frames, 1)
                for i in range(min(n_frames, len(b))):
                    rows.append((mid, i, b[i * step : (i + 1) * step]))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_bytes"]
            )

    return media.mapInPandas(sample, schema=schema)


def resize_dims(decoded: DataFrame, target: int = 224) -> DataFrame:
    """Aspect-preserving resize *plan*: compute the output geometry that
    a real resizer (PIL ``thumbnail`` / libswscale) would produce for a
    fit-in-``target``-box resize, as pure integer arithmetic on the
    decoded metadata — the pixel transform itself stays inside the
    decode stub's contract (swap the stub for PIL and feed these dims
    to ``Image.resize``). Keeping the geometry JVM-side means the
    planner prunes/pushes it like any other column; only the pixel work
    pays the Python-worker toll.

    new_w = w·target div max(w,h) (and symmetrically h) — floor-exact,
    so the longer side lands on exactly ``target``.
    """
    # integer `div` (never float division + cast: a correctly-rounded
    # double quotient can land on the next integer and break floor parity)
    return decoded.withColumns(
        {
            "rs_width": F.expr(
                f"cast(width * {target} div greatest(width, height) as int)"
            ),
            "rs_height": F.expr(
                f"cast(height * {target} div greatest(width, height) as int)"
            ),
        }
    )


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as opaque payloads so the
    multimodal path is exercisable on the synthetic corpus."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").cast("binary").alias("content"),
        F.concat(F.lit("synthetic://doc/"), F.col("doc_id")).alias("source_uri"),
    )
