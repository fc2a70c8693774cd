"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata; decode / feature-extraction as one
``mapInArrow`` pass, one output batch per input batch.

The decode libraries (PIL/ffmpeg/librosa) are NOT in this container, so
the decode kernels are STUBBED: ``decode_image_real`` raises
``NotImplementedError`` by design; ``extract_binary_features`` is a
deterministic fake decoder whose Spark-side plumbing (schema,
partitioning, UDF signature, Arrow batch shape) is real and tested —
swap the kernel body for a real decoder on a cluster that has the libs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta", T.StructType(
            [
                T.StructField("mime", T.StringType(), False),
                T.StructField("width", T.IntegerType(), True),
                T.StructField("height", T.IntegerType(), True),
            ]
        ), False),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField("byte_mean", T.DoubleType(), False),
        T.StructField("byte_hist", T.ArrayType(T.DoubleType(), False), False),
    ]
)


def attach_media(docs: DataFrame) -> DataFrame:
    """Synthesize a deterministic binary payload per document (stands in
    for a decoded WARC image record): payload = UTF-8 bytes of the text;
    metadata typed as struct<mime,width,height>."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/x-fake").alias("mime"),
            F.pmod("doc_id", F.lit(1024)).cast("int").alias("width"),
            F.pmod("doc_id", F.lit(768)).cast("int").alias("height"),
        ).alias("meta"),
    )


def decode_image_real(media: DataFrame) -> DataFrame:
    """Real decoder entry point — intentionally unimplemented here.

    On a cluster with PIL/opencv, replace the kernel inside
    ``extract_binary_features`` with actual decode; the Spark plumbing is
    identical."""
    raise NotImplementedError(
        "image decode libraries are not available in this container; "
        "use extract_binary_features (deterministic fake kernel) or swap "
        "in a real decoder on a full cluster"
    )


def extract_binary_features(media: DataFrame, hist_bins: int = 16) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    Deterministic fake kernel: byte mean + 16-bin byte histogram (real
    decoders slot into the same mapInArrow shape). Vectorized with
    numpy.frombuffer per payload — no per-byte Python."""
    arrow_schema = to_arrow_schema(FEATURES_SCHEMA)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            rows = []
            for r in b.to_pylist():
                arr = np.frombuffer(r["payload"], dtype=np.uint8)
                hist, _ = np.histogram(arr, bins=hist_bins, range=(0, 256))
                rows.append(dict(doc_id=r["doc_id"], n_bytes=arr.size, mime=r["meta"]["mime"],
                                 byte_mean=round(float(arr.mean()) if arr.size else 0.0, 6),
                                 byte_hist=(hist / max(arr.size, 1)).round(6).tolist()))
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return media.mapInArrow(run, FEATURES_SCHEMA)
