"""Multimodal columns — binary payloads with typed metadata (SURVEY §2.10).

Images/audio/video travel as opaque `binary` columns + a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
`mapInPandas` stages. The image/audio codec libraries are NOT present in
this environment, so the decode kernels are STUBBED: `mode='fake'`
produces a deterministic hash-derived feature vector (real Spark-side
plumbing — schema, batching, partitioning — with a fake kernel);
`mode='real'` raises NotImplementedError naming the missing dependency.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 32


def attach_blob_metadata(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """Cheap JVM-side metadata: byte length, crc32, magic-byte sniff."""
    magic = F.hex(F.substring(F.col(binary_col), 1, 4))
    return (
        df.withColumn("byte_len", F.length(F.col(binary_col)))
        .withColumn("crc32", F.crc32(F.col(binary_col)))
        .withColumn(
            "sniffed_type",
            F.when(magic.startswith("89504E47"), "image/png")
            .when(magic.startswith("FFD8FF"), "image/jpeg")
            .when(magic.startswith("52494646"), "audio/wav")
            .otherwise("application/octet-stream"),
        )
    )


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real image/audio encoder: bytes ->
    unit-norm float vector derived from a keyed blake2b stream."""
    out = np.empty(dim, dtype=np.float64)
    for i in range(dim):
        d = hashlib.blake2b(payload, digest_size=8, salt=i.to_bytes(8, "little")).digest()
        out[i] = int.from_bytes(d, "little") / 2**64 - 0.5
    norm = float(np.linalg.norm(out)) or 1.0
    return [float(x) for x in out / norm]


def extract_features(
    df: DataFrame,
    binary_col: str = "payload",
    id_col: str = "blob_id",
    mode: str = "fake",
    dim: int = FEATURE_DIM,
) -> DataFrame:
    """(id, features array<double>) via mapInPandas — the batch shape a
    real encoder would use (one Arrow batch in, one out; no shuffle)."""
    if mode == "real":
        raise NotImplementedError(
            "real decode requires an image/audio codec library (e.g. Pillow/"
            "torchvision/librosa), not installed in this environment; "
            "use mode='fake' for plumbing tests"
        )
    if mode != "fake":
        raise ValueError(f"unknown mode {mode!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "features": [
                        _fake_features(bytes(p), dim) for p in pdf[binary_col]
                    ],
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.mapInPandas(run, f"{id_col} {id_type}, features array<double>")


def documents_as_blobs(documents: DataFrame) -> DataFrame:
    """Fixture adapter: text bytes as the binary payload (tests/harness)."""
    return documents.select(
        F.col("doc_id").alias("blob_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.col("source"),
    )
