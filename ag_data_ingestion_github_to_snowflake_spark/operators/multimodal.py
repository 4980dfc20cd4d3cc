"""Multimodal column support: opaque binary payloads + typed metadata.

Design (north-star "multimodal columns", BASELINE.json): media rides in
a DataFrame as an opaque ``binary`` column plus a typed metadata struct
(modality, byte size, dims, sample rate...). All *decode* work — image
decode/resize, audio feature extraction, video frame sampling — runs as
Arrow-batched pandas functions over ``mapInPandas``: the engine moves
binary blobs in columnar Arrow batches and Python touches them only
inside the batch loop.

Decode kernels come in two flavours:

- **Real** (default): pure-numpy decoders for the uncompressed formats
  — 24-bit BMP, binary PPM, PCM16 WAV — in ``operators/codecs.py``.
  Compressed formats (PNG/JPEG/MP3...) raise NotImplementedError with
  their magic named, since their codec libraries are not in this
  container.
- **Deterministic fake** (``deterministic_fake=True``): content-derived
  pseudo-features from a sha256 of the payload, kept because it has an
  exact SQL twin (the ``multimodal_image_features`` oracle) that
  verifies the Arrow/mapInPandas plumbing end-to-end in the driver's
  DuckDB differential check.

Scale notes: binary payloads dominate row size; ``mapInPandas`` with a
bounded ``spark.sql.execution.arrow.maxRecordsPerBatch`` keeps batch
memory flat, and repartitioning by a size-aware key prevents executor
OOM on skewed media sizes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ag_data_ingestion_github_to_snowflake_spark.operators import codecs

MEDIA_META = T.StructType(
    [
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mime", T.StringType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def pack_media(
    df: DataFrame,
    payload_col: str,
    modality: str,
    mime: str,
    out: str = "media",
) -> DataFrame:
    """Pack a binary payload column + metadata struct into one column.

    ``payload_col`` must already be BinaryType (e.g. F.encode for text,
    or raw bytes read from files via ``spark.read.format('binaryFile')``).
    """
    return df.withColumn(
        out,
        F.struct(
            F.col(payload_col).alias("payload"),
            F.struct(
                F.lit(modality).alias("modality"),
                F.octet_length(F.col(payload_col)).cast("long").alias("n_bytes"),
                F.lit(mime).alias("mime"),
            ).alias("meta"),
        ),
    )


def _fake_image_features(payload: bytes) -> tuple[int, int, float]:
    """Deterministic content-derived fake decode (no codec libs here)."""
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    mean_luma = round(digest[2] / 255.0, 6)
    return width, height, mean_luma


def decode_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    deterministic_fake: bool = False,
) -> DataFrame:
    """Image decode + feature extraction via mapInPandas.

    Default path REALLY decodes: BMP/PPM/PNG payloads are parsed by the
    pure-numpy codecs in ``operators/codecs.py`` and (width, height,
    mean_luma) computed from actual pixels; compressed formats raise
    NotImplementedError naming the codec. ``deterministic_fake``
    switches to the sha256-derived pseudo-decode whose exact SQL twin
    verifies the Arrow plumbing in the driver check. The Spark side
    (Arrow batches, schema, partitioning) is identical either way.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload)
                if deterministic_fake:
                    w, h, luma = _fake_image_features(data)
                else:
                    w, h, luma = codecs.image_features(data)
                rows.append((int(did), w, h, luma))
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height", "mean_luma"])

    return df.select(id_col, payload_col).mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("rms_energy", T.DoubleType()),
    ]
)


def extract_audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    deterministic_fake: bool = False,
) -> DataFrame:
    """Audio feature extraction via mapInPandas.

    Default path REALLY decodes PCM16 WAV (RIFF chunk walk, int16
    samples) and FLAC (from-scratch Rice/fixed/LPC decoder with
    CRC-8/16 + MD5 verification, ``operators/flac.py``) via
    ``operators/codecs.py`` and computes (duration, sample_rate,
    rms_energy) from actual samples; MP3/OGG raise NotImplementedError.
    ``deterministic_fake`` keeps the sha256-derived pseudo-features for
    plumbing-only tests.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload)
                if deterministic_fake:
                    digest = hashlib.sha256(data).digest()
                    duration = round(len(data) / 16000.0, 6)
                    sample_rate = (8000, 16000, 22050, 44100)[digest[0] % 4]
                    rms = round(digest[1] / 255.0, 6)
                else:
                    duration, sample_rate, rms = codecs.audio_features(data)
                rows.append((int(did), duration, sample_rate, rms))
            yield pd.DataFrame(
                rows, columns=["doc_id", "duration_s", "sample_rate", "rms_energy"]
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, AUDIO_FEATURES_SCHEMA)


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)


def image_ahash_df(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perceptual average-hash per image via mapInPandas (real decode,
    ``operators/codecs.py:ahash64``). The output column is named
    ``simhash`` so the 64-bit pigeonhole blocking in
    ``operators/dedup.py:simhash_near_pairs`` applies unchanged —
    near-duplicate IMAGES then come out of the same banded single-
    shuffle machinery as near-duplicate text. Undecodable or sub-8x8
    payloads are quarantined (row dropped), not task failures.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    rows.append((int(did), codecs.ahash64(bytes(payload))))
                except (ValueError, NotImplementedError):
                    continue  # quarantine: skip undecodable rows
            yield pd.DataFrame(rows, columns=["doc_id", "simhash"])

    return df.select(id_col, payload_col).mapInPandas(kernel, AHASH_SCHEMA)
