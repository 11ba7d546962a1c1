"""Multimodal column plumbing: opaque ``binary`` payload columns + typed
metadata, processed with Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the decode step is STUBBED
(``decode_stub`` raises NotImplementedError unless a real decoder is
injected) — but everything Spark-side is real and tested: binary column
construction, schema, partition-preserving mapInPandas feature extraction,
batch shapes, and deterministic fake features.

``multimodal_features`` is oracle-checked end-to-end: the Python batch path
computes byte length + sha256 + derived thumbnail dims, and DuckDB reproduces
them from the source text (the synthetic payload is utf-8 of ``text``).

Scale posture: mapInPandas streams Arrow batches (no per-row pickling);
payloads never hit the driver; a real deployment swaps ``fake_decode`` for a
codec call with the same batch signature.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mta_rtf_dbt_spark.registry import q
from mta_rtf_dbt_spark.sources.registry import load

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_sha256", StringType()),
        StructField("thumb_w", IntegerType()),
        StructField("thumb_h", IntegerType()),
        StructField("decode_status", StringType()),
    ]
)


def with_media_column(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata (here synthesized
    from text; in production this is the raw image/audio bytes column)."""
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.lit("image/fake").alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def decode_stub(payload: bytes) -> bytes:
    """Real decode (PIL / libsndfile / ffmpeg) is unavailable in this
    container — stub per the build contract."""
    raise NotImplementedError("media decode requires a codec library; inject one here")


def fake_decode_features(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decode+resize: derive thumbnail dims from
    the byte length (replicable in ANSI SQL for the oracle)."""
    n = len(payload)
    return (n % 64) + 16, (n % 48) + 16


def extract_features(media: DataFrame, use_real_decode: bool = False) -> DataFrame:
    """Arrow-batched feature extraction. The batch function receives pandas
    DataFrames (one per Arrow batch), computes per-payload features, and
    never materializes more than a batch per worker thread."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            dims = [
                decode_stub(p) if use_real_decode else fake_decode_features(p)
                for p in payloads
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "content_sha256": payloads.map(
                        lambda p: hashlib.sha256(p).hexdigest()
                    ),
                    "thumb_w": pd.Series([d[0] for d in dims], dtype="int32"),
                    "thumb_h": pd.Series([d[1] for d in dims], dtype="int32"),
                    "decode_status": "stub-deterministic" if not use_real_decode else "real",
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


@q(
    "multimodal_features",
    """
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha256,
           CAST((octet_length(CAST(text AS BLOB)) % 64) + 16 AS INTEGER) AS thumb_w,
           CAST((octet_length(CAST(text AS BLOB)) % 48) + 16 AS INTEGER) AS thumb_h,
           'stub-deterministic' AS decode_status
    FROM documents
    """,
)
def multimodal_features(spark, sf_dir):
    """End-to-end binary-column pipeline: synthesize payloads -> mapInPandas
    feature extraction -> typed feature rows. Oracle reproduces the features
    from the source text."""
    docs = load(spark, sf_dir, "documents")
    return extract_features(with_media_column(docs))


AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("energy", LongType()),
    ]
)

AUDIO_FRAME = 256  # samples per analysis frame


def audio_frame_energy(media: DataFrame, frame: int = AUDIO_FRAME) -> DataFrame:
    """Windowed audio energy over a PCM payload column: interpret the binary
    payload as int8 samples (the decode stub — a real deployment decodes
    FLAC/WAV to the same sample array), split into fixed ``frame``-sample
    windows, and emit each window's integer sum-of-squares. The VAD /
    silence-trim primitive of an audio pipeline. numpy-vectorized per Arrow
    batch inside mapInPandas; energies are exact integers so the per-frame
    values are deterministic and unit-recomputable."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, frames, sizes, energies = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(payload, dtype=np.int8).astype(np.int64)
                for fno in range(0, max((len(samples) + frame - 1) // frame, 1)):
                    w = samples[fno * frame : (fno + 1) * frame]
                    ids.append(doc_id)
                    frames.append(fno)
                    sizes.append(len(w))
                    energies.append(int((w * w).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_no": pd.Series(frames, dtype="int32"),
                    "n_samples": pd.Series(sizes, dtype="int32"),
                    "energy": pd.Series(energies, dtype="int64"),
                }
            )

    return media.mapInPandas(batches, AUDIO_SCHEMA)


_AUDIO_SQL = """
    WITH m AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
                      CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n
               FROM documents),
    fr AS (SELECT doc_id,
                  unnest(generate_series(0, greatest(CAST(ceil(n / 256.0) AS BIGINT) - 1, 0))) AS frame_no
           FROM m),
    byt AS (SELECT doc_id, hx, unnest(generate_series(0, n - 1)) AS i FROM m WHERE n > 0),
    vals AS (SELECT doc_id, i // 256 AS frame_no,
                    (strpos('0123456789ABCDEF', substring(hx, CAST(2*i+1 AS INTEGER), 1)) - 1) * 16
                  + (strpos('0123456789ABCDEF', substring(hx, CAST(2*i+2 AS INTEGER), 1)) - 1) AS v
             FROM byt),
    en AS (SELECT doc_id, frame_no,
                  CAST(COUNT(*) AS INTEGER) AS n_samples,
                  CAST(SUM(CASE WHEN v >= 128 THEN (v-256)*(v-256) ELSE v*v END) AS BIGINT) AS energy
           FROM vals GROUP BY 1, 2)
    SELECT f.doc_id, CAST(f.frame_no AS INTEGER) AS frame_no,
           CAST(COALESCE(e.n_samples, 0) AS INTEGER) AS n_samples,
           CAST(COALESCE(e.energy, 0) AS BIGINT) AS energy
    FROM fr f LEFT JOIN en e ON e.doc_id = f.doc_id AND e.frame_no = f.frame_no
    """


@q("multimodal_audio_energy", _AUDIO_SQL)
def multimodal_audio_energy(spark, sf_dir):
    """Frame-energy extraction over synthesized PCM payloads. Fully
    oracle-checked since r4: the payload is the utf-8 byte stream, so the
    oracle hex-decodes the BLOB (two hex chars -> signed int8 sample) and
    replays the 256-sample sum-of-squares exactly — upgrading the former
    rows-only check (energies remain python-recomputed in unit tests too)."""
    media = with_media_column(load(spark, sf_dir, "documents"))
    return audio_frame_energy(media)


@q(
    "multimodal_frame_sample",
    """
    WITH m AS (
      SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes FROM documents
    ),
    f AS (
      SELECT doc_id,
             unnest(generate_series(0, greatest(CAST(ceil(n_bytes / 32.0) AS BIGINT) - 1, 0))) AS frame_no
      FROM m
    )
    SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
           CAST(frame_no * 32 AS BIGINT) AS byte_offset
    FROM f WHERE frame_no % 4 = 0
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing: split each payload into fixed-size 'frames'
    and emit every 4th — the video-keyframe pattern with deterministic fake
    frames (Column-only: no UDF needed for byte slicing). Frame indices are
    pure integer math on the payload length, so the entry is fully
    oracle-checked (upgraded from rows-only in round 2)."""
    media = with_media_column(load(spark, sf_dir, "documents"))
    frame_size = 32
    n_frames = F.ceil(F.col("n_bytes") / frame_size).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))
    sampled = F.filter(idx, lambda i: i % 4 == 0)
    return media.select(
        "doc_id",
        F.explode(sampled).alias("frame_no"),
    ).select(
        "doc_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        (F.col("frame_no") * frame_size).cast("long").alias("byte_offset"),
    )


PNG_MAGIC_HEX = "89504E470D0A1A0A"
JPEG_MAGIC_HEX = "FFD8FF"


def synth_image_payloads(docs: DataFrame) -> DataFrame:
    """Deterministic image-container payloads built ENTIRELY JVM-side
    (binary concat of unhex'd parts — no Python): docs with doc_id % 7 == 0
    get a JPEG SOI prefix; the rest get a real PNG byte layout — 8-byte
    magic, IHDR length+tag, then width/height as 4-byte big-endian ints
    (width = 16 + doc_id % 2048, height = 16 + n_chars % 2048)."""
    w = (F.lit(16) + F.col("doc_id") % 2048).cast("long")
    h = (F.lit(16) + F.col("n_chars") % 2048).cast("long")
    be4 = lambda c: F.unhex(F.lpad(F.hex(c), 8, "0"))  # noqa: E731
    png = F.concat(
        F.unhex(F.lit(PNG_MAGIC_HEX)),
        F.unhex(F.lit("0000000D")),  # IHDR chunk length
        F.unhex(F.lit("49484452")),  # "IHDR"
        be4(w),
        be4(h),
    )
    jpeg = F.concat(F.unhex(F.lit(JPEG_MAGIC_HEX)), F.unhex(F.lit("E000104A464946")))
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, jpeg).otherwise(png).alias("payload"),
    )


def media_header_meta(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Container sniffing + dimension extraction from raw header BYTES,
    entirely in whole-stage codegen (substring on binary -> hex -> conv
    base-16) — the decode-free metadata pass a 100 TB media crawl runs
    first: no codec, no Python, no payload leaving the executors. PNG gets
    width/height from the IHDR fixed offsets (bytes 17-24); containers
    without a fixed-offset geometry (JPEG needs a marker scan) report NULL
    dims and flow to the (stubbed) deep decode stage instead."""
    p = F.col(payload_col)
    is_png = F.hex(F.substring(p, 1, 8)) == PNG_MAGIC_HEX
    is_jpeg = F.hex(F.substring(p, 1, 3)) == JPEG_MAGIC_HEX
    width = F.conv(F.hex(F.substring(p, 17, 4)), 16, 10).cast("long")
    height = F.conv(F.hex(F.substring(p, 21, 4)), 16, 10).cast("long")
    return media.select(
        "doc_id",
        F.when(is_png, F.lit("png"))
        .when(is_jpeg, F.lit("jpeg"))
        .otherwise(F.lit("unknown"))
        .alias("container"),
        F.when(is_png, width).alias("width"),
        F.when(is_png, height).alias("height"),
    )


_IMAGE_META_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN 'jpeg' ELSE 'png' END AS container,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST(16 + doc_id % 2048 AS BIGINT) END AS width,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST(16 + n_chars % 2048 AS BIGINT) END AS height
    FROM documents
    """


@q("multimodal_image_meta", _IMAGE_META_SQL)
def multimodal_image_meta(spark, sf_dir):
    """Synthesize container payloads, then parse them back — the oracle
    recomputes the expected metadata straight from the source fields, so
    the hash check proves the byte-level synth -> header-parse roundtrip
    (magic match, big-endian IHDR geometry, NULL dims for the marker-scan
    container) end to end."""
    docs = load(spark, sf_dir, "documents")
    return media_header_meta(synth_image_payloads(docs))
