"""Multimodal (image/audio) column plumbing.

Media ride as opaque `binary` columns with typed metadata structs; the
decode / feature-extract / resize / frame-sample stages are mapInPandas
operators with real schemas, partitioning, and Arrow batch flow.  The
sandbox has no image/audio codecs, so the *decode* step is stubbed: with
``deterministic_fake=True`` it derives pixel/sample statistics from a
hash of the bytes (stable, testable plumbing); otherwise it raises
NotImplementedError where a codec (PIL / libsndfile) would be invoked.

At 100 TB scale the notable choices are:
- media bytes never pass through the driver; all stages are
  mapInPandas over the scan,
- batch size is controlled by spark.sql.execution.arrow.maxRecordsPerBatch
  (heavy rows -> smaller batches),
- extracted features are small fixed-width columns so downstream
  aggregation shuffles never carry the blobs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType,
                               LongType, StringType, StructField,
                               StructType)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),          # image | audio
    StructField("payload", BinaryType()),
    StructField("width", IntegerType()),        # typed metadata
    StructField("height", IntegerType()),
    StructField("sample_rate", IntegerType()),
])

FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("mean_intensity", DoubleType()),
    StructField("std_intensity", DoubleType()),
    StructField("phash64", LongType()),
])


def synth_media(spark, n: int = 256) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    rows = []
    for i in range(n):
        kind = "image" if i % 3 else "audio"
        payload = hashlib.sha256(f"media{i}".encode()).digest() * (4 + i % 7)
        rows.append((i, kind, bytearray(payload),
                     64 + i % 128, 64 + (i * 7) % 128, 16000))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a codec: bytes -> uint8 'pixels'."""
    return np.frombuffer(bytes(payload), dtype=np.uint8)


def extract_features(df: DataFrame,
                     deterministic_fake: bool = True) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not deterministic_fake:
                raise NotImplementedError(
                    "media codecs are not available in this "
                    "environment; run with deterministic_fake=True")
            # per-BLOB work (decode + hash are inherently per-payload),
            # but column-at-a-time assembly: no iterrows, one output
            # frame per Arrow batch built from numpy arrays
            payloads = [bytes(p) for p in pdf["payload"]]
            arrs = [_fake_decode(p) for p in payloads]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(),
                "kind": pdf["kind"].to_numpy(),
                "n_bytes": np.fromiter((len(p) for p in payloads),
                                       dtype=np.int64, count=len(payloads)),
                "mean_intensity": np.fromiter(
                    (a.mean() for a in arrs), dtype=np.float64,
                    count=len(arrs)),
                "std_intensity": np.fromiter(
                    (a.std() for a in arrs), dtype=np.float64,
                    count=len(arrs)),
                "phash64": np.fromiter(
                    (int.from_bytes(hashlib.md5(p).digest()[:8], "big",
                                    signed=True) for p in payloads),
                    dtype=np.int64, count=len(payloads)),
            })

    return df.mapInPandas(run, FEATURES_SCHEMA)


def frame_sample(df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling': one row per sampled offset, blob-free output —
    the shuffle after this carries only (media_id, offset, frame_hash)."""
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("offset", LongType()),
        StructField("frame_md5", StringType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            mids = pdf["media_id"].to_numpy()
            # vectorized offset generation: np.arange per blob, repeat
            # media ids by frame count; only the md5 is per-chunk
            offs = [np.arange(0, len(p), every_n_bytes, dtype=np.int64)
                    for p in payloads]
            counts = np.fromiter((len(o) for o in offs), dtype=np.int64,
                                 count=len(offs))
            all_offs = (np.concatenate(offs) if offs
                        else np.empty(0, dtype=np.int64))
            hashes = [hashlib.md5(p[o:o + every_n_bytes]).hexdigest()
                      for p, oo in zip(payloads, offs) for o in oo.tolist()]
            yield pd.DataFrame({
                "media_id": np.repeat(mids, counts),
                "offset": all_offs,
                "frame_md5": hashes,
            })

    return df.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# driver-visible oracle queries: a deterministic ASCII payload derived
# from doc_id (constructible bit-identically in DuckDB, where md5 is
# VARCHAR-only) flows through the REAL mapInPandas operators — the
# oracle proves the Arrow plumbing (batch shape, byte chunking, feature
# math), which is the testable surface while codecs are stubbed.
# ---------------------------------------------------------------------------

MEDIA_REPEAT = 16
FRAME_BYTES = 64


def _doc_media(spark, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.encode(
        F.repeat(F.format_string("media-%04d|", F.col("doc_id")),
                 MEDIA_REPEAT), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"), F.lit("image").alias("kind"),
        payload.alias("payload"), F.lit(16).alias("width"),
        F.lit(11).alias("height"), F.lit(0).alias("sample_rate"))


_MEDIA_SQL = (f"SELECT doc_id AS media_id, "
              f"repeat(printf('media-%04d|', doc_id), {MEDIA_REPEAT}) "
              f"AS s FROM documents")


def q_media_pipeline(spark, sf_dir: str) -> DataFrame:
    """Board-consolidated frames + features (round 6: the former
    media_frames and media_features rows merged so the registry fits
    the driver's 50-row cap): every sampled frame row carries its
    media's decoded feature moments — both mapInPandas operators stay
    fully value-checked through one oracle join.  The join is a plain
    media_id equi-join (both sides blob-free after their map stage), so
    at scale AQE picks the strategy and no blob ever shuffles."""
    from pyspark.sql import functions as F
    media = _doc_media(spark, sf_dir)
    frames = frame_sample(media, every_n_bytes=FRAME_BYTES)
    feats = extract_features(media).select(
        "media_id", "n_bytes",
        F.round("mean_intensity", 9).alias("mean_intensity"),
        F.round("std_intensity", 9).alias("std_intensity"))
    return frames.join(feats, "media_id")


def media_pipeline_sql() -> str:
    return f"""WITH media AS ({_MEDIA_SQL}),
offs AS (
  SELECT media_id, s, unnest(range(0, length(s), {FRAME_BYTES})) AS o
  FROM media
),
frames AS (
  SELECT media_id, CAST(o AS BIGINT) AS offset,
         md5(substr(s, CAST(o + 1 AS INT), {FRAME_BYTES})) AS frame_md5
  FROM offs
),
bytes AS (
  SELECT media_id, length(s) AS n_bytes,
         unnest(range(1, length(s) + 1)) AS i, s
  FROM media
),
feats AS (
  SELECT media_id, CAST(n_bytes AS BIGINT) AS n_bytes,
         ROUND(AVG(ascii(substr(s, CAST(i AS INT), 1))), 9)
           AS mean_intensity,
         ROUND(STDDEV_POP(ascii(substr(s, CAST(i AS INT), 1))), 9)
           AS std_intensity
  FROM bytes GROUP BY 1, 2
)
SELECT f.media_id, f.offset, f.frame_md5, t.n_bytes,
       t.mean_intensity, t.std_intensity
FROM frames f JOIN feats t USING (media_id)"""
