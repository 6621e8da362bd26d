"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, processed with Arrow-batched mapInPandas.

The container has no image/audio codecs, so the DECODE step is a
clearly-marked stub (deterministic fake features derived from the
bytes) — but everything Spark-side is real and tested: the schema, the
binary column handling, the mapInPandas batch shape, and the
partitioning story. Swapping ``_fake_decode`` for Pillow/ffmpeg is a
one-function change that does not touch the plan.

Scale design:
  * media rows are heavy (MBs) — never groupBy/shuffle the binary
    column; all feature extraction is map-only (mapInPandas), so the
    binary bytes stay in the scan stage and only the small feature
    vectors continue downstream.
  * ``spark.sql.files.maxPartitionBytes`` governs rows/task; for blob
    tables, pair with a manifest-and-pointer layout (store paths, read
    bytes inside the UDF) when blobs exceed a few MB.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kektordb_spark.dialect import hex_to_int

MEDIA_SCHEMA = (
    "media_id string, kind string, content binary, width int, height int, "
    "duration_s double, mime string"
)

FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes int, sha256 string, "
    "feature array<float>, frames_sampled int"
)

FEATURE_DIM = 16


def _fake_decode(content: bytes, kind: str) -> list[float]:
    """STUB decode/feature-extract: deterministic pseudo-features from
    the content digest. A real deployment replaces this with
    Pillow (image), soundfile (audio), or pyav frame sampling (video) —
    the Spark plumbing around it is identical."""
    digest = hashlib.sha256(content).digest()
    return [digest[i] / 255.0 for i in range(FEATURE_DIM)]


def extract_features(media: DataFrame) -> DataFrame:
    """Feature extraction over binary media rows via mapInPandas —
    Arrow batches in, Arrow batches out, no Python-per-row overhead,
    no shuffle of the binary column."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_decode(bytes(c) if c is not None else b"", k)
                for c, k in zip(pdf["content"], pdf["kind"])
            ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [len(bytes(c)) if c is not None else 0 for c in pdf["content"]],
                "sha256": [
                    hashlib.sha256(bytes(c) if c is not None else b"").hexdigest()
                    for c in pdf["content"]
                ],
                "feature": feats,
                "frames_sampled": [
                    max(1, int(d)) if k == "video" and d and d > 0 else 1
                    for d, k in zip(pdf["duration_s"], pdf["kind"])
                ],
            })

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_plan(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize planning is pure column math (no decode needed): compute
    the output geometry JVM-side; the decode+resample happens in the
    mapInPandas stage only for rows that actually need it (pre-filtered
    — predicate pushdown keeps untouched blobs out of Python)."""
    scale = F.when(
        F.greatest("width", "height") > max_side,
        max_side / F.greatest("width", "height").cast("double"),
    ).otherwise(F.lit(1.0))
    return media.select(
        "media_id", "kind", "width", "height",
        F.round(scale, 6).alias("scale"),
        F.ceil(F.col("width") * scale).cast("int").alias("out_width"),
        F.ceil(F.col("height") * scale).cast("int").alias("out_height"),
        (F.greatest("width", "height") > max_side).alias("needs_resize"),
    )


def frame_sample_plan(media: DataFrame, fps: float = 0.5) -> DataFrame:
    """Frame-sampling plan for video rows: one output row per planned
    frame timestamp (posexplode of a sequence — JVM-side), ready to
    feed the decode UDF. The explode happens on metadata only; bytes
    join back AFTER the sample plan prunes frames."""
    n = F.greatest(F.lit(1), F.floor(F.col("duration_s") * fps)).cast("int")
    return (
        media.where(F.col("kind") == "video")
        .select("media_id", "duration_s", n.alias("n_frames"))
        .select(
            "media_id",
            F.posexplode(F.expr("sequence(0, n_frames - 1)")).alias("frame_idx", "_"),
            (F.col("duration_s") / F.col("n_frames")).alias("frame_gap"),
        )
        .select(
            "media_id", "frame_idx",
            F.round(F.col("frame_idx") * F.col("frame_gap"), 3).alias("sample_ts"),
        )
    )


def synthetic_media(spark: SparkSession, n: int = 24) -> DataFrame:
    """Deterministic fixture media table (binary payloads derived from
    the row id) for tests — stands in for a real blob store scan."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        content = hashlib.sha256(f"media-{i}".encode()).digest() * (i % 5 + 1)
        rows.append((
            f"m_{i}", kind, bytearray(content),
            64 * (i % 7 + 1) if kind == "image" else None,
            48 * (i % 5 + 1) if kind == "image" else None,
            float(i % 11 + 1) if kind != "image" else None,
            {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
        ))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def media_from_documents(spark: SparkSession, mod: int = 5) -> DataFrame:
    """Derive a deterministic media table from the documents fixture:
    payload = utf-8 text bytes as the opaque binary column, kind cycling
    image/audio/video, geometry/duration from n_chars. Stands in for a
    blob-store scan so the multimodal path keys off the driver testdata."""
    return spark.sql(f"""
SELECT concat('m_', CAST(doc_id AS STRING)) AS media_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(text AS BINARY) AS content,
       CASE WHEN doc_id % 3 = 0 THEN CAST(64 + n_chars % 512 AS INT) END AS width,
       CASE WHEN doc_id % 3 = 0 THEN CAST(48 + n_chars % 384 AS INT) END AS height,
       CASE WHEN doc_id % 3 <> 0
            THEN CAST(n_chars AS DOUBLE) / 100.0 END AS duration_s,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
            WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime
FROM documents
WHERE doc_id % {mod} = 0
""".strip())


def media_features_oracle_sql(dialect: str, mod: int = 5) -> str:
    """SQL oracle for the mapInPandas feature kernel: every output of
    the stub decode is derivable from the sha256 hex digest, so the
    whole binary->feature path is checkable without Python. feat_i =
    digest_byte_i / 255."""
    h = "sha2(CAST(text AS BINARY), 256)" if dialect == "spark" else "sha256(text)"

    def byte(i: int) -> str:
        return hex_to_int(dialect, "h", 2, 2 * i + 1, ty="DOUBLE")

    def feat(i: int) -> str:
        # through float32 like the kernel's array<float> column, then
        # back to double for the rounded comparison value
        return f"round(CAST(CAST({byte(i)} / 255.0 AS FLOAT) AS DOUBLE), 6)"

    return f"""
WITH m AS (
  SELECT doc_id, {h} AS h, length(text) AS n_bytes,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         CASE WHEN doc_id % 3 <> 0 THEN n_chars / 100.0 END AS duration_s
  FROM documents WHERE doc_id % {mod} = 0
)
SELECT concat('m_', CAST(doc_id AS STRING)) AS media_id, kind,
       CAST(n_bytes AS INT) AS n_bytes, h AS sha256,
       {feat(0)} AS feat_0,
       {feat(15)} AS feat_15,
       CAST(CASE WHEN kind = 'video' AND duration_s > 0
                 THEN greatest(CAST(floor(duration_s) AS INT), 1)
                 ELSE 1 END AS INT) AS frames_sampled
FROM m
""".strip()
