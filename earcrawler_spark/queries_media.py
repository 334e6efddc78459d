"""Multimodal media pipeline as first-class registered queries.

Fully oracled since round 6: the byte decoding inside the mapInPandas
stages is not DuckDB-expressible, but every emitted column is decode
METADATA (dimensions, durations, frame counts) that DuckDB re-derives
independently from the generative header contract — so a decode
regression goes red at the gate. Feature-vector values (channel stats /
RMS / ZCR) are pinned by tests/test_multimodal.py against hand-built
arrays; query determinism by test_media_features_query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from earcrawler_spark.session import table

MEDIA_QUERIES: dict = {}
MEDIA_ORACLES: dict = {}


def _span_docs(docs: DataFrame) -> DataFrame:
    """Interleaved text+media span docs derived from the documents table:
    every doc carries its text span; 3 of 4 docs reference a media asset
    from a shared pool of 120 (so the sidecar build must de-duplicate);
    every 8th doc references a second asset."""
    d = F.col("doc_id")
    ref1 = F.concat(
        F.lit("https://bis.doc.gov/media/"), (d % 120).cast("string"), F.lit(".bin")
    )
    ref2 = F.concat(
        F.lit("https://bis.doc.gov/media/"), (d % 40 + 200).cast("string"), F.lit(".bin")
    )
    spans = F.filter(
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.when(
                d % 4 != 3,
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit("").alias("text"),
                    ref1.alias("media_ref"),
                    F.lit(1).alias("offset"),
                ),
            ),
            F.when(
                d % 8 == 0,
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit("").alias("text"),
                    ref2.alias("media_ref"),
                    F.lit(2).alias("offset"),
                ),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    return docs.select(d.cast("string").alias("doc_id"), spans.alias("spans"))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline end-to-end: span docs → de-duplicated media
    sidecar (mapInPandas synth+decode of REAL PPM/WAV/PPMV payloads,
    multimodal.py:179-228) → feature extraction (resize / RMS-ZCR /
    frame-sample, :274-343) → per-kind rollup. Scale shape: one decode
    per distinct asset regardless of fan-in; features ride Arrow
    batches; the rollup is a tiny groupBy.

    Oracled since round 6 (was the registry's one rows-only query):
    every output column is decode METADATA the Spark side obtains by
    actually parsing the binary payloads — image dimensions from the
    PPM header, sample counts/duration from the RIFF chunk, frame
    counts from the PPMV container — while the DuckDB oracle derives
    the same values independently from the generative contract
    (h = int(sha256(ref)[:8], 16) header math, multimodal.py:154-176).
    A decoder/encoder that disagrees on any header field goes red.
    The float feature VECTORS (channel stats / RMS / ZCR) remain
    pytest-pinned against hand-built arrays (tests/test_multimodal.py)
    — checksum-style literals for them would just re-run this code.
    feat_dims proves the feature stage really ran per asset (fixed
    8-wide contract, FEATURE_SCHEMA)."""
    from earcrawler_spark.multimodal import extract_features, media_table_from_spans

    docs = _span_docs(table(spark, sf_dir, "documents"))
    media = media_table_from_spans(docs)
    feats = extract_features(media)
    meta = media.select("media_id", "width", "height", "sample_rate", "duration_ms")
    return (
        feats.join(meta, "media_id")
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_frames_sampled").cast("long").alias("total_frames_sampled"),
            F.round(F.avg("thumb_w"), 2).alias("avg_thumb_w"),
            F.round(F.avg("width"), 2).alias("avg_width"),
            F.round(F.avg("height"), 2).alias("avg_height"),
            F.sum("duration_ms").cast("long").alias("total_duration_ms"),
            F.min(F.size("feature")).cast("long").alias("feat_dims"),
        )
        .orderBy("kind")
    )


def _media_features_sql() -> str:
    # h = int(sha256(media_ref)[:8], 16) as BIGINT from hex digits; all
    # header fields below are pure functions of h (multimodal.py:154-176)
    digit = "(strpos('0123456789abcdef', substr(sha, {i}, 1)) - 1)"
    hexpr = " + ".join(
        f"{digit.format(i=i)} * {16 ** (8 - i)}" for i in range(1, 9)
    )
    return f"""
WITH spans AS (
  SELECT 'https://bis.doc.gov/media/' || CAST(doc_id % 120 AS VARCHAR)
         || '.bin' AS media_ref
  FROM documents WHERE doc_id % 4 <> 3
  UNION ALL
  SELECT 'https://bis.doc.gov/media/' || CAST(doc_id % 40 + 200 AS VARCHAR)
         || '.bin'
  FROM documents WHERE doc_id % 8 = 0
), refs AS (
  SELECT DISTINCT media_ref FROM spans
), hashed AS (
  SELECT media_ref, sha256(media_ref) AS sha FROM refs
), hs AS (
  SELECT media_ref, CAST({hexpr} AS BIGINT) AS h FROM hashed
), assets AS (
  SELECT media_ref, h,
    CASE h % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    -- image: PPM header w/h; video: fixed 8x8 frames (multimodal.py:161,169)
    CASE WHEN h % 3 = 0 THEN 8 + h % 9
         WHEN h % 3 = 2 THEN 8 END AS width,
    CASE WHEN h % 3 = 0 THEN 8 + (h // 16) % 9
         WHEN h % 3 = 2 THEN 8 END AS height,
    -- audio: 160 + h % 160 PCM16 samples at 16 kHz; trunc(n*1000/16000)
    CASE WHEN h % 3 = 1 THEN (160 + h % 160) * 1000 // 16000
         WHEN h % 3 = 2 THEN (2 + h % 6) * 1000 END AS duration_ms,
    -- frame-sample stage: images 1, audio 0, video all frames (stride 1)
    CASE h % 3 WHEN 0 THEN 1 WHEN 1 THEN 0 ELSE 2 + h % 6 END AS n_frames,
    CASE WHEN h % 3 = 1 THEN NULL ELSE 32 END AS thumb_w
  FROM hs
)
SELECT kind,
       count(*) AS n_assets,
       CAST(sum(n_frames) AS BIGINT) AS total_frames_sampled,
       round(CAST(sum(thumb_w) AS DOUBLE) / count(thumb_w), 2) AS avg_thumb_w,
       round(CAST(sum(width) AS DOUBLE) / count(width), 2) AS avg_width,
       round(CAST(sum(height) AS DOUBLE) / count(height), 2) AS avg_height,
       CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms,
       CAST(8 AS BIGINT) AS feat_dims
FROM assets
GROUP BY kind
ORDER BY kind
"""


MEDIA_QUERIES["media_features"] = q_media_features
MEDIA_ORACLES["media_features"] = _media_features_sql()


def q_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sidecar BUILD stage of the multimodal pipeline, oracled: one
    row per distinct media asset with the deterministic identity + kind
    routing the mapInPandas stage uses (multimodal.py:195-228 —
    media_id = sha256(ref)[:16], kind = int(sha256(ref)[:8], 16) % 3)
    plus the span fan-in count.  Only the byte-decode stage remains
    rows-only (`media_features`).

    The kind index is JVM-native via conv(hex, 16, 10) % 3; the DuckDB
    mirror uses 16^k ≡ 1 (mod 3): the hex value mod 3 equals the sum of
    its hex digits mod 3."""
    docs = _span_docs(table(spark, sf_dir, "documents"))
    spans = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
    )
    fan_in = spans.groupBy("media_ref").agg(F.count(F.lit(1)).alias("fan_in"))
    sha = F.sha2(F.col("media_ref"), 256)
    kind_idx = F.conv(F.substring(sha, 1, 8), 16, 10).cast("long") % 3
    kind = (
        F.when(kind_idx == 0, F.lit("image"))
        .when(kind_idx == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    codec = (
        F.when(kind_idx == 0, F.lit("ppm"))
        .when(kind_idx == 1, F.lit("wav"))
        .otherwise(F.lit("ppmv"))
    )
    return fan_in.select(
        F.substring(sha, 1, 16).alias("media_id"),
        "media_ref",
        kind.alias("kind"),
        codec.alias("codec"),
        "fan_in",
    ).orderBy("media_id")


def _media_manifest_sql() -> str:
    digit = "(strpos('0123456789abcdef', substr(sha, {i}, 1)) - 1)"
    ksum = " + ".join(digit.format(i=i) for i in range(1, 9))
    return f"""
WITH spans AS (
  SELECT 'https://bis.doc.gov/media/' || CAST(doc_id % 120 AS VARCHAR)
         || '.bin' AS media_ref
  FROM documents WHERE doc_id % 4 <> 3
  UNION ALL
  SELECT 'https://bis.doc.gov/media/' || CAST(doc_id % 40 + 200 AS VARCHAR)
         || '.bin'
  FROM documents WHERE doc_id % 8 = 0
), fan AS (
  SELECT media_ref, count(*) AS fan_in FROM spans GROUP BY media_ref
), hashed AS (
  SELECT media_ref, fan_in, sha256(media_ref) AS sha FROM fan
), kinds AS (
  SELECT media_ref, fan_in, substr(sha, 1, 16) AS media_id,
         CAST(({ksum}) % 3 AS BIGINT) AS kind_idx
  FROM hashed
)
SELECT media_id, media_ref,
       CASE kind_idx WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       CASE kind_idx WHEN 0 THEN 'ppm' WHEN 1 THEN 'wav'
            ELSE 'ppmv' END AS codec,
       fan_in
FROM kinds
ORDER BY media_id
"""


MEDIA_QUERIES["media_manifest"] = q_media_manifest
MEDIA_ORACLES["media_manifest"] = _media_manifest_sql()
